"""Live JDBC round-trip tests against embedded Derby — the reference's
extract → archive → delete-behind loop (main.go:88-145) over a real
database connection, no monkeypatching."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pg_archiver_spark.catalog import load
from pg_archiver_spark.registry import QUERIES, load_all_operators
from pg_archiver_spark.sources import derby
from pg_archiver_spark.sources.jdbc import delete_archived, read_table

load_all_operators()


def test_source_jdbc_runs_live_jdbc_branch(spark, sf_dir):
    """With no external URL configured, source_jdbc must stage into
    embedded Derby and run the REAL jdbc read path — and its counts
    must match the same extraction over the parquet fixture."""
    row = QUERIES["source_jdbc"](spark, sf_dir).first()
    assert row.live is True  # jdbc mode on a non-fallback backend
    expected = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .first()
    )
    assert row.n_rows == expected.n_rows
    assert row.n_users == expected.n_users


def test_jdbc_read_is_range_partitioned(spark, sf_dir):
    """The JDBC scan must split into parallel range cursors, not one
    cursor (the reference's single row-at-a-time loop)."""
    url = derby.stage_events(spark, sf_dir)
    df, mode = read_table(
        spark,
        "events",
        sf_dir,
        partition_column="event_id",
        num_partitions=4,
        url=url,
        driver=derby.DERBY_DRIVER,
    )
    assert mode == "jdbc"
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == load(spark, sf_dir, "events").count()


def test_delete_behind_live_roundtrip(spark, sf_dir):
    """Chunked delete-behind against a live connection: archive the
    below-cutoff slice, delete exactly those keys, and verify
    remaining ∪ archived == source with zero overlap (D1/D3)."""
    url = derby.stage_events(spark, sf_dir)
    factory = derby.connection_factory(spark, url)
    jdbc_events = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "events")
        .option("driver", derby.DERBY_DRIVER)
        .load()
    )
    total = jdbc_events.count()
    cutoff = F.lit("2024-01-10 00:00:00").cast("timestamp")
    archived_keys = jdbc_events.filter(F.col("ts") < cutoff).select("event_id")
    n_archived = archived_keys.count()
    assert 0 < n_archived < total, "cutoff must split the fixture"

    deleted = delete_archived(
        spark,
        "events",
        archived_keys,
        key_col="event_id",
        connection_factory=factory,
        batch_size=100,
        dialect="standard",
    )
    assert deleted == n_archived

    remaining = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "events")
        .option("driver", derby.DERBY_DRIVER)
        .load()
    )
    assert remaining.count() == total - n_archived
    overlap = remaining.join(archived_keys, "event_id", "inner").count()
    assert overlap == 0

    # Idempotent retry: re-deleting the same keys is a no-op.
    assert (
        delete_archived(
            spark,
            "events",
            archived_keys,
            key_col="event_id",
            connection_factory=factory,
            batch_size=100,
            dialect="standard",
        )
        == 0
    )
    # Restore for other tests sharing the memoized staging DB.
    derby._STAGED.pop((sf_dir, "events"), None)


def _recording_factory(spark, url, statements):
    """Derby factory whose cursors log every statement they execute."""
    inner = derby.connection_factory(spark, url)

    class Cursor(derby.DerbyCursor):
        def execute(self, sql, params=None):
            statements.append(sql)
            super().execute(sql, params)

    class Conn(derby.DerbyConnection):
        def cursor(self):
            return Cursor(self._jconn)

    def factory():
        return Conn(inner()._jconn)

    return factory


def _derby_events(spark, url):
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "events")
        .option("driver", derby.DERBY_DRIVER)
        .load()
    )


def _derby_keys(spark, url):
    return sorted(r[0] for r in _derby_events(spark, url).select("event_id").collect())


def test_delete_behind_fragmented_ledger_live(spark, tmp_path):
    """Range delete-behind on a live table: keys 1..10 staged, a
    fragmented ledger {1, 2, 4, 5, 9} archived and deleted. Exactly the
    ledger goes (three BETWEEN runs in one statement); 3, 6, 7, 8 and 10
    survive."""
    from datetime import datetime

    from pg_archiver_spark.streaming.archival import archive_batch

    rows = [(k, datetime(2024, 1, k), k % 3, float(k)) for k in range(1, 11)]
    url = derby.stage_frame(
        spark,
        spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double"),
        "events",
    )
    ledger = archive_batch(
        {"events": _derby_events(spark, url)}, lambda d: d.event_id.isin(1, 2, 4, 5, 9), str(tmp_path / "archive")
    )
    statements = []
    deleted = delete_archived(
        spark, "events", ledger, key_col="event_id",
        connection_factory=_recording_factory(spark, url, statements),
        dialect="standard",
    )
    assert deleted == 5
    assert _derby_keys(spark, url) == [3, 6, 7, 8, 10]
    assert statements == [
        'DELETE FROM events WHERE "event_id" BETWEEN ? AND ?'
        ' OR "event_id" BETWEEN ? AND ? OR "event_id" BETWEEN ? AND ?'
    ]


def test_delete_behind_string_keys_live(spark):
    """String keys have no integer runs: the live delete keeps the
    key-list IN form and still deletes exactly the ledger."""
    # Spark writes strings to Derby as CLOB, which has no equality, so
    # the table is created with a VARCHAR key over plain JDBC.
    url = f"jdbc:derby:memory:pgarch_strkeys_{os.getpid()}"
    conn = spark._jvm.java.sql.DriverManager.getConnection(f"{url};create=true")
    try:
        st = conn.createStatement()
        st.executeUpdate('CREATE TABLE events ("event_id" VARCHAR(8))')
        st.executeUpdate(
            "INSERT INTO events VALUES " + ",".join(f"('k{i}')" for i in range(6))
        )
    finally:
        conn.close()
    ledger = spark.createDataFrame([("k1",), ("k2",), ("k4",)], "event_id string")
    statements = []
    deleted = delete_archived(
        spark, "events", ledger, key_col="event_id",
        connection_factory=_recording_factory(spark, url, statements),
        dialect="standard",
    )
    assert deleted == 3
    assert _derby_keys(spark, url) == ["k0", "k3", "k5"]
    assert statements == ['DELETE FROM events WHERE "event_id" IN (?,?,?)']


def _stage_keys(spark, keys):
    from datetime import datetime

    rows = [(k, datetime(2024, 1, 1 + k % 28), k % 3, float(k)) for k in keys]
    return derby.stage_frame(
        spark,
        spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double"),
        "events",
    )


def test_read_table_empty_source_live(spark):
    """A fully archived (empty) table has NULL bounds: read_table reads
    it through one cursor instead of failing on a "None" bound, and
    probing the bounds launches no Spark job."""
    url = _stage_keys(spark, [])
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = dag.numTotalJobs()
    df, mode = read_table(
        spark, "events", "", partition_column="event_id", num_partitions=4,
        url=url, driver=derby.DERBY_DRIVER,
    )
    assert dag.numTotalJobs() == jobs
    assert mode == "jdbc"
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 0


def test_read_table_bounds_launch_no_job_live(spark):
    """The MIN/MAX probe runs over a driver-side connection: range
    partitioning a live table launches no Spark job."""
    url = _stage_keys(spark, range(1, 41))
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = dag.numTotalJobs()
    df, _ = read_table(
        spark, "events", "", partition_column="event_id", num_partitions=4,
        url=url, driver=derby.DERBY_DRIVER,
    )
    assert dag.numTotalJobs() == jobs
    assert df.rdd.getNumPartitions() == 4
    assert sorted(r[0] for r in df.select("event_id").collect()) == list(range(1, 41))


def test_read_table_cursors_default_to_the_session_parallelism(spark):
    """With no ``num_partitions``, a range-partitioned read opens one
    cursor per core of the session."""
    url = _stage_keys(spark, range(1, 41))
    df, _ = read_table(
        spark, "events", "", partition_column="event_id", url=url, driver=derby.DERBY_DRIVER,
    )
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_delete_behind_only_its_table_live(spark, tmp_path):
    """A two-table ledger {events: 1, 2; logs: 7, 8} deletes only the
    events rows tagged in it from the live events table (keys 1..10),
    on the proven path and on the fallback (a derived frame)."""
    from datetime import datetime

    from pg_archiver_spark.streaming.archival import archive_batch

    logs = spark.createDataFrame(
        [(k, datetime(2024, 1, 1), 0, 0.0) for k in (7, 8)],
        "event_id long, ts timestamp, user_id long, value double",
    )
    for n, derive in enumerate([lambda d: d, lambda d: d.where(F.lit(True))]):
        url = _stage_keys(spark, range(1, 11))
        ledger = archive_batch(
            {
                "events": _derby_events(spark, url).where(F.col("event_id") <= 2),
                "logs": logs,
            },
            lambda d: F.lit(True),
            str(tmp_path / f"archive{n}"),
        )
        statements = []
        deleted = delete_archived(
            spark, "events", derive(ledger), key_col="event_id",
            connection_factory=_recording_factory(spark, url, statements),
            dialect="standard",
        )
        assert deleted == 2
        assert _derby_keys(spark, url) == list(range(3, 11))
        assert statements == ['DELETE FROM events WHERE "event_id" BETWEEN ? AND ?']


def _sql(spark, url, sql):
    """Run one statement over a fresh autocommit connection; the first
    column of a query's first row, else None."""
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        if st.execute(sql):
            rs = st.getResultSet()
            rs.next()
            return rs.getObject(1)
        return None
    finally:
        conn.close()


def test_failed_delete_rolls_back_live(spark):
    """A delete is all or nothing: when the second of two one-run
    statements fails, its own error surfaces (not Derby's refusal to
    close over an open transaction), all 10 rows stay, the table reads
    at once (a leaked row lock would time out after 1 s) and a later
    delete works."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from pg_archiver_spark.sources.jdbc import _delete_partition_kernel, _range_statement

    url = _stage_keys(spark, range(1, 11))
    _sql(spark, url, "CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY('derby.locks.waitTimeout', '1')")
    calls = []

    def second_fails(runs, table, key_col, dialect):
        calls.append(runs)
        return _range_statement(runs, "no_such_table" if len(calls) == 2 else table, key_col, dialect)

    factory = derby.connection_factory(spark, url)
    with pytest.raises(Py4JJavaError, match="SQLSyntaxErrorException"):
        _delete_partition_kernel(
            [(1, 2), (5, 6)], "events", "event_id", factory, batch_size=1,
            dialect="standard", statement=second_fails,
        )
    assert len(calls) == 2
    assert _sql(spark, url, "SELECT COUNT(*) FROM events") == 10
    assert _delete_partition_kernel(
        [(1, 2), (5, 6)], "events", "event_id", factory, batch_size=1,
        dialect="standard", statement=_range_statement,
    ) == 4
    assert _derby_keys(spark, url) == [3, 4, 7, 8, 9, 10]


def test_jdbc_poll_loop_partitions_arrivals(spark, sf_dir):
    """Two polls around a live JDBC append must partition the fixture:
    first poll sees the staged half, second poll exactly the appended
    rows (the op itself raises on loss/duplication)."""
    rows = {r.poll: r for r in QUERIES["source_jdbc_poll"](spark, sf_dir).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].n_new_rows > 0 and rows[2].n_new_rows > 0
    assert rows[2].watermark > rows[1].watermark
