"""JDBC source — the reference's Postgres extraction (A1, main.go:88-121),
Spark-native.

The reference opens one connection and walks a cursor row-at-a-time
(main.go:108-121). Spark's JDBC source replaces that with partitioned
parallel reads plus pushdown: the projection, the cutoff predicate, and
the limit all execute inside the remote database — exactly what the
reference achieves by writing its SQL string by hand, but across
``numPartitions`` concurrent range-split cursors.

No external database ships in this harness, but Spark's own classpath
carries embedded Apache Derby — so when no URL is configured,
``source_jdbc`` stages the fixture into `jdbc:derby:memory:` and the
real JDBC branch (pushdown, range-partitioned cursors, live
delete-behind) still executes (see sources/derby.py); a failed staging
raises.

Range partitions are bounded by one ``MIN``/``MAX`` query over a
driver-side ``java.sql`` connection, not by a Spark job; an empty table
is read through a single cursor.

Delete-behind (``delete_archived``) runs on the driver over one
connection and commits once, like the reference's delete loop
(main.go:131-145). Integer keys are deleted by range, one
``k BETWEEN lo AND hi`` per run of consecutive keys. A ledger returned
by ``archive_batch`` carries the runs its write proved (its observed
keys were exactly ``[lo, hi]``, or there were none); those are deleted
with no ledger scan and no Spark job. Any other integer ledger
(fragmented, duplicated, spanning 2^15 keys or more, or a frame derived
from the ledger) is folded into runs inside the JVM (``_key_runs``) and
streamed to the driver one partition at a time. Key types without
integer runs keep the key-list form, ``k = ANY(keys)`` or
``k IN (?, ..)``.
"""

from __future__ import annotations

import os
from itertools import islice
from operator import itemgetter

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from pg_archiver_spark.catalog import load
from pg_archiver_spark.registry import register
from pg_archiver_spark.sources import derby

# Standard PG JDBC env configuration; unset in this harness.
_URL_ENV = "PG_ARCHIVER_JDBC_URL"


def read_table(
    spark: SparkSession,
    table: str,
    sf_dir: str,
    partition_column: str | None = None,
    num_partitions: int | None = None,
    url: str | None = None,
    driver: str | None = None,
) -> tuple[DataFrame, str]:
    """Read one source table via JDBC when configured, else parquet.

    JDBC path mirrors the reference's extraction contract with pushdown
    enabled and, when a numeric partition column is given, range-split
    parallel cursors (the scale replacement for the single cursor loop),
    by default one per core (``defaultParallelism``).
    lowerBound/upperBound come from one ``MIN``/``MAX`` query over a
    driver-side ``java.sql`` connection (``_column_bounds``), so
    bounding the partitions launches no Spark job. An empty table has
    NULL bounds and is read through one cursor with no range options.
    Identifiers in the probe are double-quoted (SQL standard): Spark's
    JDBC writer quote-creates columns, so unquoted names resolve in
    Postgres but not in case-sensitive engines like Derby.
    """
    url = url or os.environ.get(_URL_ENV)
    if not url:
        return load(spark, sf_dir, table), "parquet-fallback"

    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("pushDownPredicate", "true")
        .option("pushDownLimit", "true")
    )
    if driver:
        reader = reader.option("driver", driver)
    if partition_column:
        lo, hi = _column_bounds(spark, url, driver, table, partition_column)
        if lo is not None:
            reader = (
                reader.option("partitionColumn", partition_column)
                .option("lowerBound", str(lo))
                .option("upperBound", str(hi))
                .option("numPartitions", str(num_partitions or spark.sparkContext.defaultParallelism))
            )
    return reader.load(), "jdbc"


def _column_bounds(spark: SparkSession, url: str, driver: str | None, table: str, column: str):
    """``(MIN, MAX)`` of ``column`` over one driver-side ``java.sql``
    connection; ``(None, None)`` for an empty table."""
    jvm = spark._jvm
    if driver:
        # Spark's JDBC source registers its driver class the same way,
        # which makes a driver jar shipped with the application visible
        # to DriverManager.
        jvm.org.apache.spark.sql.execution.datasources.jdbc.DriverRegistry.register(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = conn.createStatement().executeQuery(
            f'SELECT MIN("{column}"), MAX("{column}") FROM {table}'
        )
        rs.next()
        return rs.getObject(1), rs.getObject(2)
    finally:
        conn.close()


def url_backend(spark: SparkSession, url: str):
    """``(connection_factory, dialect, driver)`` for a JDBC URL, chosen
    by its scheme: embedded Derby deletes over ``java.sql`` in the
    standard dialect, Postgres through psycopg2."""
    if url.startswith("jdbc:derby:"):
        return derby.connection_factory(spark, url), "standard", derby.DERBY_DRIVER
    if url.startswith("jdbc:postgresql:"):
        import psycopg2  # noqa: F401, PLC0415 — fail before archiving, not at the delete
        return _default_connection_factory, "postgres", None
    raise ValueError(f"{_URL_ENV}={url!r}: expected a jdbc:derby: or jdbc:postgresql: URL")


def _default_connection_factory():
    """psycopg2 connection to the configured URL. Reached only when the
    URL is set, so a missing psycopg2 fails here, loudly."""
    import psycopg2  # noqa: PLC0415 — optional, absent in harness

    # JDBC-style URL → DSN accepted by psycopg2 (postgresql://...).
    return psycopg2.connect(os.environ[_URL_ENV].removeprefix("jdbc:"))


def _key_list_statement(keys, table: str, key_col: str, dialect: str):
    """One DELETE for a chunk of keys. ``postgres``: one array bind;
    ``standard``: positional binds and a quoted identifier, for engines
    without array parameters (Derby)."""
    if dialect == "postgres":
        return f"DELETE FROM {table} WHERE {key_col} = ANY(%s)", (keys,)
    placeholders = ",".join("?" * len(keys))
    return f'DELETE FROM {table} WHERE "{key_col}" IN ({placeholders})', keys


def _range_statement(runs, table: str, key_col: str, dialect: str):
    """One DELETE for a chunk of ``(lo, hi)`` key runs, one
    ``BETWEEN`` per run joined by ``OR``."""
    if dialect == "postgres":
        between = f"{key_col} BETWEEN %s AND %s"
    else:
        between = f'"{key_col}" BETWEEN ? AND ?'
    where = " OR ".join([between] * len(runs))
    return f"DELETE FROM {table} WHERE {where}", [b for run in runs for b in run]


def _delete_partition_kernel(
    items,
    table: str,
    key_col: str,
    connection_factory,
    batch_size: int,
    dialect: str = "postgres",
    statement=_key_list_statement,
) -> int:
    """Delete a table's ledger over one fresh connection, in one
    transaction.

    ``items`` are keys (``_key_list_statement``) or ``(lo, hi)`` key
    runs (``_range_statement``), sent ``batch_size`` per statement — one
    round-trip per chunk, where the reference's loop is row-at-a-time
    (main.go:131-145) — and committed once, so a failed statement
    leaves every row in place and a rerun re-deletes idempotently.
    Opens no connection when ``items`` is empty.
    """
    it = iter(items)
    batch = list(islice(it, batch_size))
    if not batch:
        return 0
    conn = connection_factory()
    if conn is None:
        # Returning 0 would read as a successful no-op delete: fail so
        # the delete-behind contract is never silently skipped.
        raise RuntimeError("delete-behind: connection_factory returned None")
    deleted = 0
    try:
        cur = conn.cursor()
        while batch:
            cur.execute(*statement(batch, table, key_col, dialect))
            # DB-API allows rowcount == -1 ("unknown"); only positive
            # counts are real deletions.
            if cur.rowcount and cur.rowcount > 0:
                deleted += cur.rowcount
            batch = list(islice(it, batch_size))
        conn.commit()
    finally:
        conn.close()
    return deleted


# Key runs are found per bucket of 2^20 consecutive key values, so the
# window sorts one bucket per task instead of every key in one task.
_RUN_BUCKET_BITS = 20


def _key_runs(keys: DataFrame) -> DataFrame:
    """Maximal runs of consecutive integers in a one-column key frame,
    as ``(lo, hi)`` rows: gaps-and-islands, ``k - dense_rank()`` grouped
    to ``min``/``max``. Null keys are dropped (``IN`` never matches
    them either) and duplicates share a rank. The window is partitioned
    by key bucket (``k >> 20``) and the rank is taken from the in-bucket
    offset (``k & (2^20 - 1)``) rather than from ``k``, so nothing
    overflows at the int64 edges; a run that crosses a bucket edge comes
    back as two adjacent runs."""
    k = F.col(keys.columns[0]).cast("long")
    bucketed = (
        keys.select(k.alias("k"))
        .where(F.col("k").isNotNull())
        .withColumn("b", F.shiftright("k", _RUN_BUCKET_BITS))
    )
    offset = F.col("k").bitwiseAND(F.lit((1 << _RUN_BUCKET_BITS) - 1))
    rank = F.dense_rank().over(Window.partitionBy("b").orderBy("k"))
    return (
        bucketed.withColumn("g", offset - rank)
        .groupBy("b", "g")
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .select("lo", "hi")
    )


def _merge_runs(runs):
    """Join the abutting runs (split at a bucket edge) of runs sorted by
    ``lo``, holding one run at a time."""
    run = None
    for lo, hi in runs:
        if run is None:
            run = (lo, hi)
        elif lo == run[1] + 1:
            run = (run[0], hi)
        else:
            yield run
            run = (lo, hi)
    if run is not None:
        yield run


def delete_archived(
    spark: SparkSession,
    table: str,
    key_df: DataFrame,
    key_col: str = "id",
    connection_factory=None,
    batch_size: int = 1000,
    dialect: str = "postgres",
) -> int:
    """Delete-behind (reference A13, main.go:131-145) — D1-fixed contract.

    The reference deletes everything below the cutoff even though it
    archived at most 100 rows; the correct contract is to delete EXACTLY
    the archived keys. A ledger with a ``table_name`` column (what
    ``archive_batch`` returns) may hold several tables; only the rows
    tagged ``table`` are deleted.

    The delete runs on the driver over one connection from
    ``connection_factory``, ``batch_size`` items per statement, and
    commits once, for every factory and dialect. Integer keys are
    deleted by range, ``k BETWEEN lo AND hi`` per run of consecutive
    keys; a run holds only ledger keys, so the range deletes exactly
    what ``k IN (keys)`` would. The items, from the first source that
    applies:

    - proven at write time: ``key_df`` is a ledger ``archive_batch``
      returned and its ``proven_runs`` holds ``(table, key_col)``,
      because the write observed exactly the keys ``[lo, hi]`` (or
      none). No ledger scan and no Spark job.
    - integer keys otherwise (fragmented or duplicated keys, a span of
      2^15 keys or more, a frame derived from the ledger, any other
      frame): maximal runs from one JVM aggregate (``_key_runs``),
      sorted and streamed one partition at a time, runs split at a
      bucket edge joined on the way.
    - other key types: the keys, streamed one partition at a time, in
      the key-list form ``k = ANY(keys)`` / ``k IN (?, ..)``.

    The driver holds at most one partition of runs or keys. No
    connection is opened for an empty ledger.

    Returns the number of deleted rows; 0 (no-op) when no database is
    configured, so the suite stays green without one.
    """
    if connection_factory is None:
        if not os.environ.get(_URL_ENV):
            return 0
        connection_factory = _default_connection_factory

    statement = _range_statement
    items = vars(key_df).get("proven_runs", {}).get((table, key_col))
    if items is None:
        if "table_name" in key_df.columns:
            key_df = key_df.where(F.col("table_name") == table)
        keys = key_df.select(F.col(key_col))
        if isinstance(keys.schema[0].dataType, IntegralType):
            items = _merge_runs(_key_runs(keys).orderBy("lo").toLocalIterator())
        else:
            statement = _key_list_statement
            items = map(itemgetter(0), keys.toLocalIterator())
    return _delete_partition_kernel(
        items, table, key_col, connection_factory, batch_size, dialect, statement,
    )


@register(
    "source_jdbc",
    # Round-8 conversion (rows-only → sql-checked): the round-trip
    # counts are deterministic — staging events into Derby and reading
    # them back through range-partitioned JDBC cursors must preserve
    # every row, so the extracted profile equals the same profile on
    # the parquet source. `live` pins that a real database path ran:
    # Derby ships in Spark's own classpath, so a failed staging raises
    # instead of degrading to the parquet source.
    oracle="""
    SELECT TRUE AS live,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
    """,
)
def source_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC round-trip profile over a LIVE database in every
    environment: an external one when PG_ARCHIVER_JDBC_URL is set, else
    the events fixture staged into embedded in-memory Derby (shipped in
    Spark's own classpath) — so the real ``spark.read.format("jdbc")``
    branch with range-partitioned parallel cursors executes (reference
    extraction main.go:88-121), not the parquet stand-in. A failed
    staging raises."""
    url = os.environ.get(_URL_ENV)
    driver = None
    if not url:
        url = derby.stage_events(spark, sf_dir)
        driver = derby.DERBY_DRIVER
    df, mode = read_table(
        spark,
        "events",
        sf_dir,
        partition_column="event_id",
        url=url,
        driver=driver,
    )
    extracted = df.filter(
        F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp")
    )
    return extracted.agg(
        F.lit(mode == "jdbc").alias("live"),
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "source_jdbc_poll",
    # Round-8 conversion (rows-only → sql-checked): both polls are
    # deterministic functions of the fixture. Poll 1 sees the staged
    # first half (event_id < total//2); poll 2 sees exactly the
    # appended second half, because the watermark after poll 1 is
    # MAX(event_id < mid) and no fixture id falls in (wm1, mid). The
    # oracle restates that partition relationally; a poll loop that
    # lost or duplicated rows (or a watermark predicate that failed to
    # push down correctly) hash-fails.
    oracle="""
    WITH t AS (SELECT COUNT(*) // 2 AS mid FROM events),
    p1 AS (
        SELECT COUNT(*) AS n, MAX(event_id) AS wm
        FROM events WHERE event_id < (SELECT mid FROM t)
    )
    SELECT CAST(1 AS BIGINT) AS poll,
           CAST(n AS BIGINT) AS n_new_rows,
           CAST(wm AS BIGINT) AS watermark
    FROM p1
    UNION ALL
    SELECT CAST(2 AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           CAST(MAX(event_id) AS BIGINT)
    FROM events WHERE event_id > (SELECT wm FROM p1)
    """,
)
def source_jdbc_poll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental poll-loop extraction keyed on a monotonically
    increasing id — the Spark-side stand-in for the reference's
    documented-but-unimplemented NOTIFY/LISTEN trigger (README.md:124).
    LISTEN wakes the archiver when rows land; polling
    ``WHERE id > last_watermark`` gives the same incremental contract
    without holding a server connection open, and the predicate pushes
    down so each poll reads ONLY the new rows (at 100 TB/day ingest the
    poll cost is O(new rows), never a rescan).

    Runs against a LIVE embedded Derby database: stages the first half
    of the events fixture, polls, appends the second half (a real JDBC
    INSERT round-trip — the "new data arrived" event), polls again, and
    asserts exactly-once coverage: the two polls partition the full
    fixture with no overlap (raises RuntimeError otherwise, like
    stream_progress_metrics). Returns one row per poll."""
    events = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    total = events.count()
    mid = total // 2
    first = events.filter(F.col("event_id") < mid)
    second = events.filter(F.col("event_id") >= mid)

    url = derby.stage_frame(spark, first, "events")

    def poll(watermark: int):
        df = (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", "events")
            .option("driver", derby.DERBY_DRIVER)
            .option("pushDownPredicate", "true")
            .load()
            .filter(F.col("event_id") > watermark)
        )
        row = df.agg(
            F.count("*").alias("n"), F.max("event_id").alias("wm")
        ).first()
        # Bounded driver scalar — the poll watermark, not a data collect.
        return int(row["n"]), (int(row["wm"]) if row["wm"] is not None else watermark)

    n1, wm1 = poll(-1)
    (
        second.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "events")
        .option("driver", derby.DERBY_DRIVER)
        .mode("append")
        .save()
    )
    n2, wm2 = poll(wm1)
    if n1 + n2 != total:
        raise RuntimeError(
            f"poll loop lost or duplicated rows: {n1}+{n2} != {total}"
        )
    return spark.createDataFrame(
        [(1, n1, wm1), (2, n2, wm2)],
        "poll long, n_new_rows long, watermark long",
    )
