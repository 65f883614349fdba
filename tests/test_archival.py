"""Archival-pipeline regression tests: the reference defect fixes
(SURVEY.md §4.4 D1-D5) must hold."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from pg_archiver_spark.operators.sorts import archive_selection
from pg_archiver_spark.streaming.archival import archive_batch


def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )


def test_archive_batch_partitions_per_row(spark, tmp_path):
    """D2: rows spanning months land in their OWN partitions, not the
    batch-max partition (reference main.go:194-200 keys everything by
    the global max timestamp)."""
    rows = [
        (1, datetime(2024, 1, 10), 1, 1.0),
        (2, datetime(2024, 2, 10), 1, 1.0),
        (3, datetime(2024, 3, 10), 1, 1.0),
    ]
    df = _mk_events(spark, rows)
    archive_dir = str(tmp_path / "archive")
    archive_batch(
        {"iot_data": df},
        lambda d: F.col("ts") < F.lit("2024-04-01").cast("timestamp"),
        archive_dir,
    )
    back = spark.read.parquet(archive_dir + "/batch_id=0")
    months = sorted(r.month for r in back.select("month").distinct().collect())
    assert months == [1, 2, 3]


def test_archive_batch_ledger_is_exact_key_set(spark, tmp_path):
    """D1: the delete set == exactly the archived keys, not everything
    below the cutoff."""
    rows = [
        (1, datetime(2024, 1, 10), 1, 1.0),
        (2, datetime(2024, 1, 20), 1, 1.0),  # above cutoff: NOT archived
    ]
    df = _mk_events(spark, rows)
    ledger = archive_batch(
        {"iot_data": df},
        lambda d: F.col("ts") < F.lit("2024-01-15").cast("timestamp"),
        str(tmp_path / "archive"),
    )
    keys = sorted(r.event_id for r in ledger.collect())
    assert keys == [1]


def test_archive_batch_rerun_is_idempotent(spark, tmp_path):
    """D3: re-running the same batch id must not duplicate archive rows."""
    rows = [(1, datetime(2024, 1, 10), 1, 1.0)]
    df = _mk_events(spark, rows)
    archive_dir = str(tmp_path / "archive")
    cutoff = lambda d: F.col("ts") < F.lit("2024-02-01").cast("timestamp")  # noqa: E731
    archive_batch({"iot_data": df}, cutoff, archive_dir, batch_id=7)
    archive_batch({"iot_data": df}, cutoff, archive_dir, batch_id=7)  # retry
    back = spark.read.parquet(archive_dir + "/batch_id=7")
    assert back.count() == 1


def test_archive_keeps_timestamp_type(spark, tmp_path):
    """D5: the archive must carry a real timestamp, not an epoch int."""
    rows = [(1, datetime(2024, 1, 10), 1, 1.0)]
    df = _mk_events(spark, rows)
    archive_dir = str(tmp_path / "archive")
    archive_batch(
        {"iot_data": df},
        lambda d: F.lit(True),
        archive_dir,
    )
    back = spark.read.parquet(archive_dir + "/batch_id=0")
    assert dict(back.dtypes)["ts"].startswith("timestamp")


def test_flagship_matches_reference_shape(spark, sf_dir):
    """The flagship returns ≤100 rows below the cutoff, newest-first,
    tagged with the lineage literal (main.go:88-93,114)."""
    out = archive_selection(spark, sf_dir).collect()
    assert 0 < len(out) <= 100
    assert all(r.table_name == "iot_data" for r in out)
    ms = [r.epoch_ms for r in out]
    assert ms == sorted(ms, reverse=True)


# --- JDBC delete-behind (reference main.go:131-145, D1-fixed) ---------


class _FakeCursor:
    def __init__(self, log):
        self._log = log
        self.rowcount = 0

    def execute(self, sql, params):
        (keys,) = params
        self._log.append((sql, list(keys)))
        self.rowcount = len(keys)


class _FakeConnection:
    def __init__(self, log, state):
        self._log = log
        self._state = state

    def cursor(self):
        return _FakeCursor(self._log)

    def commit(self):
        self._state["commits"] = self._state.get("commits", 0) + 1

    def close(self):
        self._state["closed"] = True


def test_delete_kernel_deletes_exact_keys_in_chunks():
    """D1: delete EXACTLY the archived key set — chunked, one commit."""
    from pg_archiver_spark.sources.jdbc import _delete_partition_kernel

    log, state = [], {}
    n = _delete_partition_kernel(
        iter(range(8)),
        "iot_data",
        "event_id",
        lambda: _FakeConnection(log, state),
        batch_size=3,
    )
    assert n == 8
    assert [len(keys) for _, keys in log] == [3, 3, 2]
    assert sorted(k for _, keys in log for k in keys) == list(range(8))
    assert all(
        sql == "DELETE FROM iot_data WHERE event_id = ANY(%s)" for sql, _ in log
    )
    assert state == {"commits": 1, "closed": True}


def test_delete_archived_postgres_ledger_through_one_connection(spark):
    """A fragmented ``postgres``-dialect ledger spread over 4 partitions
    is deleted from the driver through one connection with one commit,
    however its factory is built: every key once, as BETWEEN ranges."""
    from pg_archiver_spark.sources.jdbc import delete_archived

    seen = {"connections": 0, "commits": 0, "keys": []}

    class Cursor:
        rowcount = 0

        def execute(self, sql, params):
            runs = list(zip(params[::2], params[1::2]))
            assert sql == "DELETE FROM iot_data WHERE " + " OR ".join(
                ["event_id BETWEEN %s AND %s"] * len(runs)
            )
            keys = [k for lo, hi in runs for k in range(lo, hi + 1)]
            seen["keys"] += keys
            self.rowcount = len(keys)

    class Conn:
        def cursor(self):
            return Cursor()

        def commit(self):
            seen["commits"] += 1

        def close(self):
            pass

    def factory():
        seen["connections"] += 1
        return Conn()

    ledger = [k for k in range(200) if k % 7 not in (3, 4)]
    keys = spark.createDataFrame([(k,) for k in ledger], "event_id long").repartition(4)
    n = delete_archived(
        spark, "iot_data", keys, key_col="event_id",
        connection_factory=factory, batch_size=16,
    )
    assert n == len(ledger)
    assert sorted(seen["keys"]) == ledger
    assert (seen["connections"], seen["commits"]) == (1, 1)


def test_delete_kernel_rejects_missing_connection():
    """A factory that yields no connection must FAIL the delete, not
    report 0 deletions that read as a successful no-op."""
    import pytest

    from pg_archiver_spark.sources.jdbc import _delete_partition_kernel

    with pytest.raises(RuntimeError, match="connection_factory returned None"):
        _delete_partition_kernel(
            iter(range(3)), "iot_data", "event_id", lambda: None, batch_size=8
        )


def test_delete_kernel_ignores_unknown_rowcount():
    """DB-API rowcount == -1 means 'unknown' and must not be summed
    into the reported delete count."""
    from pg_archiver_spark.sources.jdbc import _delete_partition_kernel

    log, state = [], {}

    class _UnknownCursor(_FakeCursor):
        def execute(self, sql, params):
            super().execute(sql, params)
            self.rowcount = -1

    class _UnknownConn(_FakeConnection):
        def cursor(self):
            return _UnknownCursor(self._log)

    n = _delete_partition_kernel(
        iter(range(5)),
        "iot_data",
        "event_id",
        lambda: _UnknownConn(log, state),
        batch_size=2,
    )
    assert n == 0
    assert sorted(k for _, keys in log for k in keys) == list(range(5))


class _FakeTable:
    """An in-memory table behind a DB-API factory: applies
    each ``standard``-dialect BETWEEN DELETE it is sent to its row set,
    so rowcounts and survivors are real."""

    def __init__(self, rows):
        self.rows = set(rows)
        self.statements = []
        self.connections = 0
        self.commits = 0

    def factory(self):
        table = self

        class Cursor:
            rowcount = -1

            def execute(self, sql, params):
                table.statements.append((sql, list(params)))
                runs = list(zip(params[::2], params[1::2]))
                hit = {r for r in table.rows if any(lo <= r <= hi for lo, hi in runs)}
                table.rows -= hit
                self.rowcount = len(hit)

        class Conn:
            def cursor(self):
                return Cursor()

            def commit(self):
                table.commits += 1

            def close(self):
                pass

        def connect():
            table.connections += 1
            return Conn()

        return connect


_RUN_CASES = {
    "contiguous": (list(range(3, 11)), [(3, 10)]),
    "fragmented": ([1, 2, 4, 5, 9, 12, 13, 14], [(1, 2), (4, 5), (9, 9), (12, 14)]),
    "duplicates": ([4, 4, 5, 5, 5, 7, 7], [(4, 5), (7, 7)]),
    "nulls": ([None, 2, None, 3, 8], [(2, 3), (8, 8)]),
    "negative": ([-5, -4, -3, -1, 0, 1], [(-5, -3), (-1, 1)]),
    "single": ([6], [(6, 6)]),
    "empty": ([], []),
    # Adjacent keys either side of a 2^20 bucket edge merge into one run.
    "bucket_edge": (
        [(1 << 20) - 2, (1 << 20) - 1, 1 << 20, (1 << 20) + 1],
        [((1 << 20) - 2, (1 << 20) + 1)],
    ),
}


def _delete_case(spark, keys, key_type="long", batch_size=1000):
    from pg_archiver_spark.sources.jdbc import delete_archived

    present = {k for k in keys if k is not None}
    table = _FakeTable(present | set(range(-8, 16)))
    ledger = spark.createDataFrame([(k,) for k in keys], f"event_id {key_type}")
    n = delete_archived(
        spark, "events", ledger, key_col="event_id",
        connection_factory=table.factory(), batch_size=batch_size, dialect="standard",
    )
    return n, table, present


@pytest.mark.parametrize("case", sorted(_RUN_CASES))
def test_delete_archived_deletes_exact_key_runs(spark, case):
    """D1 by range: integer ledgers become maximal runs of consecutive
    keys, one BETWEEN per run in one statement and one commit, and the
    rows deleted are exactly the ledger's distinct non-null keys."""
    keys, runs = _RUN_CASES[case]
    n, table, present = _delete_case(spark, keys)
    assert n == len(present)
    assert not (table.rows & present)
    assert table.rows >= set(range(-8, 16)) - present
    if not runs:
        assert (table.connections, table.statements) == (0, [])
        return
    expected_sql = 'DELETE FROM events WHERE ' + " OR ".join(
        ['"event_id" BETWEEN ? AND ?'] * len(runs)
    )
    assert table.statements == [(expected_sql, [b for run in runs for b in run])]
    assert (table.connections, table.commits) == (1, 1)


def test_delete_archived_batches_runs_per_statement(spark):
    """``batch_size`` counts runs per statement on the range path."""
    keys = [0, 2, 4, 6, 8]
    n, table, _ = _delete_case(spark, keys, key_type="int", batch_size=2)
    assert n == 5
    assert [p for _, p in table.statements] == [[0, 0, 2, 2], [4, 4, 6, 6], [8, 8]]
    assert table.commits == 1


@pytest.mark.parametrize("key_type", ["long", "string"])
def test_delete_archived_empty_ledger_opens_no_connection(spark, key_type):
    """An empty ledger spread over partitions deletes nothing and never
    opens a connection (no no-op commit)."""
    from pg_archiver_spark.sources.jdbc import delete_archived

    def factory():
        raise AssertionError("connection opened for an empty ledger")

    keys = spark.createDataFrame([], f"event_id {key_type}").repartition(3)
    assert delete_archived(
        spark, "iot_data", keys, key_col="event_id", connection_factory=factory
    ) == 0


def test_delete_archived_noop_without_database(spark):
    """Without a configured database the delete path is a clean no-op."""
    from pg_archiver_spark.sources.jdbc import delete_archived

    keys = spark.range(0, 5).select(F.col("id").alias("event_id"))
    assert delete_archived(spark, "iot_data", keys, key_col="event_id") == 0


def test_archive_sink_accepts_scheme_qualified_uri(spark, tmp_path):
    """Object-store path abstraction (reference main.go:211-241 uploads
    to S3): the sink must accept scheme-qualified URIs, so pointing it
    at s3a:// is a config change, not a code change. file:// exercises
    the same Hadoop FileSystem resolution path in this sandbox."""
    rows = [(1, datetime(2024, 1, 10), 1, 1.0), (2, datetime(2024, 2, 3), 2, 2.0)]
    df = _mk_events(spark, rows)
    archive_uri = "file://" + str(tmp_path / "uri_archive")
    ledger = archive_batch(
        {"iot_data": df},
        lambda d: F.lit(True),
        archive_uri,
    )
    assert sorted(r.event_id for r in ledger.collect()) == [1, 2]
    back = spark.read.parquet(archive_uri + "/batch_id=0")
    assert back.count() == 2
    assert sorted(r.month for r in back.select("month").collect()) == [1, 2]


def test_zscore_kernel_degenerate_groups():
    """Single-row and constant-value groups emit the 0.0 sentinel (G13:
    no nullable numerics), matching the oracle's stddev > 0 guard."""
    import pandas as pd

    from pg_archiver_spark.functions.udfs import _zscore_group

    single = pd.DataFrame({"event_id": [1], "user_id": [7], "value": [3.5]})
    assert _zscore_group(single)["zscore"].tolist() == [0.0]

    constant = pd.DataFrame(
        {"event_id": [1, 2], "user_id": [7, 7], "value": [2.0, 2.0]}
    )
    assert _zscore_group(constant)["zscore"].tolist() == [0.0, 0.0]


# --- Delete-behind proved at write time -------------------------------

from hypothesis import example, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from pg_archiver_spark.sources.jdbc import delete_archived  # noqa: E402


def _spark_jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _archive_keys(spark, keys_by_table, archive_dir):
    """``archive_batch`` over one frame per table holding ``keys``."""
    sources = {
        name: _mk_events(spark, [(k, datetime(2024, 1, 10), 1, 1.0) for k in keys])
        for name, keys in keys_by_table.items()
    }
    return archive_batch(sources, lambda d: F.lit(True), archive_dir)


def _deleted(spark, ledger, keys, table="events"):
    """Delete ``ledger`` for ``table`` from a fake table holding ``keys``
    and -8..15. Returns the deleted keys, the fake table and the number
    of Spark jobs the delete launched."""
    fake = _FakeTable(set(keys) | set(range(-8, 16)))
    before = set(fake.rows)
    jobs = _spark_jobs(spark)
    n = delete_archived(
        spark, table, ledger, key_col="event_id",
        connection_factory=fake.factory(), dialect="standard",
    )
    jobs = _spark_jobs(spark) - jobs
    assert n == len(before - fake.rows)
    return before - fake.rows, fake, jobs


_ledgers = st.one_of(
    # gaps, duplicates, negative keys and runs that cross 0
    st.lists(st.integers(-40, 40), max_size=30),
    # one run anywhere in the int64 range
    st.builds(
        lambda lo, n: list(range(lo, lo + n)),
        st.integers(-(2**63), 2**63 - 65),
        st.integers(1, 64),
    ),
)


@given(keys=_ledgers)
@example(keys=[])
@example(keys=list(range(-(1 << 14), 1 << 14)))  # span of exactly 2^15
@example(keys=list(range(-(1 << 14), (1 << 14) + 1)))  # one wider
@example(keys=[0, 1 << 15])  # equal pmod positions
@settings(max_examples=20, deadline=None)
def test_proven_runs_delete_what_key_runs_delete(spark, tmp_path_factory, keys):
    """A write proves ``[lo, hi]`` exactly when it archived each key of
    it once (span at most 2^15), and the proven run deletes the same
    set as ``_key_runs`` over the same ledger (reached through a derived
    frame, which carries no proof)."""
    ledger = _archive_keys(spark, {"events": keys}, str(tmp_path_factory.mktemp("proof")))
    distinct = set(keys)
    contiguous = len(distinct) == len(keys) and (
        not keys or max(keys) - min(keys) + 1 == len(keys) <= 1 << 15
    )
    expected = ([(min(keys), max(keys))] if keys else []) if contiguous else None
    assert ledger.proven_runs.get(("events", "event_id")) == expected
    assert ledger.archived_rows == {"events": len(keys)}

    via_proof, _, jobs = _deleted(spark, ledger, keys)
    via_runs, _, _ = _deleted(spark, ledger.where(F.lit(True)), keys)
    assert via_proof == via_runs == distinct
    if expected is not None:
        assert jobs == 0


def test_empty_slice_deletes_without_connection_or_job(spark, tmp_path):
    """Archiving nothing proves an empty ledger: the delete opens no
    connection and launches no Spark job."""
    ledger = _archive_keys(spark, {"events": []}, str(tmp_path / "archive"))
    assert ledger.proven_runs == {("events", "event_id"): []}

    def factory():
        raise AssertionError("connection opened for an empty slice")

    jobs = _spark_jobs(spark)
    assert delete_archived(
        spark, "events", ledger, key_col="event_id", connection_factory=factory
    ) == 0
    assert _spark_jobs(spark) == jobs


def test_archive_batch_proves_each_table_separately(spark, tmp_path):
    """Each table is observed on its own: a contiguous table is proven
    and deleted with one BETWEEN and no job; a fragmented one in the
    same batch falls back, and each delete takes only its own table's
    keys although the key ranges overlap."""
    ledger = _archive_keys(
        spark, {"events": [1, 2, 3, 4, 5], "logs": [3, 4, 9]}, str(tmp_path / "archive")
    )
    assert ledger.proven_runs == {("events", "event_id"): [(1, 5)]}
    assert ledger.archived_rows == {"events": 5, "logs": 3}

    events, fake, jobs = _deleted(spark, ledger, [1, 2, 3, 4, 5], "events")
    assert (events, jobs) == ({1, 2, 3, 4, 5}, 0)
    assert [p for _, p in fake.statements] == [[1, 5]]
    logs, fake, jobs = _deleted(spark, ledger, [3, 4, 9], "logs")
    assert logs == {3, 4, 9} and jobs > 0
    assert [p for _, p in fake.statements] == [[3, 4, 9, 9]]


def test_derived_ledger_takes_fallback(spark, tmp_path):
    """A frame derived from a proven ledger carries no proof: its delete
    folds its own keys into runs (Spark jobs) and deletes only them."""
    ledger = _archive_keys(spark, {"events": list(range(10))}, str(tmp_path / "archive"))
    assert ledger.proven_runs == {("events", "event_id"): [(0, 9)]}
    subset = ledger.filter(F.col("event_id") % 3 != 0)
    assert "proven_runs" not in vars(subset)
    deleted, fake, jobs = _deleted(spark, subset, range(10))
    assert deleted == {1, 2, 4, 5, 7, 8} and jobs > 0
    assert [p for _, p in fake.statements] == [[1, 2, 4, 5, 7, 8]]


_RETRY_SCRIPT = r"""
import json, os, sys

from pyspark import TaskContext
from pyspark.sql import SparkSession, functions as F

from pg_archiver_spark.sources.jdbc import delete_archived
from pg_archiver_spark.streaming.archival import archive_batch

archive, marker = sys.argv[1], sys.argv[2]
# local[2,2]: two cores, and a failed task is tried twice.
spark = (
    SparkSession.builder.master("local[2,2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    .getOrCreate()
)


@F.pandas_udf("long")
def fail_first_attempt(k):
    # Fails the first attempt of write task 0 on its last Arrow batch,
    # after the earlier batches have passed the observation.
    tc = TaskContext.get()
    if tc.partitionId() == 0 and tc.attemptNumber() == 0 and (k == 999).any():
        open(marker, "w").close()
        raise RuntimeError("injected task failure")
    return k


src = spark.range(0, 2000, numPartitions=2).select(
    fail_first_attempt("id").alias("event_id"),
    F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 3600).alias("ts"),
)
ledger = archive_batch({"events": src}, lambda d: F.lit(True), archive)


class Cursor:
    rowcount = 0

    def execute(self, sql, params):
        runs.append(list(params))


class Conn:
    def cursor(self):
        return Cursor()

    def commit(self):
        pass

    def close(self):
        pass


runs = []
delete_archived(spark, "events", ledger, key_col="event_id",
                connection_factory=Conn, dialect="standard")
back = spark.read.parquet(os.path.join(archive, "batch_id=0"))
print(json.dumps({
    "archived_rows": ledger.archived_rows,
    "proven": {t: r for (t, _), r in ledger.proven_runs.items()},
    "runs": runs,
    "rows": back.count(),
    "keys": back.select("event_id").distinct().count(),
}))
"""


def test_task_retry_counts_each_row_once(tmp_path):
    """A write task that fails once and is retried (local[2,2]) leaves
    the observed count, the proof and the delete set as without the
    failure, and the archive holds each row once."""
    import json
    import os
    import subprocess
    import sys

    marker = tmp_path / "failed-once"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])))
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, str(tmp_path / "archive"), str(marker)],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert marker.exists(), "the injected failure never ran"
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["archived_rows"] == {"events": 2000}
    assert out["proven"] == {"events": [[0, 1999]]}
    assert out["runs"] == [[0, 1999]]
    assert out["rows"] == out["keys"] == 2000
