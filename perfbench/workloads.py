"""The benchmark's workloads.

Each workload is one closed-loop client: it issues an operation, waits
for the complete result, checks it, and only then issues the next.

- ``archive_cycle``: the reference's batch archival run against embedded
  Derby — JDBC read, partitioned Parquet archive, delete-behind.
- ``registry_mix``: registry queries — read-only analytics from
  ``operators.*``, LLM-curation queries from ``functions.*`` and
  streaming queries from ``streaming.*``.

Imported only after ``run.py`` has pinned the environment.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import sys
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

import gen
from spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import __spark_entry__ as entry  # noqa: E402
from check import _oracle_rows_pandas, frame_fingerprint  # noqa: E402
from pg_archiver_spark.catalog import TABLES  # noqa: E402
from pg_archiver_spark.sources import derby, jdbc  # noqa: E402
from pg_archiver_spark.streaming import archival  # noqa: E402


@dataclass
class OpResult:
    name: str
    layer: str
    ok: bool
    input_rows: int
    info: dict = field(default_factory=dict)


def _module_layer(fn) -> str:
    return fn.__module__.removeprefix("pg_archiver_spark.")


class RegistryWorkload:
    """Registry queries drawn in a seeded order, each pass a fresh
    permutation of the fixed op list; every result is fingerprinted
    against its DuckDB oracle computed before timing.

    ``ops`` pairs each query name with the scale factor it runs at; the
    tables for every scale factor in the mix are generated from the seed.
    """

    def __init__(self, name: str, ops: list[tuple[str, float]]) -> None:
        self.name = name
        self.ops = [n for n, _ in ops]
        self.sf = dict(ops)
        self.op_names = set(self.ops)
        self.queries = entry.queries()
        missing = [n for n in self.ops if n not in self.queries or n not in entry.oracle_sql()]
        if missing:
            raise KeyError(f"{name}: ops not registered with an oracle: {missing}")

    def generate(self, seed: int, work: str) -> None:
        self.sf_dirs, self.counts = {}, {}
        for sf in sorted(set(self.sf.values())):
            self.sf_dirs[sf] = os.path.join(work, f"data-sf{sf}")
            self.counts[sf] = gen.generate(seed, sf, self.sf_dirs[sf])
        # Streaming queries keep their checkpoints and staging files under
        # this root; point it inside the run's work directory.
        archival._WORK_ROOT = os.path.join(work, "stream")

    def _dir(self, name: str) -> str:
        return self.sf_dirs[self.sf[name]]

    def stage(self, spark, tracer: Tracer) -> int:
        return 0  # registry queries read the generated Parquet directly

    # The first pass is cold (class loading, codegen); the JIT keeps
    # speeding ops up through the second, so timing starts after it.
    WARMUP_PASSES = 2

    def warmup(self, spark) -> None:
        """Passes over every op on the real inputs, so class loading,
        codegen caches and the JIT are warm before timing."""
        for _ in range(self.WARMUP_PASSES):
            for name in self.ops:
                spark.catalog.clearCache()
                self.queries[name](spark, self._dir(name)).collect()

    def prepare_checks(self) -> None:
        import duckdb

        oracles = entry.oracle_sql()
        self.expected, self.input_rows = {}, {}
        for sf, sf_dir in self.sf_dirs.items():
            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
            for name in (n for n in self.ops if self.sf[n] == sf):
                cols, rows = _oracle_rows_pandas(con.execute(oracles[name]))
                self.expected[name] = frame_fingerprint(cols, rows)
                used = {t for t in TABLES if re.search(rf"\b{t}\b", oracles[name])}
                self.input_rows[name] = sum(self.counts[sf][t] for t in used)
            con.close()

    def exhausted(self) -> bool:
        return False

    def schedule(self, rng: np.random.Generator):
        while True:
            yield from (self.ops[i] for i in rng.permutation(len(self.ops)))

    def run_op(self, spark, tracer: Tracer, name: str):
        fn = self.queries[name]
        with tracer.span("registry.plan"):
            df = fn(spark, self._dir(name))
        with tracer.span("registry.collect"):
            rows = df.collect()
        return df.columns, rows

    def check(self, spark, name: str, out) -> OpResult:
        cols, rows = out
        ok = frame_fingerprint(cols, [tuple(r) for r in rows]) == self.expected[name]
        return OpResult(name, _module_layer(self.queries[name]), ok, self.input_rows[name])


class _CountingCursor:
    def __init__(self, cur, counter: dict) -> None:
        self._cur = cur
        self._counter = counter

    @property
    def rowcount(self):
        return self._cur.rowcount

    def execute(self, sql, params=None):
        self._counter["statements"] += 1
        return self._cur.execute(sql, params)


class _CountingConnection:
    def __init__(self, conn, counter: dict) -> None:
        self._conn = conn
        self._counter = counter

    def cursor(self):
        return _CountingCursor(self._conn.cursor(), self._counter)

    def commit(self):
        self._conn.commit()

    def close(self):
        self._conn.close()


class ArchiveCycle:
    """One op = one archival run at the next seeded cutoff step over a
    live Derby ``events`` table: ``sources.jdbc.read_table`` →
    ``streaming.archival.archive_batch`` → ``sources.jdbc.delete_archived``.
    Between ops an untimed ingest appends as many fresh rows at the head
    as were archived, so the table keeps ``TABLE_ROWS`` rows."""

    name = "archive_cycle"
    op_names = {"archive_run"}
    TABLE_ROWS = 15_000
    STREAM_ROWS = 80_000  # table + rows available for ingest
    RATE_PER_DAY = 1_000
    STEP_ROWS = 250  # mean rows archived per op
    STEP_SPREAD = 0.25  # step length drawn from mean * U(1 - s, 1 + s)
    WARM_RUNS = 8  # archival runs on a separate table before timing
    WARM_ROWS = 2_500  # enough rows for WARM_RUNS steps
    COLUMNS = ("event_id", "ts", "user_id", "event_type", "value")

    def __init__(self, ncpu: int) -> None:
        self.ncpu = ncpu

    def generate(self, seed: int, work: str) -> None:
        rng = np.random.default_rng(seed)
        span_us = self.STREAM_ROWS * gen.DAY_US // self.RATE_PER_DAY
        cols = gen.event_columns(rng, 0, self.STREAM_ROWS, gen.EVENTS_T0_US, gen.EVENTS_T0_US + span_us, 1500)
        cols["ts"] = cols["ts"].to_numpy(zero_copy_only=False).astype("datetime64[us]")
        self.stream = pd.DataFrame({c: cols[c] for c in self.COLUMNS})
        self.ts_us = self.stream["ts"].to_numpy().astype(np.int64)
        self.step_us = self.STEP_ROWS * gen.DAY_US / self.RATE_PER_DAY
        self.warm = pd.DataFrame({c: cols[c][: self.WARM_ROWS] for c in self.COLUMNS})
        self.archive_dir = os.path.join(work, "archive")
        self.lo = 0  # first live row of the stream
        self.hi = self.TABLE_ROWS  # one past the last live row
        self.cutoff_us = int(self.ts_us[0])
        self.batch = 0

    def _stage(self, spark, frame: pd.DataFrame) -> str:
        return derby.stage_frame(spark, spark.createDataFrame(frame), "events")

    def stage(self, spark, tracer: Tracer) -> int:
        with tracer.span("sources.derby.stage_frame"):
            self.url = self._stage(spark, self.stream.iloc[: self.TABLE_ROWS])
        return self.TABLE_ROWS

    def warmup(self, spark) -> None:
        url = self._stage(spark, self.warm)
        for k in range(self.WARM_RUNS):
            cutoff = int(self.ts_us[0] + (k + 1) * self.step_us)
            self._archive_run(spark, Tracer(False), url, cutoff, f"warm-{k}", None)

    def prepare_checks(self) -> None:
        pass

    def schedule(self, rng: np.random.Generator):
        while True:
            yield float(rng.uniform(1 - self.STEP_SPREAD, 1 + self.STEP_SPREAD))

    def _archive_run(self, spark, tracer: Tracer, url: str, cutoff_us: int, batch, counter):
        from pyspark.sql import functions as F

        factory = derby.connection_factory(spark, url)
        if counter is not None:
            inner = factory

            def factory():
                return _CountingConnection(inner(), counter)

            factory.driver_side = True
        with tracer.span("sources.jdbc.read_table"):
            src, _ = jdbc.read_table(
                spark, "events", "", partition_column="event_id", num_partitions=self.ncpu,
                url=url, driver=derby.DERBY_DRIVER,
            )
        cut = F.timestamp_micros(F.lit(cutoff_us))
        with tracer.span("streaming.archival.archive_batch"):
            ledger = archival.archive_batch({"events": src}, lambda d: d.ts < cut, self.archive_dir, batch_id=batch)
        with tracer.span("sources.jdbc.delete_archived"):
            deleted = jdbc.delete_archived(
                spark, "events", ledger, key_col="event_id", connection_factory=factory, dialect="standard",
            )
        return ledger, deleted

    def run_op(self, spark, tracer: Tracer, step: float):
        self.batch += 1
        self.cutoff_us += int(step * self.step_us)
        counter = {"statements": 0}
        ledger, deleted = self._archive_run(
            spark, tracer, self.url, self.cutoff_us, self.batch, counter if tracer.enabled else None
        )
        return ledger, deleted, counter["statements"]

    def _derby_state(self, spark) -> tuple[int, int]:
        conn = spark._jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            st = conn.createStatement()
            rs = st.executeQuery('SELECT COUNT(*), MIN("event_id") FROM events')
            rs.next()
            return int(rs.getLong(1)), int(rs.getLong(2))
        finally:
            conn.close()

    @staticmethod
    def _row_hash(event_id, user_id, value, ts_us) -> str:
        order = np.argsort(event_id, kind="stable")
        h = hashlib.sha256()
        for a in (event_id, user_id, ts_us):
            h.update(np.ascontiguousarray(np.asarray(a, dtype=np.int64)[order]).tobytes())
        h.update(np.ascontiguousarray(np.asarray(value, dtype=np.float64)[order]).tobytes())
        return h.hexdigest()

    def check(self, spark, step, out) -> OpResult:
        """Ledger size, the rows left in Derby, and the archived Parquet
        read back (row count, content hash, year/month partitions) against
        what the generator says the cutoff selects. Then ingests the next
        rows at the head so the table size stays constant."""
        ledger, deleted, statements = out
        n = int(np.searchsorted(self.ts_us[self.lo : self.hi], self.cutoff_us, side="left"))
        exp = self.stream.iloc[self.lo : self.lo + n]
        problems = []
        if ledger.count() != n:
            problems.append("ledger size")
        if deleted != n:
            problems.append("deleted count")
        left, min_id = self._derby_state(spark)
        if left != self.hi - self.lo - n or (left and min_id != self.lo + n):
            problems.append("rows left in Derby")
        batch_dir = os.path.join(self.archive_dir, f"batch_id={self.batch}")
        files = [
            os.path.join(d, f) for d, _, fs in os.walk(batch_dir) for f in fs if f.endswith(".parquet")
        ]
        nbytes = sum(os.path.getsize(f) for f in files)
        if n:
            got = ds.dataset(batch_dir, format="parquet", partitioning="hive").to_table()
            ts = pc.cast(got["ts"], pa.timestamp("us")).cast(pa.int64()).to_numpy()
            got_hash = self._row_hash(
                got["event_id"].to_numpy(), got["user_id"].to_numpy(), got["value"].to_numpy(), ts
            )
            exp_hash = self._row_hash(
                exp["event_id"].to_numpy(), exp["user_id"].to_numpy(), exp["value"].to_numpy(),
                self.ts_us[self.lo : self.lo + n],
            )
            day = ts.astype("datetime64[us]")
            years = day.astype("datetime64[Y]").astype(np.int64) + 1970
            months = day.astype("datetime64[M]").astype(np.int64) % 12 + 1
            if got.num_rows != n or got_hash != exp_hash:
                problems.append("archived parquet content")
            elif not (
                np.array_equal(got["year"].to_numpy().astype(np.int64), years)
                and np.array_equal(got["month"].to_numpy().astype(np.int64), months)
            ):
                problems.append("archived parquet partitions")
        shutil.rmtree(batch_dir, ignore_errors=True)
        self.lo += n
        self._ingest(spark, n)
        info = {
            "rows_archived": n,
            "files_written": len(files),
            "bytes_written": nbytes,
            "delete_rows": deleted,
            "delete_statements": statements,
            "problems": problems,
        }
        return OpResult("archive_run", "archive_cycle", not problems, n, info)

    def _ingest(self, spark, n: int) -> None:
        if not n:
            return
        new = self.stream.iloc[self.hi : self.hi + n]
        (
            spark.createDataFrame(new)
            .write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", "events")
            .option("driver", derby.DERBY_DRIVER)
            .mode("append")
            .save()
        )
        self.hi += len(new)

    def exhausted(self) -> bool:
        return self.hi + 3 * self.STEP_ROWS > self.STREAM_ROWS


# registry_mix, analytics part: the reference extraction query, the
# README's downstream lookup shapes, the operators.* members of the old
# bench.py HEADLINE r1 subset and two TPC-H topologies (composed_q*), all
# read-only, at sf0.1.
ARCHIVE_QUERY_OPS = [
    (name, 0.1)
    for name in (
        "orderby_limit_topk",
        "filter_range_cutoff",
        "filter_in_list",
        "scan_partition_pruned_static",
        "scan_filter_prune",
        "agg_group_pricing",
        "join_broadcast_dim",
        "join_inner_equi",
        "join_asof",
        "window_topk_per_group",
        "window_running_sum",
        "composed_q6_forecast_revenue",
        "composed_q18_large_orders",
    )
]

# registry_mix, curation part: LLM-curation functions.* at sf0.1 (none
# keeps a per-corpus trained-index cache) and streaming.* queries at sf0.01.
CURATION_STREAM_OPS = [
    ("text_wordcount", 0.1),
    ("sim_cosine_topk", 0.1),
    ("udaf_pandas_grouped", 0.1),
    ("dedup_paragraph", 0.1),
    ("dedup_exact", 0.1),
    ("stream_dedup_watermark", 0.01),
    ("stream_session", 0.01),
]

def make(name: str, ncpu: int):
    if name == "archive_cycle":
        return ArchiveCycle(ncpu)
    if name == "registry_mix":
        return RegistryWorkload(name, ARCHIVE_QUERY_OPS + CURATION_STREAM_OPS)
    raise KeyError(f"unknown workload {name!r}")
