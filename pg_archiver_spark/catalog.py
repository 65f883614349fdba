"""Fixture-table catalog.

One loader per table, reading the driver-generated Parquet under a
scale-factor directory (TESTDATA.md). The reference hardcodes one schema
(main.go:20-26 IoTRecord); here the schema travels with the Parquet footer
and Catalyst prunes columns/row-groups from the declarative plan — no
schema code needed per table.
"""

from __future__ import annotations

import os
import weakref
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always broadcast in joins. At 100 TB
# the facts (orders/lineitem/events) grow; these stay ~fixed size.
DIM_TABLES = frozenset({"region", "nation", "supplier", "part"})


def _pin_timestamp_confs(spark: SparkSession) -> None:
    """Pin one timestamp regime for the whole session, runtime-settable
    because the driver harness passes its own SparkSession:

    - session UTC — naive fixture timestamps and DuckDB's timezone-less
      arithmetic agree numerically regardless of the host JVM zone;
    - inferTimestampNTZ=false — the fixtures' ``timestamp[us]``
      (isAdjustedToUTC=false) columns read as classic TIMESTAMP (LTZ)
      attributes, so every op sees ONE timestamp type and predicates on
      them stay pushdown-eligible scan attributes;
    - outputTimestampType=TIMESTAMP_MICROS — our own sinks write INT64
      µs (with row-group min/max stats, so re-reads prune) instead of
      the deprecated stats-less INT96 default;
    - nanosAsLong — only fires on legacy ``timestamp[ns]`` fixture
      files (the driver has shipped both precisions across rounds).
    """
    if spark in _PINNED_SESSIONS:
        return
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _PINNED_SESSIONS.add(spark)


# Sessions already pinned (r13, guide §7.3): the four conf.set py4j
# round-trips cost ~5 ms per load() call and load() runs 1-6 times per
# query per bench pass. Pinning is idempotent and nothing in the engine
# ever unsets these, so once per SparkSession object is enough. Weak
# references: a replaced session must not be kept alive (or collide by
# id) through this guard.
_PINNED_SESSIONS: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def _stamp(path: str) -> tuple[int, int] | None:
    """``(st_size, st_mtime_ns)`` of a local path: a rewritten file
    changes it. None where ``os.stat`` cannot see the path (a URI)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


# Footer schemas already inferred this process, keyed by parquet path
# (r13, guide §6/§7.3): ``spark.read.parquet`` re-infers the schema from
# the file footer on EVERY call (~80 ms of driver-side listing +
# footer I/O at sf0.1) — per query, per pass. Each entry carries the
# path's _stamp; a rewritten file misses and its real footer is read
# again (the events µs/ns adaptation below keeps working). A hit passes
# the known schema explicitly — the metastore pattern, exactly what a
# catalog table gives a cluster. This memoizes METADATA only: every
# query still scans the parquet data itself on every run (no result or
# intermediate is cached).
_SCHEMA_CACHE: dict[str, tuple[tuple[int, int] | None, StructType]] = {}


def _read_table(spark: SparkSession, path: str) -> DataFrame:
    stamp = _stamp(path)
    hit = _SCHEMA_CACHE.get(path)
    if hit is None or hit[0] != stamp:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = (stamp, df.schema)
        return df
    return spark.read.schema(hit[1]).parquet(path)


# Scan split counts already probed this process, keyed by parquet path
# (r14, VERDICT r13 item 2): the count is metadata — physical planning,
# no job — but the .rdd conversion costs ~0.1 s per call, too much to
# pay per query construction. The count depends on the file and on the
# two confs that size splits, so each entry carries all three and any
# change is a miss.
_SCAN_SPLITS_CACHE: dict[str, tuple[tuple, int]] = {}


def fan_out(
    spark: SparkSession, df: DataFrame, sf_dir: str, name: str
) -> DataFrame:
    """Round-robin ``df`` (the ``name`` scan, or any narrow projection
    over it — narrow ops never change the partition count) out to
    defaultParallelism ONLY when the scan itself yields fewer input
    splits than cores (guide §2.5 input parallelism vs §2.1 shuffle
    cost). The fixtures are one small parquet file → 1-3 splits, which
    would serialize CPU-heavy downstream projections onto a near-single
    task; a multi-split input — any fact table at cluster scale — already
    feeds every core from the scan and NO exchange is added. Before r14
    this repartition was unconditional, i.e. a full extra exchange of
    the fact table for zero benefit at 100 TB (VERDICT r13 item 2)."""
    par = spark.sparkContext.defaultParallelism
    key = f"{sf_dir}/{name}.parquet"
    state = (_stamp(key), spark.conf.get("spark.sql.files.maxPartitionBytes"), par)
    hit = _SCAN_SPLITS_CACHE.get(key)
    if hit is None or hit[0] != state:
        hit = (state, load(spark, sf_dir, name).rdd.getNumPartitions())
        _SCAN_SPLITS_CACHE[key] = hit
    if hit[1] >= par:
        return df
    return df.repartition(par)


def load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load()`` + conditional fixture-scale fan-out — see fan_out."""
    return fan_out(spark, load(spark, sf_dir, name), sf_dir, name)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Lazy — no I/O until an action runs.

    ``events`` exposes a two-column timestamp contract regardless of the
    physical Parquet type (the driver has shipped BOTH ``timestamp[ns]``
    and ``timestamp[us]`` fixtures across rounds, so this adapts to the
    footer instead of assuming):
      - ``ts`` TimestampType (µs) — the scan attribute when the file is
        timestamp-typed, so range predicates on it reach Parquet
        row-group min/max stats (``PushedFilters``),
      - ``ts_ns`` long — epoch-nanoseconds, for integer epoch math
        (``ts_ns DIV 1000000`` = epoch-ms, matching DuckDB ``epoch_ms``).
    Floor(ns→µs)∘floor(µs→ms) == floor(ns→ms), so epoch-ms derived from
    either column matches DuckDB's ``epoch_ms`` exactly (SURVEY.md §8 G1).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _pin_timestamp_confs(spark)
    if name == "events":
        df = _read_table(spark, f"{sf_dir}/{name}.parquet")
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type == "bigint":
            # Legacy fixture: ts is raw epoch-nanos.
            return df.withColumnRenamed("ts", "ts_ns").withColumn(
                "ts", F.timestamp_micros(F.expr("ts_ns DIV 1000"))
            )
        # Current fixture: ts is a µs timestamp. Normalize NTZ→LTZ (no-op
        # when inferTimestampNTZ=false took effect) and derive ts_ns.
        return df.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
            "ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000)
        )
    return _read_table(spark, f"{sf_dir}/{name}.parquet")


def ts_ns_literal(cutoff: str) -> int:
    """Epoch-nanoseconds of a 'YYYY-MM-DD[ HH:MM:SS]' UTC literal, for
    integer epoch math on events.ts_ns."""
    fmt = "%Y-%m-%d %H:%M:%S" if " " in cutoff else "%Y-%m-%d"
    dt = datetime.strptime(cutoff, fmt).replace(tzinfo=timezone.utc)
    return int(dt.timestamp()) * 1_000_000_000


def ts_literal(cutoff: str) -> datetime:
    """TZ-AWARE UTC datetime of a 'YYYY-MM-DD[ HH:MM:SS]' literal for
    predicates on events.ts. Aware datetimes cross py4j via
    ``calendar.timegm`` — the exact UTC instant on ANY host timezone —
    whereas a naive datetime would go through ``time.mktime`` (host
    local time), silently shifting cutoffs on non-UTC hosts relative
    to the DuckDB oracle's naive-UTC comparison. Because ``ts`` is a
    scan attribute (not a derived column), ``ts < lit`` still reaches
    the Parquet row-group stats as a PushedFilter."""
    fmt = "%Y-%m-%d %H:%M:%S" if " " in cutoff else "%Y-%m-%d"
    return datetime.strptime(cutoff, fmt).replace(tzinfo=timezone.utc)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}
