"""The archiver — pg-archiver's pipeline (main.go:147-256), Spark-native.

``archive_batch`` is the one archive write: the CLI below, the
foreachBatch and NOTIFY/LISTEN archivers in ``streaming.archival`` and
perfbench's ``archive_cycle`` all archive through it.

Reference pipeline: per-table cursor read below a cutoff → in-memory
union → single Parquet file keyed by the batch's max timestamp → S3
PutObject → DELETE everything below the cutoff. Five defects documented
in SURVEY.md §4.4 are fixed here:

  D1 read-limit/delete-all data loss → delete exactly the archived key
     set (the ledger written per batch), never a blanket cutoff DELETE
  D2 single-partition misplacement   → per-row partitionBy(year, month)
  D3 non-atomic archive+delete       → idempotent per-batch-id output
     dirs: a retried micro-batch overwrites its own output, and the
     delete ledger is derived from committed archive output only
  D4 fixed temp path collisions      → committer-managed task files
  D5 timestamp type erasure          → real TimestampType in the archive

The CLI (``python -m pg_archiver_spark``) reads each table (JDBC
through range cursors on event_id), archives with ``archive_batch``,
deletes behind with ``sources.jdbc.delete_archived`` and prints one JSON
report: batch_id, tables, archived_rows, archived_per_table,
deleted_rows, deleted_per_table, dest, source_mode. Env configuration
mirrors the reference's getEnv defaults (main.go:149-159, 272-277):

  ARCHIVER_TABLES           comma-separated table list (default "events")
  ARCHIVER_RETENTION_DAYS   days to keep (default 90; main.go:153)
  ARCHIVER_SOURCE_DIR       parquet source dir (never deleted from), or
                            PG_ARCHIVER_JDBC_URL (jdbc:derby: or
                            jdbc:postgresql:); one of the two is required
  ARCHIVER_DEST_DIR         archive root (local path or s3a:// URI —
                            the committer handles the upload the
                            reference did by hand, main.go:211-241; an
                            s3a:// value makes session.get_spark wire
                            the S3A magic committer confs, see
                            session.s3a_committer_confs)
  ARCHIVER_CUTOFF           optional explicit 'YYYY-MM-DD[ HH:MM:SS]'
                            cutoff; wall-clock retention otherwise
  ARCHIVER_TS_COLUMN        event-time column (default "ts")
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from pg_archiver_spark.session import get_spark
from pg_archiver_spark.sources.jdbc import _URL_ENV, delete_archived, read_table, url_backend

# The ledger's key column.
_LEDGER_KEY = "event_id"

# A window of at most 2^15 consecutive integers maps one-to-one onto
# pmod(k, 2^15), so a bitmap over those positions counts the distinct
# keys of any such window (negative keys included).
_PROOF_SPAN = 1 << 15


def _key_metrics(df: DataFrame, key: str) -> list:
    """The write-time metrics of one table's slice: the row count, and
    for an integral key its min, max and distinct-key bitmap count.
    Built from SQL text: one parse per metric costs fewer round trips
    to the JVM than composing each function call."""
    metrics = [F.expr("count(1) AS n")]
    if isinstance(df.schema[key].dataType, IntegralType):
        k = f"`{key}`"
        position = f"bitmap_bit_position(pmod({k}, {_PROOF_SPAN}) + 1)"
        metrics += [
            F.expr(f"min({k}) AS lo"),
            F.expr(f"max({k}) AS hi"),
            F.expr(f"bitmap_count(bitmap_construct_agg({position})) AS `distinct`"),
        ]
    return metrics


def _proven_run(m: dict) -> list[tuple[int, int]] | None:
    """The key runs one table's observed metrics prove: ``[]`` for an
    empty slice, ``[(lo, hi)]`` when the slice held each key of
    ``[lo, hi]`` exactly once, else None. ``n`` rows with ``n`` distinct
    positions and ``n == hi - lo + 1`` proves it: a bitmap count never
    exceeds 2^15, so the window is at most 2^15 wide, where positions
    and keys correspond one to one."""
    if m["n"] == 0:
        return []
    lo, hi = m.get("lo"), m.get("hi")
    if lo is not None and m["n"] == m["distinct"] == hi - lo + 1:
        return [(lo, hi)]
    return None


def archive_batch(
    tagged_sources: dict[str, DataFrame],
    cutoff_col_expr,
    archive_dir: str,
    batch_id: int = 0,
) -> DataFrame:
    """One archival batch over pre-loaded source frames, in one Spark job.

    The reference's whole run() (main.go:147-256) as one lazy plan:
    filter-below-cutoff per table → lineage tag (A6) → union (A7) →
    per-row year/month partitioned Snappy Parquet (A10-A12, D2 fixed).
    Returns the archived keys ledger (table_name, event_id) — the exact
    delete set (D1 fixed), read back from the committed output (D3).

    Each table's slice is observed while it is written (one
    ``DataFrame.observe`` per table, no extra job), and the ledger
    carries what the write saw:

    - ``archived_rows``: ``{table: rows archived}``;
    - ``proven_runs``: ``{(table, "event_id"): runs}`` for each table
      whose keys the write proved — ``[(lo, hi)]`` when it archived
      each integer of ``[lo, hi]`` exactly once, ``[]`` when it
      archived nothing. ``sources.jdbc.delete_archived`` deletes those
      runs without scanning the ledger. Fragmented or duplicated keys,
      spans of 2^15 keys or more and non-integral keys prove nothing,
      and neither does any frame derived from the ledger (it does not
      carry these attributes), so their delete folds the keys into runs
      itself.
    """
    observed = {}
    tagged = None
    for name, df in tagged_sources.items():
        part = df.filter(cutoff_col_expr(df)).withColumn("table_name", F.lit(name))
        observed[name] = Observation()
        part = part.observe(observed[name], *_key_metrics(part, _LEDGER_KEY))
        tagged = part if tagged is None else tagged.unionByName(part)

    out = os.path.join(archive_dir, f"batch_id={batch_id}")
    archived = tagged.withColumn("year", F.year("ts")).withColumn(
        "month", F.month("ts")
    )
    # Overwrite of the batch's own directory → a retry of the same batch
    # is idempotent (D3).
    (
        archived.write.mode("overwrite")
        .partitionBy("year", "month")
        .option("compression", "snappy")
        .parquet(out)
    )
    # The ledger is read back from the committed output (D3) at the
    # schema just written, which skips Parquet schema inference.
    ledger = (
        tagged.sparkSession.read.schema(archived.schema)
        .parquet(out)
        .select("table_name", _LEDGER_KEY)
    )
    metrics = {name: obs.get for name, obs in observed.items()}
    ledger.archived_rows = {name: m["n"] for name, m in metrics.items()}
    ledger.proven_runs = {
        (name, _LEDGER_KEY): runs
        for name, m in metrics.items()
        if (runs := _proven_run(m)) is not None
    }
    return ledger


def _env(key: str, default: str) -> str:
    # getEnv-with-default parity (main.go:272-277).
    return os.environ.get(key, default)


def run() -> dict:
    tables = [t.strip() for t in _env("ARCHIVER_TABLES", "events").split(",") if t.strip()]
    retention_days = int(_env("ARCHIVER_RETENTION_DAYS", "90"))
    source_dir = _env("ARCHIVER_SOURCE_DIR", "")
    url = os.environ.get(_URL_ENV)
    if not source_dir and not url:
        raise ValueError(f"set ARCHIVER_SOURCE_DIR or {_URL_ENV}: the archiver has no source")
    dest_dir = _env("ARCHIVER_DEST_DIR", "/tmp/pg_archiver_spark/cli_archive")
    ts_column = _env("ARCHIVER_TS_COLUMN", "ts")
    explicit_cutoff = os.environ.get("ARCHIVER_CUTOFF")

    spark = get_spark("pg_archiver_spark.archiver")
    # Unique per run, even for two runs in one second: a run that
    # reused a batch directory would overwrite an archive whose source
    # rows are already deleted.
    batch_id = time.time_ns()
    factory, dialect, driver = url_backend(spark, url) if url else (None, "standard", None)

    sources = {}
    for table in tables:
        sources[table], mode = read_table(
            spark, table, source_dir, partition_column=_LEDGER_KEY, driver=driver
        )

    if explicit_cutoff:
        cutoff = F.lit(explicit_cutoff).cast("timestamp")
    else:
        cutoff = F.current_timestamp() - F.expr(f"INTERVAL {retention_days} DAYS")

    ledger = archive_batch(
        sources,
        lambda d: F.col(ts_column) < cutoff,
        dest_dir,
        batch_id=batch_id,
    )
    # Delete exactly what the write archived (D1), table by table; 0
    # without a database.
    deleted = {
        t: delete_archived(spark, t, ledger, _LEDGER_KEY, connection_factory=factory, dialect=dialect)
        for t in sources
    }
    # Counted by the write itself (observed metrics), so no job re-reads
    # the archive; tables with nothing archived or deleted are left out.
    per_table = {t: n for t, n in ledger.archived_rows.items() if n}
    deleted_per_table = {t: n for t, n in deleted.items() if n}
    return {
        "batch_id": batch_id,
        "tables": tables,
        "archived_rows": sum(per_table.values()),
        "archived_per_table": per_table,
        "deleted_rows": sum(deleted_per_table.values()),
        "deleted_per_table": deleted_per_table,
        "dest": dest_dir,
        "source_mode": mode,
    }


def main() -> int:
    stats = run()
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
