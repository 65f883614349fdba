"""The archiver CLI — the reference's program surface (main.go:147-256),
Spark-native.

Env configuration mirrors the reference's getEnv defaults
(main.go:149-159, 272-277):

  ARCHIVER_TABLES           comma-separated table list (default "events")
  ARCHIVER_RETENTION_DAYS   days to keep (default 90; main.go:153)
  ARCHIVER_SOURCE_DIR       parquet source dir (or PG_ARCHIVER_JDBC_URL
                            for a live database via sources.jdbc); one
                            of the two is required
  ARCHIVER_DEST_DIR         archive root (local path or s3a:// URI —
                            the committer handles the upload the
                            reference did by hand, main.go:211-241; an
                            s3a:// value makes session.get_spark wire
                            the S3A magic committer confs, see
                            session.s3a_committer_confs)
  ARCHIVER_CUTOFF           optional explicit 'YYYY-MM-DD[ HH:MM:SS]'
                            cutoff; wall-clock retention otherwise
  ARCHIVER_TS_COLUMN        event-time column (default "ts")

Run: python -m pg_archiver_spark

Differences from the reference are the defect fixes (SURVEY.md §4.4):
no 100-row cap silently dropping data (D1), per-row partition keys
(D2), idempotent per-batch output + exact delete ledger (D3), unique
task files via the committer (D4), preserved timestamp types (D5).
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

from pg_archiver_spark.session import get_spark
from pg_archiver_spark.sources.jdbc import _URL_ENV, read_table
from pg_archiver_spark.streaming.archival import archive_batch


def _env(key: str, default: str) -> str:
    # getEnv-with-default parity (main.go:272-277).
    return os.environ.get(key, default)


def run() -> dict:
    tables = [t.strip() for t in _env("ARCHIVER_TABLES", "events").split(",") if t.strip()]
    retention_days = int(_env("ARCHIVER_RETENTION_DAYS", "90"))
    source_dir = _env("ARCHIVER_SOURCE_DIR", "")
    if not source_dir and not os.environ.get(_URL_ENV):
        raise ValueError(f"set ARCHIVER_SOURCE_DIR or {_URL_ENV}: the archiver has no source")
    dest_dir = _env("ARCHIVER_DEST_DIR", "/tmp/pg_archiver_spark/cli_archive")
    ts_column = _env("ARCHIVER_TS_COLUMN", "ts")
    explicit_cutoff = os.environ.get("ARCHIVER_CUTOFF")

    spark = get_spark("pg_archiver_spark.archiver")
    batch_id = int(time.time())

    sources = {}
    for table in tables:
        df, mode = read_table(spark, table, source_dir)
        sources[table] = df

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
    # Counted by the write itself (observed metrics), so no job re-reads
    # the archive; tables with nothing archived are left out.
    per_table = {t: n for t, n in ledger.archived_rows.items() if n}
    stats = {
        "batch_id": batch_id,
        "tables": tables,
        "archived_rows": sum(per_table.values()),
        "archived_per_table": per_table,
        "dest": dest_dir,
        "source_mode": mode,
    }
    return stats


def main() -> int:
    stats = run()
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
