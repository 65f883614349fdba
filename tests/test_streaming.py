"""Streaming tests: batch-equivalence of windowed aggregations and the
incremental archiver's safety invariants (SURVEY.md §5.2)."""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from pg_archiver_spark.catalog import load
from pg_archiver_spark.registry import QUERIES, load_all_operators
from pg_archiver_spark.sources import derby

load_all_operators()


def test_stream_tumbling_equals_batch(spark, sf_dir, tmp_path):
    """A tumbling-window count over a file-source stream (replayed in 3
    micro-batches) must equal the same aggregation run in batch mode —
    the exactness guarantee micro-batch execution is supposed to give."""
    events = (
        load(spark, sf_dir, "events")
        .withColumn("ts", F.timestamp_millis(F.expr("ts_ns DIV 1000000")))
        .select("event_id", "ts", "value")
    )
    staging = str(tmp_path / "staging")
    events.repartition(3).write.parquet(staging)

    batch = {
        (r.day.isoformat(), r.n)
        for r in events.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").cast("date").alias("day"), "n")
        .collect()
    }

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    query = (
        stream.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").cast("date").alias("day"), "n")
        .writeStream.format("memory")
        .queryName("tumbling_equiv_sink")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    streamed = {
        (r.day.isoformat(), r.n)
        for r in spark.sql("SELECT day, n FROM tumbling_equiv_sink").collect()
    }
    assert streamed == batch


def test_archival_stream_invariants(spark, sf_dir):
    """archived ∪ remaining == source and archived ∩ remaining == ∅."""
    row = QUERIES["stream_archival_foreachbatch"](spark, sf_dir).first()
    assert row.invariants_ok
    assert row.n_archived + row.n_remaining == row.n_source
    assert row.n_archived > 0


def test_watermark_emits_each_window_at_most_once(spark, sf_dir):
    """Append-mode watermarking guarantees at-most-once emission per
    window (and bounded state) — NOT guaranteed late-row dropping, which
    Spark documents as best-effort. Each window start must appear
    exactly once in the sink, and only watermark-finalized windows are
    emitted (the newest batch's windows stay open)."""
    rows = QUERIES["stream_watermark_late"](spark, sf_dir).collect()
    assert len(rows) > 0
    starts = [r.window_start for r in rows]
    assert len(starts) == len(set(starts)), "a window was emitted twice"
    # The final watermark comes from the day-5 batch; every emitted
    # window ends at or before it (window_start is a formatted string).
    assert all(r.window_start[:10] <= "2024-01-05" for r in rows)


def test_stateful_count_equals_batch(spark, sf_dir):
    """The applyInPandasWithState running counter's final state must
    equal the batch-mode per-user profile."""
    expected = {
        (r.user_id, r.n)
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {
        (r.user_id, r.n_events)
        for r in QUERIES["stream_stateful_count"](spark, sf_dir).collect()
    }
    assert got == expected


def test_cli_archiver_runs(spark, sf_dir, tmp_path, monkeypatch):
    """python -m pg_archiver_spark end-to-end with an explicit cutoff."""
    from pg_archiver_spark.archiver import run

    monkeypatch.setenv("ARCHIVER_CUTOFF", "2024-01-15")
    monkeypatch.setenv("ARCHIVER_SOURCE_DIR", sf_dir)
    monkeypatch.setenv("ARCHIVER_DEST_DIR", str(tmp_path / "archive"))
    stats = run()
    assert stats["archived_rows"] > 0
    back = spark.read.parquet(str(tmp_path / "archive"))
    assert back.count() == stats["archived_rows"]
    assert dict(back.dtypes)["ts"].startswith("timestamp")


def test_cli_archiver_counts_from_the_write(spark, sf_dir, tmp_path, monkeypatch):
    """The CLI's per-table counts come from the write's observed
    metrics and equal a count over the archive it wrote; the report
    keeps its fields."""
    from pg_archiver_spark.archiver import run

    monkeypatch.setenv("ARCHIVER_CUTOFF", "2024-01-15")
    monkeypatch.setenv("ARCHIVER_SOURCE_DIR", sf_dir)
    monkeypatch.setenv("ARCHIVER_DEST_DIR", str(tmp_path / "archive"))
    stats = run()
    back = spark.read.parquet(str(tmp_path / "archive"))
    expected = {r["table_name"]: r["count"] for r in back.groupBy("table_name").count().collect()}
    assert stats["archived_per_table"] == expected
    assert stats["archived_rows"] == sum(expected.values()) > 0
    assert set(stats) == {
        "batch_id", "tables", "archived_rows", "archived_per_table",
        "deleted_rows", "deleted_per_table", "dest", "source_mode",
    }


_CLI_CUTOFF = "2024-01-10"


def _stage_cli_source(spark, sf_dir, tmp_path, monkeypatch) -> str:
    """Stage the events fixture into a fresh Derby database and point
    the CLI at it with a cutoff that splits the table."""
    url = derby.stage_frame(spark, load(spark, sf_dir, "events").select(*derby._EVENT_COLUMNS), "events")
    monkeypatch.delenv("ARCHIVER_SOURCE_DIR", raising=False)
    monkeypatch.setenv("PG_ARCHIVER_JDBC_URL", url)
    monkeypatch.setenv("ARCHIVER_CUTOFF", _CLI_CUTOFF)
    monkeypatch.setenv("ARCHIVER_DEST_DIR", str(tmp_path / "archive"))
    return url


def _split_keys(spark, sf_dir):
    below = F.col("ts") < F.lit(_CLI_CUTOFF).cast("timestamp")
    events = load(spark, sf_dir, "events")
    return [
        sorted(r[0] for r in events.where(cond).select("event_id").collect())
        for cond in (below, ~below)
    ]


def _archived_keys(spark, tmp_path):
    return sorted(r[0] for r in spark.read.parquet(str(tmp_path / "archive")).select("event_id").collect())


def _derby_keys(spark, url):
    rows = spark.read.format("jdbc").option("url", url).option("dbtable", "events").load()
    return sorted(r[0] for r in rows.select("event_id").collect())


def test_cli_archives_and_deletes_behind_live(spark, sf_dir, tmp_path, monkeypatch):
    """The CLI over a live Derby table runs the whole pipeline: each key
    below the cutoff lands in the archive once and is deleted from the
    source, every other key stays, and the report counts both."""
    from pg_archiver_spark.archiver import run

    url = _stage_cli_source(spark, sf_dir, tmp_path, monkeypatch)
    below, kept = _split_keys(spark, sf_dir)
    assert below and kept, "the cutoff must split the fixture"
    stats = run()
    assert _archived_keys(spark, tmp_path) == below
    assert _derby_keys(spark, url) == kept
    assert stats["source_mode"] == "jdbc"
    assert stats["deleted_rows"] == stats["archived_rows"] == len(below)
    assert stats["deleted_per_table"] == stats["archived_per_table"] == {"events": len(below)}


def test_cli_rerun_at_one_cutoff_keeps_the_first_archive(spark, sf_dir, tmp_path, monkeypatch):
    """Two runs at one cutoff within one second of wall clock: the
    second archives and deletes nothing, under its own batch id, and
    the first run's archive survives intact."""
    from pg_archiver_spark.archiver import run

    _stage_cli_source(spark, sf_dir, tmp_path, monkeypatch)
    below, _ = _split_keys(spark, sf_dir)
    monkeypatch.setattr(time, "time", lambda: 1_700_000_000.0)
    first = run()
    second = run()
    assert first["archived_rows"] == first["deleted_rows"] == len(below)
    assert second["archived_rows"] == second["deleted_rows"] == 0
    assert second["batch_id"] != first["batch_id"]
    assert _archived_keys(spark, tmp_path) == below


@pytest.mark.parametrize(
    "url, error",
    [("jdbc:mysql://localhost/db", ValueError), ("jdbc:postgresql://localhost/db", ImportError)],
)
def test_cli_unusable_url_fails_before_writing(spark, tmp_path, monkeypatch, url, error):
    """A URL whose delete-behind cannot run (an unknown scheme, or
    Postgres without psycopg2) fails before anything is archived."""
    from pg_archiver_spark.archiver import run

    monkeypatch.setitem(sys.modules, "psycopg2", None)  # import psycopg2 raises
    monkeypatch.setenv("PG_ARCHIVER_JDBC_URL", url)
    monkeypatch.setenv("ARCHIVER_DEST_DIR", str(tmp_path / "archive"))
    with pytest.raises(error):
        run()
    assert not (tmp_path / "archive").exists()


def test_cli_import_leaves_the_streaming_registry_unloaded():
    """Importing the CLI module loads neither the streaming registry
    ops nor a JVM."""
    probe = (
        "import sys, pg_archiver_spark.archiver; "
        "print('pg_archiver_spark.streaming.archival' in sys.modules)"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=root, capture_output=True, text=True, check=True
    )
    assert out.stdout.split() == ["False"]


def test_stream_stream_join_equals_batch_join(spark, sf_dir):
    """The watermarked stream-stream interval join must produce exactly
    the batch join's pair set (the 30-day watermark exceeds the
    fixture's span, so no state is evicted mid-run and the availableNow
    drain is lossless)."""
    ev = (
        load(spark, sf_dir, "events")
        .withColumn("ts", F.timestamp_millis(F.expr("ts_ns DIV 1000000")))
        .select("event_id", "ts", "user_id", "event_type")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts"), "user_id"
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
        F.col("user_id").alias("p_user"),
    )
    batch = c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("user_id").alias("n_users"),
        F.coalesce(F.sum(F.col("c_id") + F.col("p_id")), F.lit(0)).alias(
            "id_checksum"
        ),
    ).collect()[0]
    streamed = QUERIES["stream_stream_join"](spark, sf_dir).collect()[0]
    assert (streamed.n_pairs, streamed.n_users, streamed.id_checksum) == (
        batch.n_pairs,
        batch.n_users,
        batch.id_checksum,
    )


def test_dedup_within_watermark_bounds_state_and_filters_late(spark, sf_dir):
    from pg_archiver_spark.registry import QUERIES

    r = QUERIES["stream_dedup_within_watermark"](spark, sf_dir).collect()[0]
    # 9-ish keys were fed three times total (once base, twice dup),
    # yet output equals the base exactly: in-delay dups suppressed by
    # state, beyond-delay replays filtered by the late gate.
    assert r.n_dup_keys > 0
    assert r.n_emitted == r.n_base


def test_chained_window_agg_equals_batch_daily(spark, sf_dir):
    from pyspark.sql import functions as F

    from pg_archiver_spark.catalog import load
    from pg_archiver_spark.registry import QUERIES

    got = QUERIES["stream_chained_window_agg"](spark, sf_dir).collect()
    ref = (
        load(spark, sf_dir, "events")
        .groupBy(F.expr("ts_ns DIV 1000000 DIV 86400000").alias("day_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("day_id")
        .collect()
    )
    assert [(r.day_id, r.n_events, r.sum_value) for r in got] == [
        (r.day_id, r.n_events, r.sum_value) for r in ref
    ]
