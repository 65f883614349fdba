"""Host-fit defaults, loud failure on invalid settings, and metadata
caches that notice a rewritten file."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pg_archiver_spark import session
from pg_archiver_spark.catalog import fan_out, load
from pg_archiver_spark.streaming.archival import _scoped_state_partitions

_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


def test_driver_heap_default_fits_the_host(spark):
    """The session's heap fits in the memory the process may use (a
    fixed 48g does not on a smaller host)."""
    if "--driver-memory" in os.environ.get("PYSPARK_SUBMIT_ARGS", ""):
        pytest.skip("an explicit --driver-memory sets this heap")
    heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert heap < session._memory_limit()


def test_driver_heap_default_is_half_capped(monkeypatch):
    monkeypatch.setattr(session, "_memory_limit", lambda: 16 * 2**30)
    assert session._driver_memory() == "8192m"
    monkeypatch.setattr(session, "_memory_limit", lambda: 2**40)
    assert session._driver_memory() == "49152m"


def test_schema_cache_sees_a_rewritten_file(spark, tmp_path):
    path = str(tmp_path / "orders.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load(spark, str(tmp_path), "orders").columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = load(spark, str(tmp_path), "orders")
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_split_cache_follows_max_partition_bytes(spark, tmp_path):
    """A split count probed under one maxPartitionBytes is not reused
    under another: with enough splits the scan is returned as is."""
    path = str(tmp_path / "orders.parquet")
    rows = 1 << 16
    pq.write_table(
        pa.table({"v": [os.urandom(8).hex() for _ in range(rows)]}),
        path,
        compression="none",
    )
    df = load(spark, str(tmp_path), "orders")
    par = spark.sparkContext.defaultParallelism
    fan_out(spark, df, str(tmp_path), "orders")  # probe under the default
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(max(1, os.path.getsize(path) // (2 * par))))
    try:
        scan = load(spark, str(tmp_path), "orders")
        n_scan = scan.rdd.getNumPartitions()
        assert n_scan >= par
        out = fan_out(spark, scan, str(tmp_path), "orders")
        assert out.rdd.getNumPartitions() == n_scan
    finally:
        spark.conf.set(key, prev)


def test_state_provider_unset_on_entry_is_unset_on_exit(spark, monkeypatch):
    spark.conf.unset(_PROVIDER_KEY)
    monkeypatch.setenv("SPARK_GRAFT_STATE_PROVIDER", "rocksdb")
    with _scoped_state_partitions(spark, "8"):
        assert spark.conf.get(_PROVIDER_KEY).endswith("RocksDBStateStoreProvider")
    assert spark.conf.get(_PROVIDER_KEY, None) is None


def test_state_provider_typo_is_rejected_before_any_conf_changes(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STATE_PROVIDER", "rocksbd")
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(ValueError, match="SPARK_GRAFT_STATE_PROVIDER"):
        with _scoped_state_partitions(spark, "3"):
            pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts


def test_pagerank_edges_are_symmetric_with_out_degree(spark, sf_dir):
    """graph_pagerank drops the nodes-left-join because every node both
    sends and receives mass; that holds only for a symmetric edge set."""
    from pg_archiver_spark.operators.analytics import _pagerank_edges

    edges = {tuple(r) for r in _pagerank_edges(spark, sf_dir).collect()}
    assert edges
    assert all((d, s) in edges for s, d in edges)
    nodes = {n for e in edges for n in e}
    assert nodes == {s for s, _ in edges}


def test_cli_without_a_source_fails_before_writing(tmp_path, monkeypatch):
    from pg_archiver_spark.archiver import run

    monkeypatch.delenv("ARCHIVER_SOURCE_DIR", raising=False)
    monkeypatch.delenv("PG_ARCHIVER_JDBC_URL", raising=False)
    monkeypatch.setenv("ARCHIVER_DEST_DIR", str(tmp_path / "archive"))
    with pytest.raises(ValueError, match="ARCHIVER_SOURCE_DIR"):
        run()
    assert not (tmp_path / "archive").exists()
