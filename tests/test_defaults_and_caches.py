"""Host-fit defaults, loud failure on invalid settings, and metadata
caches that notice a rewritten file."""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pg_archiver_spark import session
from pg_archiver_spark.catalog import fan_out, load
from pg_archiver_spark.streaming.archival import _scoped_state_partitions


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


def test_state_partitions_scope_sets_and_restores_the_width(spark, monkeypatch):
    """The caller's width holds inside the scope, whatever the
    environment says, and the session's width is back after it, also
    when the body raises."""
    monkeypatch.setenv("SPARK_GRAFT_STATE_PARTS", "5")  # retired: no effect
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with _scoped_state_partitions(spark, "3"):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == before
    with pytest.raises(RuntimeError, match="body failed"):
        with _scoped_state_partitions(spark, "3"):
            assert spark.conf.get(key) == "3"
            raise RuntimeError("body failed")
    assert spark.conf.get(key) == before


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


_ENV_READ = re.compile(r"""(?:environ\.get|environ|getenv)[(\[]\s*(["']?)(\w+)\1""")


def test_program_reads_exactly_the_listed_env_vars():
    """Every environment variable the package reads is listed here: a
    new knob fails this test until it is added on purpose."""
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "pg_archiver_spark")
    sources = []
    for folder, _, files in os.walk(root):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(folder, name)) as f:
                    sources.append(f.read())
    # Module constants that hold a name (``_URL_ENV = "..."``).
    constants = dict(re.findall(r'^(\w+) = "(\w+)"$', "\n".join(sources), re.M))
    names = {
        ref if quote else constants[ref]
        for src in sources
        for quote, ref in _ENV_READ.findall(src)
    }
    assert names == {
        "ARCHIVER_TABLES",
        "ARCHIVER_RETENTION_DAYS",
        "ARCHIVER_SOURCE_DIR",
        "ARCHIVER_DEST_DIR",
        "ARCHIVER_CUTOFF",
        "ARCHIVER_TS_COLUMN",
        "PG_ARCHIVER_JDBC_URL",
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_ON_CLUSTER",
        "PG_ARCHIVER_FAKE_DECODE",
    }
