"""Per-operator unit tests on tiny hand-written frames — null/empty/
boundary cases the sf fixtures don't exercise (SURVEY.md §5.2)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from pg_archiver_spark.operators.setops import union_all


def test_union_all_multi_frame(spark):
    a = spark.createDataFrame([(1, "x")], "id long, tag string")
    b = spark.createDataFrame([(2, "y")], "id long, tag string")
    c = spark.createDataFrame([(3, "z")], "id long, tag string")
    assert union_all([a, b, c]).count() == 3


def test_union_all_single_frame(spark):
    a = spark.createDataFrame([(1, "x")], "id long, tag string")
    assert union_all([a]).count() == 1


def test_archive_selection_empty_input(spark, tmp_path):
    """The reference short-circuits on 0 rows (main.go:189-192); our
    plan must produce an empty result, not an error."""
    from pg_archiver_spark.operators import sorts

    empty = spark.createDataFrame(
        [], "event_id long, ts_ns long, user_id long, event_type string, value double, props string"
    )
    path = str(tmp_path / "events.parquet")
    empty.write.parquet(path)
    df = spark.read.parquet(path)
    out = (
        df.filter(F.col("ts_ns") < 0)
        .orderBy(F.col("ts_ns").desc())
        .limit(100)
    )
    assert out.count() == 0


def test_topk_ties_break_on_id(spark):
    """G5: identical sort keys must still produce a unique selection."""
    rows = [(i, 100) for i in range(10)]  # all same "timestamp"
    df = spark.createDataFrame(rows, "event_id long, epoch_ms long")
    top = df.orderBy(F.col("epoch_ms").desc(), F.col("event_id")).limit(3)
    assert [r.event_id for r in top.collect()] == [0, 1, 2]


def test_left_outer_preserves_unmatched(spark):
    cust = spark.createDataFrame([(1,), (2,)], "custkey long")
    orders = spark.createDataFrame([(1, 10)], "custkey long, orderkey long")
    joined = cust.join(orders, "custkey", "left")
    counts = {
        r.custkey: r.n
        for r in joined.groupBy("custkey").agg(F.count("orderkey").alias("n")).collect()
    }
    assert counts == {1: 1, 2: 0}


def test_null_handling_in_agg(spark):
    """SUM/AVG skip nulls; COUNT(col) skips, COUNT(*) doesn't."""
    df = spark.createDataFrame([(1.0,), (None,), (3.0,)], "v double")
    row = df.agg(
        F.sum("v").alias("s"), F.count("v").alias("c"), F.count("*").alias("n")
    ).first()
    assert (row.s, row.c, row.n) == (4.0, 2, 3)


def test_decimal_sum_exact(spark):
    """G2: decimal sums must be exact regardless of row order."""
    vals = [(0.1,)] * 10
    df = spark.createDataFrame(vals, "v double")
    total = df.agg(F.sum(F.col("v").cast("decimal(18,2)")).alias("s")).first().s
    assert str(total) == "1.00"


def test_session_window_boundary(spark):
    """G7 (verified on PySpark 4.1.2): a gap of EXACTLY the session
    duration merges; only gap > duration starts a new session. The
    stream_session oracle mirrors this with `> 1800000`."""
    rows = [
        (1, datetime(2024, 1, 1, 0, 0, 0)),
        (1, datetime(2024, 1, 1, 0, 30, 0)),  # gap == 30 min → merges
        (1, datetime(2024, 1, 1, 1, 0, 1)),  # gap > 30 min → new session
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    sessions = df.groupBy(
        "user_id", F.session_window("ts", "30 minutes")
    ).count()
    assert sessions.count() == 2


def test_asof_picks_latest_prior(spark):
    errors = spark.createDataFrame([(1, 100, 1000)], "e_id long, e_user long, e_ms long")
    signups = spark.createDataFrame(
        [(100, 400), (100, 900), (100, 1500)], "s_user long, s_ms long"
    )
    matched = (
        errors.join(signups, (errors.e_user == signups.s_user) & (errors.e_ms >= signups.s_ms))
        .groupBy("e_id", "e_ms")
        .agg(F.max("s_ms").alias("best"))
        .first()
    )
    assert matched.best == 900  # not 1500 (future), not 400 (not latest)


def test_minhash_finds_exact_duplicates(spark):
    """Two identical docs must always share every band → candidate pair
    with jaccard 1.0."""
    from pg_archiver_spark.functions.dedup import _shingles

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h"),
            (3, "z y x w v u t s"),
        ],
        "doc_id long, text string",
    )
    sh = docs.select("doc_id", _shingles(F.col("text")).alias("s"))
    pairs = (
        sh.alias("l")
        .join(sh.alias("r"), F.col("l.doc_id") < F.col("r.doc_id"))
        .withColumn(
            "j",
            F.size(F.array_intersect("l.s", "r.s")).cast("double")
            / F.size(F.array_union("l.s", "r.s")),
        )
    )
    exact = {(r["l.doc_id"] if "l.doc_id" in r else r[0], r[1]): r.j for r in
             pairs.select(F.col("l.doc_id"), F.col("r.doc_id"), "j").collect()}
    assert exact[(1, 2)] == 1.0
    assert exact[(1, 3)] == 0.0


def test_shingles_short_text_is_empty_not_error(spark):
    """Texts with < k tokens must produce an empty shingle set — the
    unguarded sequence(1, n-k+1) runs descending for n < k and crashes
    on out-of-bounds element_at."""
    from pg_archiver_spark.functions.dedup import _shingles

    df = spark.createDataFrame(
        [(1, "only two"), (2, "one"), (3, "a b c d")], "doc_id long, text string"
    )
    rows = {r.doc_id: r.s for r in df.select("doc_id", _shingles(F.col("text")).alias("s")).collect()}
    assert rows[1] == [] and rows[2] == []
    # Shingles are xxhash64 longs (2 distinct 3-grams of "a b c d").
    assert len(rows[3]) == 2 and len(set(rows[3])) == 2
    assert all(isinstance(v, int) for v in rows[3])


def test_cosine_expr_orthogonal_and_identical(spark):
    from pg_archiver_spark.functions.similarity import cosine_expr

    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [1.0, 2.0])],
        "a array<double>, b array<double>",
    )
    vals = [r.c for r in df.select(cosine_expr(F.col("a"), F.col("b")).alias("c")).collect()]
    assert abs(vals[0]) < 1e-12
    assert abs(vals[1] - 1.0) < 1e-12


def test_label_propagation_transitive_closure(spark):
    """A-B and B-C (no direct A-C edge) must collapse to one cluster
    labeled by the smallest id; disconnected pairs stay separate."""
    from pg_archiver_spark.functions.dedup import propagate_min_labels

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc1 long, doc2 long",
    )
    labels = {r.doc_id: r.label for r in propagate_min_labels(pairs).collect()}
    assert labels == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 23: 20,
    }


def test_label_propagation_long_chain_converges(spark):
    """A 41-node path graph (diameter 40 >> CC_MAX_ITERS=8) still
    converges: pointer jumping makes rounds O(log diameter), so the
    default budget must handle chains min-propagation alone could not —
    and under-merge now raises instead of returning silently."""
    from pg_archiver_spark.functions.dedup import propagate_min_labels

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc1 long, doc2 long"
    )
    labels = {r.doc_id: r.label for r in propagate_min_labels(pairs).collect()}
    assert labels == {i: 0 for i in range(41)}


def test_cluster_cc_covers_all_paired_docs(spark, sf_dir):
    """Every doc that appears in a near-dup pair lands in exactly one
    cluster of size >= 2, and transitive merging can only reduce the
    cluster count below the pair count."""
    from pg_archiver_spark.functions.dedup import dedup_cluster_cc, minhash_neardup

    pairs = minhash_neardup(spark, sf_dir)
    paired_docs = set()
    for r in pairs.collect():
        paired_docs |= {r.doc1, r.doc2}
    clusters = dedup_cluster_cc(spark, sf_dir).collect()
    assert sum(c.n_docs for c in clusters) == len(paired_docs)
    assert all(c.n_docs >= 2 for c in clusters)
    assert len(clusters) <= pairs.count()


def test_gaps_islands_mass_conservation(spark, sf_dir):
    """Every distinct (user, day) pair belongs to exactly one streak, so
    sum(streak_len * n_streaks) over the histogram must equal the pair
    count — the invariant that catches an off-by-one in the island
    anchor."""
    from pg_archiver_spark.operators.analytics import window_gaps_islands
    from pg_archiver_spark.catalog import load
    from pyspark.sql import functions as F

    hist = window_gaps_islands(spark, sf_dir).collect()
    n_pairs = (
        load(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .count()
    )
    assert sum(r.streak_len * r.n_streaks for r in hist) == n_pairs
    assert all(r.n_users <= r.n_streaks for r in hist)


def test_unpivot_matches_wide_sums(spark, sf_dir):
    """Long output must carry exactly the wide aggregate values: 3
    metric rows per return flag, no nulls, values keyed correctly."""
    from pg_archiver_spark.operators.aggregates import agg_unpivot

    rows = agg_unpivot(spark, sf_dir).collect()
    flags = {r.l_returnflag for r in rows}
    assert len(rows) == 3 * len(flags)
    by_flag_metric = {(r.l_returnflag, r.metric): r.value for r in rows}
    assert all(v is not None for v in by_flag_metric.values())
    for f in flags:
        assert by_flag_metric[(f, "sum_price")] > by_flag_metric[(f, "sum_qty")]


def test_q3_topk_is_ordered_and_deterministic(spark, sf_dir):
    from pg_archiver_spark.operators.joins import composed_q3_shipping_priority

    rows = composed_q3_shipping_priority(spark, sf_dir).collect()
    assert len(rows) == 10
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)
    again = composed_q3_shipping_priority(spark, sf_dir).collect()
    assert rows == again


def test_stratified_sample_rates(spark, sf_dir):
    """Keep-rates must track the per-stratum thresholds (1/2, 1/4, 1/8
    of the md5-uniform key space) within binomial slack."""
    from pg_archiver_spark.operators.scans import sample_stratified
    from pg_archiver_spark.catalog import load
    from pyspark.sql import functions as F

    totals = {
        r.l_returnflag: r.n
        for r in load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    kept = {r.l_returnflag: r.n_rows for r in sample_stratified(spark, sf_dir).collect()}
    expected = {"A": 0.5, "N": 0.25, "R": 0.125}
    for flag, rate in expected.items():
        observed = kept[flag] / totals[flag]
        assert abs(observed - rate) < 0.06, (flag, observed)


def test_hll_merge_error_bound(spark, sf_dir):
    """The merged per-day sketches must estimate the global distinct
    count within HLL's error envelope (default lgK=12 → ~1.6% rse; 5%
    is a generous 3-sigma gate), and daily exact counts must sum to at
    least the global distinct."""
    from pg_archiver_spark.operators.aggregates import agg_hll_partial_merge

    row = agg_hll_partial_merge(spark, sf_dir).collect()[0]
    assert row.n_days > 0
    assert row.merge_within_bound
    assert row.sum_daily_exact >= row.exact_total


def test_pagerank_ranks_sane(spark, sf_dir):
    """Top-20 ranks must be positive, descending, above the teleport
    floor, carry the bipartite node tag, and be reproducible."""
    from pg_archiver_spark.operators.analytics import graph_pagerank

    rows = graph_pagerank(spark, sf_dir).collect()
    assert len(rows) == 20
    ranks = [r.rank for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    assert all(r.rank > 0 for r in rows)
    assert all(r.node[:2] in ("s:", "p:") for r in rows)
    assert rows == graph_pagerank(spark, sf_dir).collect()


def test_incremental_agg_equals_full_recompute(spark, sf_dir):
    """Merging base+delta partials must reproduce the full-history
    rollup bit-for-bit (monoid merge is exact, no drift)."""
    from pg_archiver_spark.operators.scans import maintenance_incremental_agg
    from pg_archiver_spark.catalog import load
    from pyspark.sql import functions as F

    merged = {
        r.order_month: (r.n_orders, r.sum_price, r.avg_price)
        for r in maintenance_incremental_agg(spark, sf_dir).collect()
    }
    full = {
        r.order_month: (r.n_orders, r.sum_price)
        for r in load(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .collect()
    }
    assert set(merged) == set(full)
    for m, (n, s, avg) in merged.items():
        assert (n, s) == full[m]
        assert avg == s / n


def test_q18_threshold_and_determinism(spark, sf_dir):
    from pg_archiver_spark.operators.joins import (
        Q18_QTY_THRESHOLD,
        composed_q18_large_orders,
    )

    rows = composed_q18_large_orders(spark, sf_dir).collect()
    assert 0 < len(rows) <= 100
    assert all(r.total_qty > Q18_QTY_THRESHOLD for r in rows)
    prices = [r.total_price for r in rows]
    assert prices == sorted(prices, reverse=True)
    assert rows == composed_q18_large_orders(spark, sf_dir).collect()


def _parquet_file_spans(path, col):
    """Per-file (min, max) of a column from Parquet footer statistics —
    the exact metadata a scan's file/row-group skipping reads."""
    import glob
    import pyarrow.parquet as pq

    spans = []
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    st = c.statistics
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            spans.append((lo, hi))
    return spans


def test_zorder_layout_bounds_both_dims(spark, sf_dir):
    """The Morton layout must give tight per-file min-max spans on BOTH
    clustered dimensions, where a single-key-sorted control layout can
    only bound its sort key — the property multi-dim file skipping
    rides on."""
    import os
    import tempfile

    from pg_archiver_spark.catalog import load
    from pg_archiver_spark.operators.scans import (
        _zorder_dir,
        layout_zorder_scan,
    )
    from pyspark.sql import functions as F

    layout_zorder_scan(spark, sf_dir).collect()  # writes the z layout

    def mean_ratio(spans, as_ts=False):
        los = [s[0] for s in spans]
        his = [s[1] for s in spans]
        glo, ghi = min(los), max(his)
        width = (ghi - glo).total_seconds() if as_ts else ghi - glo
        assert width > 0
        ratios = [
            ((hi - lo).total_seconds() if as_ts else hi - lo) / width
            for lo, hi in spans
        ]
        return sum(ratios) / len(ratios)

    zdir = _zorder_dir()
    z_ck = mean_ratio(_parquet_file_spans(zdir, "o_custkey"))
    z_dt = mean_ratio(_parquet_file_spans(zdir, "o_orderdate"), as_ts=True)

    # Control: same data, same file count, sorted on the DATE only.
    control = os.path.join(
        tempfile.gettempdir(),
        f"pg_archiver_spark-{os.getpid()}",
        "zorder",
        "orders_datesorted",
    )
    (
        load(spark, sf_dir, "orders")
        .repartitionByRange(16, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(control)
    )
    c_ck = mean_ratio(_parquet_file_spans(control, "o_custkey"))

    assert z_ck < 0.6, z_ck  # z bounds the custkey dim…
    assert z_dt < 0.6, z_dt  # …and the date dim at once,
    assert c_ck > 0.8, c_ck  # while date-sort leaves custkey unbounded.


def test_kmeans_inertia_monotone_and_deterministic(spark, sf_dir):
    """Lloyd's update can never increase inertia; with the fixed
    lowest-vec_id init the whole run must also be reproducible, and
    every vector must land in exactly one cluster."""
    from pg_archiver_spark.catalog import load
    from pg_archiver_spark.functions.similarity import (
        KMEANS_K,
        _kmeans_assign,
        _kmeans_step,
        ml_kmeans_lloyd,
    )
    from pyspark.sql import functions as F

    emb = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .cache()
    )
    cent = [r.v for r in emb.orderBy("vec_id").limit(KMEANS_K).collect()]
    inertias = []
    for _ in range(4):
        assigned = _kmeans_assign(emb, cent)
        inertias.append(assigned.agg(F.sum("dist")).first()[0])
        cent = _kmeans_step(assigned, cent)
    assert all(
        b <= a + 1e-9 for a, b in zip(inertias, inertias[1:])
    ), inertias

    rows = ml_kmeans_lloyd(spark, sf_dir).collect()
    assert sum(r.n_points for r in rows) == emb.count()
    assert len({r.total_inertia for r in rows}) == 1
    assert rows == ml_kmeans_lloyd(spark, sf_dir).collect()


def test_lateral_topn_matches_window_topk(spark, sf_dir):
    """The lateral spelling must agree row-for-row with the window-rank
    spelling of 'top 2 orders per customer'."""
    from pg_archiver_spark.catalog import load
    from pg_archiver_spark.operators.subqueries import subquery_lateral_topn
    from pyspark.sql import Window, functions as F

    lateral = {
        (r.c_custkey, r.o_orderkey)
        for r in subquery_lateral_topn(spark, sf_dir).collect()
    }
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    windowed = {
        (r.o_custkey, r.o_orderkey)
        for r in load(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .collect()
    }
    assert lateral == windowed


def test_histogram_mass_and_bounds(spark, sf_dir):
    from pg_archiver_spark.operators.aggregates import analytics_histogram
    from pg_archiver_spark.catalog import load

    rows = analytics_histogram(spark, sf_dir).collect()
    assert sum(r.n_orders for r in rows) == load(spark, sf_dir, "orders").count()
    assert all(0 <= r.bucket <= 19 for r in rows)
    assert all(r.bucket_lo == r.bucket * 30000.0 for r in rows)


def test_zscore_outliers_exceed_threshold(spark, sf_dir):
    from pg_archiver_spark.operators.analytics import (
        ZSCORE_THRESHOLD,
        analytics_zscore_outliers,
    )

    rows = analytics_zscore_outliers(spark, sf_dir).collect()
    assert rows, "fixture should contain some |z|>3 outliers"
    for r in rows:
        assert r.min_z < -ZSCORE_THRESHOLD or r.max_z > ZSCORE_THRESHOLD
        assert r.n_outliers > 0


def test_ewma_constant_series_is_identity(spark, sf_dir):
    """Renormalized truncated EWMA of a constant series must equal the
    constant at every row — the invariant that catches a wrong weight
    or a broken renormalization denominator."""
    from pg_archiver_spark.operators.analytics import EWMA_ALPHA, EWMA_LAGS
    from pyspark.sql import Window, functions as F

    df = spark.createDataFrame(
        [(1, i, 7.5) for i in range(20)], "user_id int, seq int, value double"
    )
    w = Window.partitionBy("user_id").orderBy("seq")
    weights = [
        EWMA_ALPHA * (1 - EWMA_ALPHA) ** k for k in range(EWMA_LAGS + 1)
    ]
    num = sum(
        (
            F.coalesce(F.lit(wk) * F.lag("value", k).over(w), F.lit(0.0))
            for k, wk in enumerate(weights)
        ),
        F.lit(0.0),
    )
    den = sum(
        (
            F.when(F.lag("value", k).over(w).isNull(), 0.0).otherwise(F.lit(wk))
            for k, wk in enumerate(weights)
        ),
        F.lit(0.0),
    )
    vals = [r.e for r in df.withColumn("e", num / den).collect()]
    assert all(abs(v - 7.5) < 1e-9 for v in vals), vals


def test_q7_plan_broadcasts_dims_no_nlj(spark, sf_dir):
    """Q7's nation-pair composition must stay all-hash-join: the dims
    broadcast and the pair disjunction is a residual/probe condition,
    never a BroadcastNestedLoopJoin or CartesianProduct."""
    from pg_archiver_spark.operators.joins import composed_q7_volume_shipping

    df = composed_q7_volume_shipping(spark, sf_dir)
    # Pre-AQE physical plan: at tiny sfs the nation pair can be empty
    # and AQE collapses everything to EmptyRelation, which would hide
    # the join strategy under test.
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    rows = df.collect()
    # pair constraint holds on every output row
    assert all(r.supp_nation != r.cust_nation for r in rows)


def test_ratio_to_report_shares_sum_to_one(spark, sf_dir):
    """Per event_type the user shares must sum to 1 (decimal-exact
    internal sums), and the window must run over the aggregated frame,
    not raw events."""
    from pg_archiver_spark.operators.windows import window_ratio_to_report

    df = window_ratio_to_report(spark, sf_dir)
    sums = {
        r.event_type: r.s
        for r in df.groupBy("event_type").agg(F.sum("share").alias("s")).collect()
    }
    for et, s in sums.items():
        assert abs(s - 1.0) < 1e-9, (et, s)
    # the window input is the post-aggregation frame: its plan has an
    # aggregate BELOW the window operator
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.index("Window") < plan.index("HashAggregate")


def test_null_safe_join_matches_null_keys(spark):
    """eqNullSafe must pair NULL with NULL (plain equi-join drops them)."""
    a = spark.createDataFrame([(None, 1), ("A", 2)], "k string, x long")
    b = spark.createDataFrame([(None, 10), ("A", 20)], "k string, y long")
    strict = a.join(b, a.k == b.k).count()
    nullsafe = a.join(b, a.k.eqNullSafe(b.k)).count()
    assert strict == 1
    assert nullsafe == 2


def test_entropy_bounds_and_degenerate_doc(spark):
    """Normalized entropy must be ~0 for a fully-repeated doc and ~1
    for an all-distinct doc; bits must be >= 0."""
    from pg_archiver_spark.functions.text import text_entropy_quality  # noqa: F401
    import math

    docs = spark.createDataFrame(
        [
            (1, "x x x x x x x x", "rep"),
            (2, "a b c d e f g h", "uniq"),
        ],
        "doc_id long, text string, lang string",
    )
    wc = (
        docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "lang", "w")
        .agg(F.count("*").alias("c"))
    )
    from pyspark.sql import Window

    n_over = F.sum("c").over(Window.partitionBy("doc_id"))
    p = F.col("c").cast("double") / n_over
    ent = (
        wc.select("doc_id", "lang", n_over.alias("n"), (-(p * F.log2(p))).alias("t"))
        .groupBy("doc_id", "lang", "n")
        .agg(F.sum("t").alias("h"))
        .collect()
    )
    by_lang = {r.lang: r for r in ent}
    assert abs(by_lang["rep"].h - 0.0) < 1e-12
    assert abs(by_lang["uniq"].h - 3.0) < 1e-12  # log2(8) bits
    assert abs(by_lang["uniq"].h / math.log2(by_lang["uniq"].n) - 1.0) < 1e-12


def test_metadata_file_name_survives_catalog_projection(spark, sf_dir):
    """_metadata must still resolve through catalog.load's derived
    columns (it rides the file-source relation, not the projection)."""
    from pg_archiver_spark.operators.scans import scan_metadata_columns

    rows = scan_metadata_columns(spark, sf_dir).collect()
    assert [r.file_name for r in rows] == ["events.parquet"]
    assert rows[0].n_rows > 0


def test_dataset_card_totals_consistent(spark, sf_dir):
    """Card totals must reconcile with direct corpus-level counts."""
    from pg_archiver_spark.catalog import load
    from pg_archiver_spark.functions.curation import pipeline_dataset_card

    card = pipeline_dataset_card(spark, sf_dir)
    agg = card.agg(F.sum("n_docs"), F.sum("total_chars")).first()
    direct = (
        load(spark, sf_dir, "documents").agg(F.count("*"), F.sum("n_chars")).first()
    )
    assert agg[0] == direct[0]
    assert agg[1] == direct[1]


def test_mad_robust_to_contamination(spark):
    """MAD must not move when a huge outlier contaminates the sample
    (the property the z-score screen lacks)."""
    clean = [(1, "t", float(v)) for v, _ in enumerate(range(9))]
    rows = clean + [(99, "t", 1e9)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    med = df.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        df.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
        .first()
    )
    # median of 0..8 plus one 1e9 outlier stays near the middle; MAD
    # stays O(1) — the outlier lands far beyond 3 * 1.4826 * mad
    assert mad.med < 10
    assert mad.mad < 5
    assert abs(1e9 - mad.med) > 3 * 1.4826 * mad.mad


def test_vocab_coverage_monotone_and_bounded(spark, sf_dir):
    """Coverage must be monotone nondecreasing in vocab size and within
    (0, 1]; covered_tokens must never exceed the corpus token count."""
    from pg_archiver_spark.functions.curation import pipeline_vocab_coverage

    rows = sorted(
        pipeline_vocab_coverage(spark, sf_dir).collect(),
        key=lambda r: r.vocab_size,
    )
    assert [r.vocab_size for r in rows] == [10, 20, 50, 100]
    covs = [r.coverage for r in rows]
    assert all(0 < c <= 1.0 for c in covs)
    assert covs == sorted(covs)
    assert all(
        a.covered_tokens <= b.covered_tokens for a, b in zip(rows, rows[1:])
    )


def test_rfm_quartiles_balanced(spark, sf_dir):
    """Every RFM dimension's quartiles must partition the user base into
    near-equal parts (NTILE guarantee: sizes differ by at most 1)."""
    from pg_archiver_spark.operators.analytics import analytics_rfm_segments

    df = analytics_rfm_segments(spark, sf_dir)
    for dim in ("r_tile", "f_tile", "m_tile"):
        per = {
            r[dim]: r.s
            for r in df.groupBy(dim).agg(F.sum("n_users").alias("s")).collect()
        }
        assert set(per) == {1, 2, 3, 4}
        assert max(per.values()) - min(per.values()) <= 1


def test_s3a_committer_confs_shape():
    """The object-store sink config block must wire the magic committer
    (commit-by-multipart-completion; S3 has no atomic rename) through
    Spark's cloud commit protocol — and must never embed credentials."""
    from pg_archiver_spark.session import s3a_committer_confs

    confs = s3a_committer_confs()
    assert confs["spark.hadoop.fs.s3a.committer.name"] == "magic"
    assert confs["spark.hadoop.fs.s3a.committer.magic.enabled"] == "true"
    assert "PathOutputCommitProtocol" in confs["spark.sql.sources.commitProtocolClass"]
    joined = " ".join(confs) + " ".join(confs.values())
    assert "secret" not in joined.lower() and "key.id" not in joined.lower()


@pytest.mark.parametrize("value", ["0", "-2", "abc", "1.5", ""])
def test_local_cpus_rejects_invalid_setting(monkeypatch, value):
    """An invalid SPARK_GRAFT_CPUS fails loudly instead of reaching
    the master URL."""
    from pg_archiver_spark.session import _local_cpus

    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS must be a positive integer"):
        _local_cpus()


def test_local_cpus_defaults_to_the_host(monkeypatch):
    """Unset, the local core count is the CPUs this process may use."""
    import os

    from pg_archiver_spark.session import _local_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _local_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _local_cpus() == "3"


def test_every_collect_site_is_justified_bounded():
    """VERDICT r11 #5: every driver-side .collect() in the package
    must carry a '# bounded: ...' justification comment within the
    preceding lines — tools/collectlint.py makes the house convention
    mandatory so an unbounded driver collect cannot land unreviewed."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from collectlint import violations

    assert violations() == []
