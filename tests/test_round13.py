"""Round-13 session tests: the ADVICE r12 fixes.

- ml_ndcg_at_k's -1 sentinel must actually FIRE for a panel query
  whose label is unique in the corpus (the old inner join silently
  dropped the query from the panel instead), cross-engine.
- ml_brier_decomposition's resolution term must survive operand
  magnitudes where an int64 n*sy would wrap (the DECIMAL(38,0)
  promotion happens BEFORE the multiply).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import check as ck  # noqa: E402  (driver-faithful comparator)

from pg_archiver_spark.registry import (  # noqa: E402
    ORACLES,
    QUERIES,
    load_all_operators,
)

load_all_operators()


def _compare(spark, tmp_path, name: str):
    import duckdb

    sf_dir = str(tmp_path)
    df = QUERIES[name](spark, sf_dir)
    srows = [tuple(r) for r in df.collect()]
    scols = df.columns
    from pg_archiver_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = tmp_path / f"{t}.parquet"
        if p.exists():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    ocols, orows = ck._oracle_rows_pandas(con.execute(ORACLES[name]))
    assert ck.frame_fingerprint(scols, srows) == ck.frame_fingerprint(
        ocols, orows
    ), name
    return srows, scols


def test_ndcg_unique_label_query_reports_sentinel(spark, tmp_path):
    """A panel query with NO same-label corpus mate stays in the
    output with ndcg = -1 (ADVICE r12: the inner relcnt join used to
    shrink the panel instead), and the fixed Spark/oracle pair still
    hash-agree on the hostile fixture."""
    from pg_archiver_spark.functions.similarity import _KNN_BATCH_IDS

    rng = np.random.RandomState(7)
    n = 90  # panel ids present: 0, 25, 50, 75
    vecs = rng.normal(size=(n, 64)).astype(np.float32)
    labels = [int(x) for x in rng.randint(0, 3, size=n)]
    labels[0] = 99  # vec 0's label is unique in the corpus
    emb = pd.DataFrame(
        {
            "vec_id": range(n),
            "embedding": [v.tolist() for v in vecs],
            "label": labels,
        }
    )
    pq.write_table(
        pa.Table.from_pandas(emb), str(tmp_path / "embeddings.parquet")
    )
    srows, scols = _compare(spark, tmp_path, "ml_ndcg_at_k")
    by_q = {row[scols.index("query_id")]: dict(zip(scols, row)) for row in srows}
    panel = [q for q in _KNN_BATCH_IDS if q < n]
    assert sorted(by_q) == panel  # the full panel, nobody dropped
    sent = by_q[0]
    assert sent["n_corpus_rel"] == 0
    assert sent["idcg_milli"] == 0
    assert sent["ndcg"] == -1.0
    for q in panel[1:]:
        assert by_q[q]["ndcg"] >= 0.0


def test_brier_resolution_term_survives_int64_scale():
    """Pure-integer replay of the resolution ladder at a magnitude
    where the OLD int64 n*sy stage wraps: n=2^33 rows, sy=2^31
    positives in one bin -> n*sy = 2^64 > int64. The DECIMAL(38,0)
    ladder must reproduce the exact Python big-int value."""
    from decimal import Decimal

    n, sy, nk, sy_tot = 2**33, 2**31, 2**32, 2**32
    g = n * sy - nk * sy_tot  # exact Python bigint
    want = g * g // nk
    got = int(
        (Decimal(n) * Decimal(sy) - Decimal(nk) * Decimal(sy_tot)) ** 2
        // Decimal(nk)
    )
    assert got == want
    # and the wrapped int64 value would NOT equal it:
    import ctypes

    wrapped = ctypes.c_int64(n * sy & (2**64 - 1)).value - nk * sy_tot
    assert wrapped * wrapped // nk != want


def test_unpartitioned_window_detector(spark):
    """planaudit.unpartitioned_windows must flag order-only and
    global-frame windows, and must NOT flag partitioned ones (with or
    without ordering) — probed against real formatted plans, so a
    Spark plan-format change breaks this test, not the audit silently.
    """
    from pyspark.sql import Window
    import pyspark.sql.functions as F

    from planaudit import unpartitioned_windows
    from pg_archiver_spark.plans.inspect import physical_plan

    df = spark.range(10).select(F.col("id"), (F.col("id") % 3).alias("g"))
    cases = [
        (Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0), 1),
        (Window.partitionBy("g").orderBy("id"), 0),
        (Window.partitionBy("g"), 0),
        (
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            ),
            1,
        ),
    ]
    for w, want in cases:
        plan = physical_plan(df.select(F.sum("id").over(w).alias("s")))
        assert unpartitioned_windows(plan) == want, plan


def test_planaudit_window_whitelist_names_are_registered():
    """A typo'd or since-renamed name in WINDOW_WHITELIST silently
    re-justifies nothing (same guard as the registry priority list)."""
    from planaudit import WINDOW_WHITELIST

    from pg_archiver_spark.registry import QUERIES

    unknown = [n for n in WINDOW_WHITELIST if n not in QUERIES]
    assert not unknown, f"WINDOW_WHITELIST names not in registry: {unknown}"


CONVERTED_TWO_PASS_OPS = [
    # every op whose corpus-sized single-task window was converted to
    # the scalable.py bucket-offset two-pass in r13 (plan-visible
    # subset; notify-push materializes its ledger so its interior
    # plan is pinned by the 3-SF hash gate instead)
    "analytics_ks_test",
    "analytics_mannwhitney_u",
    "analytics_rfm_segments",
    "analytics_spearman_corr",
    "ml_calibration_bins",
    "ml_confusion_threshold_sweep",
    "ml_brier_decomposition",
    "ml_roc_auc",
    "ml_pr_auc_average_precision",
    "ml_lift_gains_table",
    "pipeline_curriculum_phases",
    "text_zipf_fit",
    "window_percent_rank",
]


def test_converted_ops_keep_two_pass_plan(spark, sf_dir):
    """Regression pin for the r13 window conversions: each converted
    op's physical plan must still carry the width_bucket two-pass
    marker (a revert to the single-task global window would drop it —
    and would only be caught by the slower full planaudit run
    otherwise)."""
    from pg_archiver_spark.plans.inspect import physical_plan

    for name in CONVERTED_TWO_PASS_OPS:
        plan = physical_plan(QUERIES[name](spark, sf_dir))
        assert "width_bucket" in plan, f"{name} lost the two-pass rank"


def test_int64_headroom_lint_clean():
    """VERDICT r12 #3: the int64-headroom audit is mechanized — every
    big-literal integer multiplication in the package either carries a
    DECIMAL(38)/HUGEINT promotion, a documented envelope marker, or a
    bound-justified suppression; stale suppressions also fail."""
    from intlint import scan, stale_suppressions

    findings = scan()
    assert not findings, (
        "unsuppressed big-literal multiplications (promote to "
        f"DECIMAL(38,0)/HUGEINT or document the envelope): {findings}"
    )
    stale = stale_suppressions()
    assert not stale, f"stale intlint suppressions — prune: {stale}"


def test_bucketed_prefix_sums_match_bruteforce(spark):
    """scalable.bucketed_prefix_sums (the two-pass bucket-offset
    rewrite of the single-task global cumulative window) must return
    bit-identical prefix sums / totals to a plain Python scan, on a
    gapped, shuffled, negative-valued distinct-key frame."""
    import random

    from pg_archiver_spark.operators.scalable import bucketed_prefix_sums

    rng = random.Random(13)
    keys = rng.sample(range(-5000, 5000), 700)  # distinct, gapped
    data = [(k, rng.randint(0, 9), rng.randint(0, 9)) for k in keys]
    df = spark.createDataFrame(data, "v long, ca long, cb long")
    got = {
        r.v: (r.ca_prefix, r.cb_prefix, r.ca_tot, r.cb_tot)
        for r in bucketed_prefix_sums(df, "v", ["ca", "cb"], n_buckets=16)
        .collect()
    }
    data.sort()
    run_a = run_b = 0
    tot_a = sum(d[1] for d in data)
    tot_b = sum(d[2] for d in data)
    for v, ca, cb in data:
        assert got[v] == (run_a, run_b, tot_a, tot_b), v
        run_a += ca
        run_b += cb


def test_bucketed_global_rank_and_ntile_match_window(spark):
    """scalable.bucketed_global_rank + ntile_from_rank must reproduce
    row_number()/NTILE(4) exactly — including duplicate keys broken by
    the id tiebreak and a descending sort — on a random frame."""
    import random

    from pyspark.sql import Window
    import pyspark.sql.functions as F

    from pg_archiver_spark.operators.scalable import (
        bucketed_global_rank,
        ntile_from_rank,
    )

    rng = random.Random(31)
    # heavy ties: keys drawn from a small domain
    data = [(i, rng.randint(0, 40)) for i in range(503)]
    df = spark.createDataFrame(data, "uid long, key long")
    w = Window.orderBy(F.col("key").desc(), F.col("uid"))
    want = {
        r.uid: (r.rnk, r.tile)
        for r in df.select(
            "uid",
            F.row_number().over(w).alias("rnk"),
            F.ntile(4).over(w).alias("tile"),
        ).collect()
    }
    ranked = bucketed_global_rank(
        df,
        -F.col("key"),
        [F.col("key").desc(), F.col("uid")],
        "rnk",
        "total",
        n_buckets=16,
    )
    got = {
        r.uid: (r.rnk, r.tile)
        for r in ranked.select(
            "uid",
            "rnk",
            ntile_from_rank(F.col("rnk"), F.col("total"), 4).alias("tile"),
        ).collect()
    }
    assert got == want


def test_ntile_from_rank_small_totals(spark):
    """total < n must reproduce NTILE's tile == rank behavior (the
    branch where base == 0 and the guarded dead branch never fires)."""
    import pyspark.sql.functions as F

    from pg_archiver_spark.operators.scalable import ntile_from_rank

    df = spark.createDataFrame([(1, 3), (2, 3), (3, 3)], "r long, t long")
    got = sorted(
        r.tile
        for r in df.select(
            ntile_from_rank(F.col("r"), F.col("t"), 4).alias("tile")
        ).collect()
    )
    assert got == [1, 2, 3]


def test_brier_resolution_decimal_promotion_in_spark(spark):
    """Drive the exact Spark expression from ml_brier_decomposition on
    a 1-row frame whose n*sy exceeds int64: the promoted-operand form
    must return the exact big-int result (the un-promoted form wraps).
    """
    df = spark.createDataFrame(
        [(2**33, 2**31, 2**32, 2**32)], "n long, sy long, nk long, sy_tot long"
    )
    import pyspark.sql.functions as F

    got = df.select(
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * sy"
            " - CAST(nk AS DECIMAL(38,0)) * sy_tot)"
            " * (CAST(n AS DECIMAL(38,0)) * sy"
            "    - CAST(nk AS DECIMAL(38,0)) * sy_tot)"
            " DIV nk AS DECIMAL(38,0))"
        ).alias("v")
    ).collect()[0].v
    want = (2**33 * 2**31 - 2**32 * 2**32) ** 2 // 2**32
    assert int(got) == want
