"""Randomized cross-engine equivalence for the round-11 operators.

The driver's hash gate runs only on the fixed fixtures; these tests
re-run the Spark query AND its DuckDB oracle on RANDOM synthetic
corpora seeded with the hostile edges the fixtures never exercise
(single-token docs, repeated panel terms, duplicate embeddings → exact
cosine ties, near-threshold margins) and require the driver-faithful
fingerprints to match. This automates the post-close review's
cross-engine sweep for the new ops."""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import check as ck  # noqa: E402  (driver-faithful comparator)

from pg_archiver_spark.registry import (  # noqa: E402
    ORACLES,
    QUERIES,
    load_all_operators,
)

load_all_operators()

WORDS = [
    "spark", "join", "order", "fast", "hash", "table", "scan",
    "customer", "query", "filter", "window", "batch", "merge", "data",
    "row", "value", "part", "line", "agg", "key", "slow", "small",
    "the", "a",
]


def _rand_documents(rng: np.random.RandomState, n: int) -> pd.DataFrame:
    rows = []
    langs = ["en", "de", "fr", "xx"]
    for i in range(n):
        lang = langs[int(rng.randint(len(langs)))]
        if lang == "xx":
            # the all-single-token language — the sentinel edge
            text = WORDS[int(rng.randint(len(WORDS)))]
        else:
            ln = int(rng.randint(1, 40))
            text = " ".join(
                WORDS[int(rng.randint(len(WORDS)))] for _ in range(ln)
            )
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "lang": lang,
                "source": f"src{int(rng.randint(3))}",
                "n_chars": len(text),
            }
        )
    return pd.DataFrame(rows)


def _rand_embeddings(rng: np.random.RandomState, n: int) -> pd.DataFrame:
    dim = 64  # the fixture embedding contract several ops hardcode
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    # duplicate ~20% of vectors to force EXACT cosine ties (the id
    # tie-break path in both kNN directions)
    for i in range(0, n, 5):
        j = int(rng.randint(n))
        vecs[i] = vecs[j]
    return pd.DataFrame(
        {
            "vec_id": range(n),
            "embedding": [v.tolist() for v in vecs],
            "label": [int(x) for x in rng.randint(0, 4, size=n)],
        }
    )


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


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_bm25_random_corpus_cross_engine(spark, tmp_path, seed):
    rng = np.random.RandomState(seed)
    pq.write_table(
        pa.Table.from_pandas(_rand_documents(rng, 120)),
        str(tmp_path / "documents.parquet"),
    )
    _compare(spark, tmp_path, "sim_bm25_topk")


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_perplexity_filter_random_corpus_cross_engine(
    spark, tmp_path, seed
):
    rng = np.random.RandomState(seed + 10)
    pq.write_table(
        pa.Table.from_pandas(_rand_documents(rng, 100)),
        str(tmp_path / "documents.parquet"),
    )
    _compare(spark, tmp_path, "text_perplexity_filter")


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_domain_reweight_random_corpus_cross_engine(
    spark, tmp_path, seed
):
    rng = np.random.RandomState(seed + 20)
    pq.write_table(
        pa.Table.from_pandas(_rand_documents(rng, 100)),
        str(tmp_path / "documents.parquet"),
    )
    _compare(spark, tmp_path, "pipeline_domain_reweight")


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_bitext_margin_random_embeddings_cross_engine(
    spark, tmp_path, seed
):
    rng = np.random.RandomState(seed + 30)
    pq.write_table(
        pa.Table.from_pandas(_rand_embeddings(rng, 90)),
        str(tmp_path / "embeddings.parquet"),
    )
    _compare(spark, tmp_path, "sim_bitext_margin_mine")


@pytest.mark.parametrize("seed", [0])
def test_pretraining_e2e_random_corpus_cross_engine(
    spark, tmp_path, seed
):
    """The whole 7-stage funnel, Spark vs the chained-CTE oracle, on a
    random corpus — the composition equivalence itself, off-fixture."""
    rng = np.random.RandomState(seed + 40)
    pq.write_table(
        pa.Table.from_pandas(_rand_documents(rng, 150)),
        str(tmp_path / "documents.parquet"),
    )
    _compare(spark, tmp_path, "pipeline_pretraining_e2e")


# ------------------------------------------------ broad random sweep
# Every documents-table op whose oracle needs only the documents view,
# re-run cross-engine on two random corpora. An op joins this list by
# passing; a mismatch here is a fixture-guarded cross-engine defect
# (the sweep's first run found exactly one: text_entropy_quality's
# all-single-token-language NULL, fixed with the -1 sentinel).
BROAD_SWEEP_OPS = [
    "text_wordcount",
    "text_stats",
    "text_tfidf",
    "text_quality",
    "text_gopher_rules",
    "text_gopher_repetition",
    "text_entropy_quality",
    "text_fingerprint",
    "text_bigram_logprob",
    "text_unigram_logprob",
    "text_zipf_fit",
    "text_repetition",
    "dedup_exact",
    "dedup_paragraph",
    "minhash_neardup",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "pipeline_mix_temperature",
    "pipeline_doc_chunking",
    "pipeline_token_budget",
    "pipeline_dsir_resample",
    "pipeline_decontaminate_13gram",
    "text_stupid_backoff_lm",
    "text_pii_scrub",
    "sample_weighted_reservoir",
    "ml_naive_bayes_lang",
]

_SWEEP_DIRS: dict[int, str] = {}


@pytest.fixture(scope="module", params=[7, 8])
def sweep_corpus(request, tmp_path_factory):
    seed = request.param
    if seed not in _SWEEP_DIRS:
        d = tmp_path_factory.mktemp(f"sweep{seed}")
        rng = np.random.RandomState(seed)
        pq.write_table(
            pa.Table.from_pandas(_rand_documents(rng, 120)),
            str(d / "documents.parquet"),
        )
        _SWEEP_DIRS[seed] = str(d)
    return _SWEEP_DIRS[seed]


@pytest.mark.parametrize("name", BROAD_SWEEP_OPS)
def test_broad_random_sweep_cross_engine(spark, sweep_corpus, name):
    import pathlib

    _compare(spark, pathlib.Path(sweep_corpus), name)


# Embeddings-table ops re-run on random 64-dim vectors (with forced
# exact duplicates → cosine ties). Sign-edge-sensitive sketches
# (LSH hyperplane signs, binary/Hamming quantization) are EXCLUDED by
# design: on arbitrary vectors a component can land within an ulp of a
# hyperplane and flip cross-engine — the fixture-margin tripwire tests
# own that risk instead.
EMB_SWEEP_OPS = [
    "sim_cosine_topk",
    "sim_label_avg",
    "sim_batch_knn_join",
    "dedup_embedding_cosine",
    "sim_scalar_quantize_int8",
    "sim_mmr_rerank",
    "sim_maxsim_multivector",
    "sim_matryoshka_eval",
    "dedup_semantic_cluster",
    "sim_bitext_margin_mine",
    "sim_ann_nsw_beam",
    "sim_ann_nsw_recall_eval",
    "ml_ndcg_at_k",
]

_EMB_DIRS: dict[int, str] = {}


@pytest.fixture(scope="module", params=[11, 12])
def emb_corpus(request, tmp_path_factory):
    seed = request.param
    if seed not in _EMB_DIRS:
        d = tmp_path_factory.mktemp(f"emb{seed}")
        rng = np.random.RandomState(seed)
        pq.write_table(
            pa.Table.from_pandas(_rand_embeddings(rng, 400)),
            str(d / "embeddings.parquet"),
        )
        # sim_rrf_fusion fuses a lexical leg over documents too
        pq.write_table(
            pa.Table.from_pandas(_rand_documents(rng, 120)),
            str(d / "documents.parquet"),
        )
        _EMB_DIRS[seed] = str(d)
    return _EMB_DIRS[seed]


@pytest.mark.parametrize("name", EMB_SWEEP_OPS + ["sim_rrf_fusion"])
def test_embeddings_random_sweep_cross_engine(spark, emb_corpus, name):
    import pathlib

    _compare(spark, pathlib.Path(emb_corpus), name)


# ------------------------------------- relational random-fixture sweep
# Representative relational ops (filters/joins/aggs/windows/sorts/
# setops/scalars/composed/analytics/streaming) re-run cross-engine on
# a full random 10-table fixture set from tools/randfixtures.py —
# valid FKs, pinned categorical domains, heavy value ties, duplicated
# event timestamps, and empty groups. This sweep's first full-registry
# run (tools/randsweep.py, 376 ops) found five real fixture-guarded
# defects; the five fixed ops are all pinned here. ml_pca_project is
# excluded by design: its tot-var band is a fixture-envelope pin, not
# an engine-equivalence property (see tools/randsweep.py).
RELATIONAL_SWEEP_OPS = [
    "filter_range_cutoff", "filter_in_list", "filter_null_safe",
    "filter_conjunction",
    "join_inner_equi", "join_broadcast_dim", "join_left_outer",
    "join_semi", "join_anti", "join_theta_range", "join_asof",
    "join_asof_tolerance", "join_interval_pairs", "join_spatial_grid",
    "join_star_multiway",
    "agg_global_stats", "agg_group_pricing", "agg_having",
    "agg_distinct_per_group", "agg_rollup", "agg_cube",
    "agg_grouping_sets", "agg_weighted_median",
    "agg_exact_quantile_twopass", "agg_bitmap_distinct",
    "agg_max_timestamp",
    "window_topk_per_group", "window_rank", "window_lag_lead",
    "window_running_sum", "window_range_frame", "window_ntile",
    "orderby_limit_topk", "global_topk_orders",
    "union_all_multi_table", "union_distinct", "intersect_keys",
    "except_keys",
    "string_funcs", "date_parts_format", "case_when", "json_extract",
    "math_funcs", "date_arith_retention",
    "composed_q3_shipping_priority", "composed_q17_small_qty_revenue",
    "composed_q21_waiting_orders",
    "analytics_sessionize", "analytics_funnel",
    "analytics_retention_cohort", "merge_cdc_apply",
    "pipeline_neardup_eval_pr", "ml_roc_auc", "stream_tumbling_daily",
    # round-12 additions
    "analytics_mann_kendall", "ml_confusion_threshold_sweep",
    "agg_countmin_sketch", "analytics_runs_test", "agg_skew_kurtosis",
    "source_notify_push_archival", "ml_brier_decomposition",
    "analytics_spearman_corr",
]

_REL_DIR: list[str] = []


@pytest.fixture(scope="module")
def rel_corpus(tmp_path_factory):
    if not _REL_DIR:
        import randfixtures

        d = tmp_path_factory.mktemp("relfix")
        randfixtures.gen(21, str(d))
        _REL_DIR.append(str(d))
    return _REL_DIR[0]


@pytest.mark.parametrize("name", RELATIONAL_SWEEP_OPS)
def test_relational_random_sweep_cross_engine(spark, rel_corpus, name):
    import pathlib

    _compare(spark, pathlib.Path(rel_corpus), name)


def _rand_pii_documents(rng: np.random.RandomState, n: int) -> pd.DataFrame:
    """Random corpus with PII-shaped tokens sprinkled in — the regex
    arms the fixed fixtures can never exercise (their vocabulary is
    alphabetic), including boundary shapes: max/min octet counts,
    6/7/16/17-digit numbers, '@' tokens without a TLD."""
    pii_pool = [
        "alice@example.com",
        "b.c-d_e%f+g@mail-host.co.uk",
        "10.0.0.1",
        "255.255.255.255",
        "999.999.999.999",  # loose octet pattern: matches by design
        "1.2.3",            # 3 octets: no match
        "1234567",          # 7 digits: matches
        "123456",           # 6 digits: no match
        "1234567890123456",  # 16 digits: matches
        "12345678901234567",  # 17 digits: no match
        "user@",            # no TLD: no match
        "@host.com",        # no local part: no match
    ]
    base = _rand_documents(rng, n)
    texts = []
    for i, t in enumerate(base["text"]):
        toks = t.split(" ")
        if i % 3 == 0:
            toks.insert(
                int(rng.randint(len(toks))),
                pii_pool[int(rng.randint(len(pii_pool)))],
            )
        texts.append(" ".join(toks))
    base["text"] = texts
    base["n_chars"] = [len(t) for t in texts]
    return base


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_pii_scrub_random_pii_corpus_cross_engine(
    spark, tmp_path, seed
):
    rng = np.random.RandomState(seed + 50)
    pq.write_table(
        pa.Table.from_pandas(_rand_pii_documents(rng, 120)),
        str(tmp_path / "documents.parquet"),
    )
    _compare(spark, tmp_path, "text_pii_scrub")


@pytest.mark.parametrize("seed", [0, 1])
def test_stupid_backoff_random_pii_corpus_cross_engine(
    spark, tmp_path, seed
):
    """The LM op on the PII-bearing corpus too: punctuation-heavy
    tokens stress the n-gram join keys (dots, at-signs, plus)."""
    rng = np.random.RandomState(seed + 60)
    pq.write_table(
        pa.Table.from_pandas(_rand_pii_documents(rng, 100)),
        str(tmp_path / "documents.parquet"),
    )
    _compare(spark, tmp_path, "text_stupid_backoff_lm")


def _dense_baskets(rng: np.random.RandomState, n_orders: int,
                   n_parts: int) -> pd.DataFrame:
    """Dense market baskets: a small part vocabulary shared across many
    orders, so top-part pairs co-occur heavily — the regime the sparse
    TPC-H fixture never reaches (1 output row at sf0.1, ADVICE r11 #4).
    Includes duplicate order-lines the op's DISTINCT basket projection
    must collapse before counting support."""
    rows = []
    for o in range(n_orders):
        k = int(rng.randint(2, 7))
        for p in rng.choice(n_parts, size=k, replace=True):
            rows.append({"l_orderkey": o, "l_partkey": int(p)})
    return pd.DataFrame(rows)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_market_basket_dense_random_cross_engine(spark, tmp_path, seed):
    """Cross-engine equivalence of the pair join, confidence, and lift
    ranking on a DENSE basket corpus where the result set is large —
    exercising the path the fixture's sparse baskets barely touch."""
    rng = np.random.RandomState(seed + 70)
    pq.write_table(
        pa.Table.from_pandas(_dense_baskets(rng, 200, 12)),
        str(tmp_path / "lineitem.parquet"),
    )
    rows = QUERIES["analytics_market_basket_lift"](
        spark, str(tmp_path)
    ).collect()
    # the dense corpus must actually exercise the pair/lift machinery
    assert len(rows) >= 10
    assert any(r.n_ab > 1 for r in rows)
    _compare(spark, tmp_path, "analytics_market_basket_lift")
