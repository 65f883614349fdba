"""The operator contract registry.

Every operator declared in SURVEY.md §2.B registers here exactly once:
a name, a Spark query function (spark, sf_dir) -> DataFrame, and (when
SQL-expressible) the equivalent DuckDB oracle SQL. ``__spark_entry__.py``
exposes these to the driver harness.

Register with the decorator:

    @register("project_prune", oracle="SELECT ... FROM lineitem ...")
    def project_prune(spark, sf_dir):
        ...

Rows-only ops (no DuckDB equivalent) pass oracle=None.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate operator registration: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Names the correctness driver should reach FIRST. The driver checks
# only the first 50 registered queries per round (SURVEY.md §9), so
# registration order is a verification budget that must be RE-PINNED
# every round (the list does not rotate by itself).
# ROUND-14 PIN: all 50 r13-window names landed fresh r13 (and r14)
# evidence and are deleted. No op's output hash changes in round 14
# (delete-behind by key range and the schema-pinned ledger read change
# no registered op's result), so the window is a pure freshness
# rotation, oldest driver evidence first: all 29 remaining r5-evidence
# greens, topped up with the 21 oldest r6-evidence greens, each in
# registry order.
# ROUND-15 PIN (write now in case of context reset): delete every
# name below that holds r14 evidence (expected: all 50), bump
# _PIN_ROUND to 15, lead with any r15 session additions / changed-
# hash ops, then fill oldest-evidence-first greens — the pool after
# this rotation is the 27 remaining r6 greens (scan_parquet_full,
# sample_deterministic, union_all_multi_table, and onward in registry
# order), then r7.
_DRIVER_PRIORITY = [
    # oldest-driver-evidence greens (all 29 remaining r5-evidence ops,
    # registry order):
    "sim_batch_knn_join",
    "composed_q7_volume_shipping",
    "join_null_safe_eq",
    "composed_q4_priority_exists",
    "join_scd2_pointintime",
    "composed_q19_disjunctive",
    "join_asof_nearest",
    "source_csv_permissive",
    "scan_metadata_columns",
    "scan_partition_pruned_static",
    "composed_q6_forecast_revenue",
    "maintenance_retention_drop_partitions",
    "source_jsonl_schema_infer",
    "maintenance_dataset_diff",
    "merge_cdc_apply",
    "window_ratio_to_report",
    "pipeline_dataset_card",
    "pipeline_vocab_coverage",
    "pipeline_dedup_keep_best",
    "pipeline_quality_weighted_sample",
    "pipeline_bpe_pair_counts",
    "text_entropy_quality",
    "text_gopher_rules",
    "text_unigram_logprob",
    "udf_arrow_optimized",
    "stream_sliding",
    "stream_session",
    "stream_static_enrich",
    "stream_jdbc_sink",
    # next-oldest greens (r6 evidence, registry order), topping up to
    # 50:
    "agg_group_pricing",
    "agg_having",
    "agg_distinct_per_group",
    "agg_rollup",
    "agg_cube",
    "agg_grouping_sets",
    "agg_percentile",
    "agg_pivot",
    "agg_time_bucket_rollup",
    "sim_cosine_topk",
    "sim_label_avg",
    "project_prune",
    "select_literal",
    "filter_in_list",
    "filter_null_safe",
    "join_broadcast_dim",
    "join_star_multiway",
    "join_left_outer",
    "join_semi",
    "join_anti",
    "join_theta_range",
]

# The round this pin was written for. tests/test_registry_rotation.py
# ignores CORRECTNESS files from rounds >= this when deciding whether
# the window is stale (ADVICE r9 #1: the driver writes CORRECTNESS_r12
# DURING round 12, giving the window ops fresh full passes -- that is
# the pin WORKING, not a stale pin; only evidence from rounds BEFORE
# the pin means the budget would be wasted re-verifying greens).
# ADVICE r10 #4: the rotation test also asserts _PIN_ROUND equals
# 1 + the max round present in CORRECTNESS_r*.json, so bumping this
# without actually re-pinning the window re-arms the tripwire instead
# of disarming it.
_PIN_ROUND = 14


def load_all_operators() -> None:
    """Import every module that registers operators (idempotent), then
    order the registry so ``_DRIVER_PRIORITY`` names come first."""
    # Imports are for their registration side effects.
    from pg_archiver_spark.operators import (  # noqa: F401
        aggregates,
        analytics,
        filters,
        joins,
        scans,
        setops,
        sorts,
        statistics,
        subqueries,
        windows,
    )
    from pg_archiver_spark.functions import (  # noqa: F401
        curation,
        dedup,
        multimodal,
        pipeline,
        scalars,
        similarity,
        text,
        udfs,
    )
    from pg_archiver_spark.streaming import windows as stream_windows  # noqa: F401
    from pg_archiver_spark.streaming import archival  # noqa: F401
    from pg_archiver_spark.sources import jdbc, pyds, warc  # noqa: F401

    ordered = [n for n in _DRIVER_PRIORITY if n in QUERIES] + [
        n for n in QUERIES if n not in _DRIVER_PRIORITY
    ]
    for mapping in (QUERIES, ORACLES):
        items = {n: mapping[n] for n in ordered if n in mapping}
        mapping.clear()
        mapping.update(items)
