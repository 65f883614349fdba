"""Generate OPERATORS.md — the registered operator inventory.

One row per registry entry: name, oracle status (sql-checked vs
rows-only), implementing module, and the docstring's first sentence.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pg_archiver_spark.registry import ORACLES, QUERIES, load_all_operators

load_all_operators()

# Operators that are exact/global ground-truth twins of a scale-safe
# alternate: correct at any SF but deliberately quadratic or
# single-task, so at 100 TB you run the named alternate instead.
WEAK_AT_SCALE = {
    "dedup_ngram_jaccard": "minhash_neardup",
    "dedup_embedding_cosine": "sim_ann_lsh / sim_ann_ivf_partitioned",
    "window_ntile": "window_ntile_scalable",
    # r7: exact order-statistics forms whose per-group sort/buffer is
    # single-task; each docstring names the same substitute.
    "analytics_gini_concentration": "window_ntile_scalable-style range-partitioned ranks",
    "pipeline_length_batching": "range-partitioned rank (window_ntile_scalable pattern) when one length value outgrows a task",
    "agg_weighted_median": "agg_approx_percentile (weight-expanded)",
    "window_rolling_median": "agg_approx_percentile (per-day partials)",
    # r14 (VERDICT r13 item #7): the prep funnel's near-dup stage is the
    # same exact shingle-Jaccard pair join as dedup_ngram_jaccard; the
    # docstring already names minhash_neardup as the drop-in LSH form.
    "pipeline_training_prep": "minhash_neardup (swap the exact shingle-Jaccard dedup stage for the banded LSH form)",
}


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.strip().split())
    for stop in [". ", ".\n"]:
        if stop in text:
            return text.split(stop)[0] + "."
    return text[:160]


def main() -> None:
    lines = [
        "# OPERATORS — registered inventory (auto-generated by tools/inventory.py)",
        "",
        f"{len(QUERIES)} operators: {len(ORACLES)} sql-checked against the DuckDB "
        f"oracle, {len(QUERIES) - len(ORACLES)} rows-only. Every name is a key of "
        "`__spark_entry__.queries()`; sql-checked ops hash-match at sf0.001, "
        "sf0.01, and sf0.1 (`tools/check.py <sf_dir>`).",
        "",
        "`weak_at_scale(→ alt)` marks exact/global ground-truth twins that are "
        "deliberately quadratic or single-task: correct at any SF, but at "
        "100 TB you run the named scale-safe alternate instead.",
        "",
        "| operator | oracle | module | what it does |",
        "|---|---|---|---|",
    ]
    for name in sorted(QUERIES):
        fn = QUERIES[name]
        module = fn.__module__.replace("pg_archiver_spark.", "")
        oracle = "sql" if name in ORACLES else "rows-only"
        if name in WEAK_AT_SCALE:
            oracle += f" · weak_at_scale(→ {WEAK_AT_SCALE[name]})"
        desc = first_sentence(fn.__doc__).replace("|", "\\|")
        lines.append(f"| `{name}` | {oracle} | {module} | {desc} |")
    with open(os.path.join(ROOT, "OPERATORS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote OPERATORS.md ({len(QUERIES)} operators, {len(ORACLES)} sql-checked)")


if __name__ == "__main__":
    main()
