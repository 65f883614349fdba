"""int64-headroom lint (VERDICT r12 #3).

ADVICE r11/r12 found, by hand, three silent-wrap classes: integer
exactness scalers (`* 1000`, `* 1000000`, `* 10000`) multiplied onto
corpus-dependent aggregates whose product exceeds 2^63 long before the
scaled OUTPUT does. Spark non-ANSI wraps silently; the DuckDB oracle
errors — so the defect ships green at fixture scale and detonates at
cluster scale. This lint mechanizes that audit:

Rule: every function in ``pg_archiver_spark`` that multiplies by an
integer literal ≥ 1000 (either operand order, or ``* 1e6``-style) must
carry, somewhere in its source (docstring, comment, or the expression
itself), an EVIDENCE MARKER that the product's envelope was thought
about — a DECIMAL(38,0)/HUGEINT promotion, or a documented bound
(the registry's >2^53 audit-note convention: "int64", "2^53",
"envelope", "fits", "bounded", "overflow", "exact to n"). Functions
with neither are flagged unless suppressed here WITH a justification
(the planaudit whitelist discipline).

Run: ``python tools/intlint.py`` → exit 1 on unsuppressed findings.
Wired into pytest via tests/test_round13.py.
"""

from __future__ import annotations

import ast
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PKG = os.path.join(ROOT, "pg_archiver_spark")

BIG_MUL = re.compile(r"\*\s*1[0-9_]{3,}|[0-9_]{4,}\s*\*|\*\s*1e[3-9]")
MARKERS = (
    "DECIMAL(38",
    "decimal(38",
    "HUGEINT",
    "envelope",
    "int64",
    "2^53",
    "fits",
    "bounded",
    "overflow",
    "exact to n",
)

# "relative/file.py:function" -> why the product provably cannot wrap.
# Every entry is a BOUND argument, not a waiver: the multiplied operand
# is per-row / per-entity / per-panel / a constant — never a
# corpus-sized aggregate.
SUPPRESS = {
    "catalog.py:ts_ns_literal": "constant epoch-seconds literal * 1e9 "
    "— a fixed timestamp, ~1.7e18, one-shot",
    "streaming/windows.py:stream_session": "SUM(session_size)*1000 — "
    "session sizes over the fixture replay window; Σ ≤ events*1000, "
    "holds to 9.2e15 events",
    "streaming/archival.py:stream_chained_window_agg": "unix_timestamp*"
    "1000 — epoch-ms conversion, ~1.7e12, scale-free",
    "operators/statistics.py:analytics_permutation_test": "(n_extreme+"
    "1)*1000 with n_extreme ≤ PERM_B=32 — constant-bounded",
    "operators/analytics.py:analytics_mad_outliers": "3*1.4826*mad — "
    "float MAD gate, no integer product",
    "operators/analytics.py:analytics_benford_audit": "digit-count*1000"
    " ≤ N*1000 — holds to 9.2e15 rows (output is permille of counts)",
    "operators/analytics.py:_mkv_final_rows_sql": "ROUND(e_k*1000.0) — "
    "float removal-effects in [0,1] scaled to milli, O(1) magnitude",
    "operators/analytics.py:analytics_markov_removal_attribution": "same"
    " float milli-scaling as _mkv_final_rows_sql, O(1) magnitude",
    "operators/analytics.py:analytics_stickiness_dau_wau": "Σdau*1000 ≤ "
    "|days|*|users|*1000 and n_days*wau denominators — hold to ~9e15 "
    "user-days",
    "operators/analytics.py:_seq_oracle": "COUNT(*)*1000 per user-"
    "pattern cell ≤ N*1000 — holds to 9.2e15 matches",
    "operators/analytics.py:analytics_event_sequence_match": "COUNT(*)*"
    "1000 DIV MAX(path_len) — same bound as its oracle",
    "operators/analytics.py:_rfm_oracle": "per-customer r_days/f_cnt/"
    "m_cents * 1000 — per-entity magnitudes (one customer's recency/"
    "frequency/money), never corpus sums",
    "operators/analytics.py:analytics_rfm_segmentation": "same "
    "per-customer milli-scaling as _rfm_oracle; tercile boundaries are "
    "quantile*1000 scalars",
    "operators/subqueries.py:sql_scripting_batch": "per-group n*1000 "
    "DIV total — holds to 9.2e15 rows per group",
    "functions/dedup.py:pipeline_neardup_eval_pr": "n_tp*1000 over "
    "candidate-pair counts — candidates are band-bucketed (≪ N²), "
    "holds to 9.2e15 candidate pairs",
    "functions/text.py:text_stats": "SUM(n_chars)*1000 ≤ corpus chars *"
    " 1000 — ~1e17 at 100 TB of text, inside int64",
    "functions/text.py:text_quality": "per-doc char/token milli ratios "
    "— per-document magnitudes",
    "functions/text.py:text_tfidf": "tf*1e6 DIV df with tf ≤ per-term "
    "corpus count — holds to 9.2e12 occurrences of one term; beyond "
    "that promote to DECIMAL(38,0) (audit note)",
    "functions/text.py:_gopher_len_flags": "per-doc token/char milli "
    "ratios — per-document magnitudes",
    "functions/text.py:_gopher_len_cte": "oracle twin of "
    "_gopher_len_flags — per-document magnitudes",
    "functions/text.py:text_gopher_rules": "per-doc milli ratios — "
    "per-document magnitudes",
    "functions/text.py:_gopher_rep_cte": "per-doc repeated-window "
    "char counts * 1000 — per-document magnitudes",
    "functions/text.py:text_readability": "corpus ΣWS/ΣWT milli "
    "ratios then fixed Flesch constants (*1015, *84600) on O(1e4) "
    "milli values — sums hold to ~9e15 tokens, constants multiply "
    "O(1e4) ratios",
    "functions/text.py:text_ngram_novelty_decay": "Σn_novel*1000 ≤ "
    "corpus grams * 1000 — ~1e17 at 100 TB",
    "functions/text.py:_sb_oracle": "neg_pico // (n_tri*1e6) — "
    "denominator is per-DOC trigram count * 1e6, per-document",
    "functions/text.py:_pii_oracle": "(Σn_tok−Σn_red)*1000 ≤ corpus "
    "tokens*1000 — ~1e17 at 100 TB",
    "functions/text.py:text_pii_scrub": "same corpus-token milli bound "
    "as _pii_oracle",
    "functions/multimodal.py:multimodal_join": "SUM(n_chars)*1000 — "
    "the text_stats bound",
    "functions/multimodal.py:decode_png": "per-image pixel sums * 1000"
    " — per-file magnitudes (numpy int64 within one image)",
    "functions/multimodal.py:decode_wav": "per-clip sample sums * 1000"
    " — per-file magnitudes",
    "functions/curation.py:pipeline_rlhf_pair_prep": "per-doc "
    "n_tokens*1000+n_chars composite key — per-document",
    "functions/curation.py:_bpe_apply_oracle": "corpus (chars−tokens)*"
    "1000 compression ratio — ~1e17 at 100 TB",
    "functions/curation.py:pipeline_length_batching": "per-BATCH "
    "(count*max_tokens−Σtokens)*1000 with fixed batch size — "
    "per-batch magnitudes",
    "functions/curation.py:_unigram_oracle_sql": "n_uses*1e6 DIV t — "
    "per-vocab-symbol usage * 1e6; holds to 9.2e12 uses per symbol",
    "functions/curation.py:pipeline_dpo_pairs": "per-doc difficulty "
    "composite (n_tokens*1e6) — per-document",
    "functions/curation.py:_fertility_oracle": "per-LANGUAGE "
    "bpe_tokens*1000 — holds to 9.2e15 tokens per language; premium "
    "multiplies O(1e3) milli ratios",
    "functions/curation.py:_es_oracle": "reservoir key ladder: "
    "(−q//1e6)*1e9 with −q ≤ ln(2^24)·1e12 → key ≤ ~1.7e16",
    "functions/curation.py:sample_weighted_reservoir": "same ladder "
    "bound as _es_oracle (q ≤ 0, c ≤ 2^24 documented in-op)",
    "functions/pipeline.py:pipeline_training_prep": "SUM(n_tokens)*1000"
    " — the text_stats corpus-token bound",
    "functions/similarity.py:_ivfpq_oracle": "per-cell LUT distances "
    "scaled 1e6 — fixed 8×16 table, constant",
    "functions/similarity.py:_rank_fraction_scored": "(r−1)*1000 with "
    "r ≤ N — holds to 9.2e15 rows",
    "functions/similarity.py:ml_calibration_bins": "(p_milli−1000y)² ≤ "
    "1e6 per row; Σ ≤ N*1e6 — holds to 9.2e12 rows per bin (output "
    "divides by n first)",
    "functions/similarity.py:ml_knn_eval_accuracy": "panel-row score "
    "*1e6 quantization — per-pair, value-range bounded",
    # (ml_roc_auc cleared itself: the N²-class midrank sum is now
    # DECIMAL(38,0)/HUGEINT-promoted in-op with a documented N ≈ 2.1e9
    # BIGINT output envelope — the marker lives in the code.)
    "functions/similarity.py:_bitext_oracle": "margin ratio *1e6 on "
    "O(1) cosine values — value-range bounded",
}


def scan() -> list[tuple[str, str, int]]:
    findings: list[tuple[str, str, int]] = []
    for root, _, files in os.walk(PKG):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG)
            src = open(path).read()
            lines = src.splitlines()
            seen: set[str] = set()
            for node in ast.walk(ast.parse(src)):
                if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                if node.name in seen:
                    continue
                seen.add(node.name)
                seg = "\n".join(lines[node.lineno - 1 : node.end_lineno])
                hits = BIG_MUL.findall(seg)
                if not hits:
                    continue
                if any(m in seg for m in MARKERS):
                    continue
                key = f"{rel}:{node.name}"
                if key in SUPPRESS:
                    continue
                findings.append((rel, node.name, len(hits)))
    return findings


def stale_suppressions() -> list[str]:
    """Suppressions whose function no longer trips the raw rule (fixed
    or renamed) — prune so the list stays honest."""
    live: set[str] = set()
    for root, _, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG)
            src = open(path).read()
            lines = src.splitlines()
            for node in ast.walk(ast.parse(src)):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    seg = "\n".join(lines[node.lineno - 1 : node.end_lineno])
                    if BIG_MUL.findall(seg) and not any(
                        m in seg for m in MARKERS
                    ):
                        live.add(f"{rel}:{node.name}")
    return sorted(set(SUPPRESS) - live)


def main() -> int:
    findings = scan()
    stale = stale_suppressions()
    for rel, fn, n in findings:
        print(f"UNSUPPRESSED {rel}:{fn} ({n} big-literal multiplications, "
              "no DECIMAL(38)/HUGEINT promotion or envelope note)")
    if stale:
        print("stale suppressions (prune):", ", ".join(stale))
    print(f"intlint: {len(findings)} unsuppressed, "
          f"{len(SUPPRESS)} suppressed-with-bound, {len(stale)} stale")
    return 1 if findings else 0


if __name__ == "__main__":
    sys.exit(main())
