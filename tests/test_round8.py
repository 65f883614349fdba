"""Round-8 tests: VERDICT r7 follow-ups (seed-vocab cap, Postgres-dialect
delete-behind emission) and round-8 ops."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pg_archiver_spark.catalog import load
from pg_archiver_spark.registry import QUERIES, load_all_operators

load_all_operators()


def test_unigram_seed_vocab_collect_is_capped(spark, sf_dir, monkeypatch):
    """VERDICT r7 #3: the unigram-EM seed vocabulary must be a bounded
    collect. Force a cap far below the fixture's candidate count and
    assert the op still runs end-to-end (single-char coverage keeps
    every word segmentable) and stays deterministic."""
    from pg_archiver_spark.functions import curation

    # The fixture's uncapped multi-char candidate space must exceed the
    # forced cap, or this test proves nothing.
    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .count()
    )
    n_multi = (
        words.select(F.explode(
            F.expr(
                "flatten(transform(sequence(0, length(w)-1), i -> "
                "transform(sequence(2, 4), l -> substring(w, i+1, l))))"
            )
        ).alias("tok"))
        .filter(F.length("tok") > 1)
        .select("tok")
        .distinct()
        .count()
    )
    assert n_multi > 50, "fixture too small for the cap to bind"

    monkeypatch.setattr(curation, "UNIGRAM_SEED_CAP", 50)
    rows = QUERIES["pipeline_unigram_tokenizer_em"](spark, sf_dir).collect()
    assert len(rows) > 0
    rows2 = QUERIES["pipeline_unigram_tokenizer_em"](spark, sf_dir).collect()
    assert [(r.tok, r.n_uses) for r in rows] == [
        (r.tok, r.n_uses) for r in rows2
    ]


# -- Postgres-dialect delete-behind statement pin (VERDICT r7 #6) ------
#
# The archiver's write path (delete-behind, main.go:131-145 semantics)
# runs live only against embedded Derby in this harness; these tests pin
# the EXACT statement text + parameter binding the kernel emits under
# the `postgres` dialect (array bind via ANY) and the `standard` dialect
# (quoted identifier + positional binds), so the Derby stand-in cannot
# mask drift on the write path.


class _RecordingCursor:
    def __init__(self, rowcount_per_execute):
        self.executed = []  # (sql, params) tuples
        self._rc = rowcount_per_execute
        self.rowcount = -1

    def execute(self, sql, params=None):
        self.executed.append((sql, params))
        self.rowcount = self._rc


class _RecordingConn:
    def __init__(self, rowcount_per_execute=-1):
        self.cur = _RecordingCursor(rowcount_per_execute)
        self.commits = 0
        self.closed = False

    def cursor(self):
        return self.cur

    def commit(self):
        self.commits += 1

    def close(self):
        self.closed = True


def test_delete_behind_postgres_dialect_exact_sql():
    from pg_archiver_spark.sources.jdbc import _delete_partition_kernel

    conn = _RecordingConn(rowcount_per_execute=3)
    n = _delete_partition_kernel(
        iter(range(7)),
        "archived_events",
        "id",
        lambda: conn,
        batch_size=3,
        dialect="postgres",
    )
    # Chunked: 7 keys at batch_size=3 → 3 round-trips, one array bind
    # each — never row-at-a-time (the reference loops per row).
    assert [s for s, _ in conn.cur.executed] == [
        "DELETE FROM archived_events WHERE id = ANY(%s)"
    ] * 3
    assert [p for _, p in conn.cur.executed] == [
        ([0, 1, 2],),
        ([3, 4, 5],),
        ([6],),
    ]
    # One commit per partition (idempotent task retry), connection
    # closed, rowcounts accumulated.
    assert conn.commits == 1 and conn.closed
    assert n == 9


def test_delete_behind_standard_dialect_exact_sql():
    from pg_archiver_spark.sources.jdbc import _delete_partition_kernel

    conn = _RecordingConn(rowcount_per_execute=2)
    n = _delete_partition_kernel(
        iter([10, 11, 12]),
        "sink_events",
        "batch_id",
        lambda: conn,
        batch_size=2,
        dialect="standard",
    )
    # Derby/standard: quoted identifier (Spark's JDBC writer creates
    # quoted lowercase columns) + positional ? binds.
    assert conn.cur.executed == [
        ('DELETE FROM sink_events WHERE "batch_id" IN (?,?)', [10, 11]),
        ('DELETE FROM sink_events WHERE "batch_id" IN (?)', [12]),
    ]
    assert n == 4


def test_delete_behind_unknown_rowcount_not_counted():
    from pg_archiver_spark.sources.jdbc import _delete_partition_kernel

    # DB-API rowcount == -1 ("unknown") must not be summed as -1.
    conn = _RecordingConn(rowcount_per_execute=-1)
    n = _delete_partition_kernel(
        iter([1, 2]), "t", "id", lambda: conn, batch_size=10
    )
    assert n == 0 and conn.commits == 1


# -- round-8 operator tests --------------------------------------------


def test_repeated_substring_spans_match_python_oracle(spark, sf_dir):
    from pg_archiver_spark.functions.dedup import SPAN_K

    docs = {
        r.doc_id: r.text.split(" ")
        for r in load(spark, sf_dir, "documents").collect()
    }
    # Window → owning docs.
    owners = {}
    for d, toks in docs.items():
        for i in range(len(toks) - SPAN_K + 1):
            owners.setdefault(" ".join(toks[i : i + SPAN_K]), set()).add(d)
    expected = {}
    for d, toks in docs.items():
        pos = [
            i
            for i in range(len(toks) - SPAN_K + 1)
            if len(owners[" ".join(toks[i : i + SPAN_K])]) >= 2
        ]
        if not pos:
            continue
        spans = []
        s = e = None
        for p in pos:  # interval union of [p, p+K-1]
            if s is None:
                s, e = p, p + SPAN_K - 1
            elif p <= e:  # overlaps the running span
                e = max(e, p + SPAN_K - 1)
            else:
                spans.append((s, e))
                s, e = p, p + SPAN_K - 1
        spans.append((s, e))
        lens = [e - s + 1 for s, e in spans]
        expected[d] = (len(spans), sum(lens), max(lens))
    rows = QUERIES["dedup_repeated_substring_spans"](spark, sf_dir).collect()
    got = {r.doc_id: (r.n_spans, r.covered_tokens, r.max_span_len) for r in rows}
    assert got == expected


def test_readability_totals_match_python(spark, sf_dir):
    import re

    rows = QUERIES["text_readability"](spark, sf_dir).collect()
    docs = load(spark, sf_dir, "documents").collect()
    by_lang = {}
    for r in docs:
        t, s = len(r.text.split(" ")), len(re.findall(r"[aeiouy]+", r.text))
        n, tt, ss = by_lang.get(r.lang, (0, 0, 0))
        by_lang[r.lang] = (n + 1, tt + t, ss + s)
    for r in rows:
        n, tt, ss = by_lang[r.lang]
        assert (r.n_docs, r.total_tokens, r.total_syllables) == (n, tt, ss)
        assert r.tokens_per_doc_milli == tt * 1000 // n
        assert r.syll_per_word_milli == ss * 1000 // tt
        assert r.flesch_est_milli == (
            206835 - 1015 * (tt * 1000 // n) // 1000
            - 84600 * (ss * 1000 // tt) // 1000
        )


def test_ngram_novelty_conservation_and_monotone_head(spark, sf_dir):
    from pg_archiver_spark.functions.text import NOVELTY_NGRAM

    rows = QUERIES["text_ngram_novelty_decay"](spark, sf_dir).collect()
    docs = load(spark, sf_dir, "documents").collect()
    # Conservation: Σ per-decile novel grams == |distinct grams corpus-wide|
    # and Σ total_ngrams == Σ per-doc distinct gram counts.
    all_grams, per_doc_total = set(), 0
    for r in docs:
        toks = r.text.split(" ")
        gs = {
            " ".join(toks[i : i + NOVELTY_NGRAM])
            for i in range(len(toks) - NOVELTY_NGRAM + 1)
        }
        per_doc_total += len(gs)
        all_grams |= gs
    assert sum(r.total_ngrams for r in rows) == per_doc_total
    # First decile contains doc_id 0 → its grams are all novel, so the
    # first decile's novelty rate must strictly exceed the last's
    # (the decay property on a corpus with planted duplicates).
    assert rows[0].novel_permille > rows[-1].novel_permille
    # Permille bounded.
    assert all(0 <= r.novel_permille <= 1000 for r in rows)


def test_pr_auc_matches_python_tie_grouped(spark, sf_dir):
    row = QUERIES["ml_pr_auc_average_precision"](spark, sf_dir).collect()[0]
    emb = load(spark, sf_dir, "embeddings").collect()
    scored = [
        (
            round(sum(float(x) for x in r.embedding[:8]) * 1e6),
            1 if r.label < 5 else 0,
        )
        for r in emb
    ]
    from collections import defaultdict

    groups = defaultdict(lambda: [0, 0])
    for s, p in scored:
        groups[s][0] += 1
        groups[s][1] += p
    cum_n = cum_tp = ap_num = 0
    for s in sorted(groups, reverse=True):
        t, tp = groups[s]
        cum_n += t
        cum_tp += tp
        ap_num += tp * cum_tp * 1_000_000 // cum_n
    n_pos = sum(p for _, p in scored)
    n_neg = len(scored) - n_pos
    assert (row.n_pos, row.n_neg) == (n_pos, n_neg)
    assert row.ap_micro == ap_num // n_pos
    assert row.prevalence_micro == n_pos * 1_000_000 // len(scored)


def test_ivf_partitioned_equals_single_probe(spark, sf_dir):
    a = QUERIES["sim_ann_ivf"](spark, sf_dir).collect()
    b = QUERIES["sim_ann_ivf_partitioned"](spark, sf_dir).collect()
    assert [(r.vec_id, r.cos_sim) for r in a] == [
        (r.vec_id, r.cos_sim) for r in b
    ]
