"""Round-11 continuation ops: stupid-backoff trigram LM + PII scrub.

Each op gets (a) a full Python brute-force replay on a controlled
corpus, (b) its hostile edges cross-engine (empty train split; a
PII-bearing corpus the fixtures can never provide), and (c) a ladder
range pin on the new (c, t) domain — the same discipline as the BM25 /
perplexity-filter tests in test_round11.py.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import check as ck  # noqa: E402

from pg_archiver_spark.registry import (  # noqa: E402
    ORACLES,
    QUERIES,
    load_all_operators,
)

load_all_operators()

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _write_docs(tmp_path, rows):
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame(rows)),
        str(tmp_path / "documents.parquet"),
    )


def _cross_engine(spark, tmp_path, name):
    """Driver-faithful fingerprint compare on a tmp corpus."""
    import duckdb

    df = QUERIES[name](spark, str(tmp_path))
    srows = [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    ocols, orows = ck._oracle_rows_pandas(con.execute(ORACLES[name]))
    assert ck.frame_fingerprint(df.columns, srows) == ck.frame_fingerprint(
        ocols, orows
    ), name
    return srows, df.columns


def _split(doc_id: int) -> str:
    h = hashlib.md5(str(doc_id).encode()).hexdigest()[0]
    return "train" if h <= "7" else "eval"


# ------------------------------------------------ stupid-backoff LM


def _sb_replay(rows):
    """Full float replay of the op: md5 split, train count tables,
    3-level backoff with add-1 unigram floor, per-(lang, split)
    report. Levels/counts are exact; surprises are math.log floats."""
    from pg_archiver_spark.functions.text import SB_LN04_PICO

    ln04 = SB_LN04_PICO / 1e12
    tri_c, big_c, uni_c = {}, {}, {}
    for r in rows:
        if _split(r["doc_id"]) != "train":
            continue
        t = r["text"].split(" ")
        for i in range(len(t) - 2):
            tri_c[(t[i], t[i + 1], t[i + 2])] = (
                tri_c.get((t[i], t[i + 1], t[i + 2]), 0) + 1
            )
        for i in range(len(t) - 1):
            big_c[(t[i], t[i + 1])] = big_c.get((t[i], t[i + 1]), 0) + 1
        for w in t:
            uni_c[w] = uni_c.get(w, 0) + 1
    n_tok = sum(uni_c.values())
    vocab = len(uni_c)
    out = {}
    for r in rows:
        t = r["text"].split(" ")
        if len(t) < 3:
            continue
        sp = _split(r["doc_id"])
        key = (r["lang"], sp)
        g = out.setdefault(
            key,
            {
                "n_docs": 0,
                "n_tri": 0,
                "hits": [0, 0, 0],
                "neg": 0.0,
                "doc_means": [],
            },
        )
        g["n_docs"] += 1
        doc_neg, doc_n = 0.0, 0
        for i in range(len(t) - 2):
            w1, w2, w3 = t[i], t[i + 1], t[i + 2]
            if (w1, w2, w3) in tri_c:
                lvl = 0
                s = math.log(
                    tri_c[(w1, w2, w3)] / big_c[(w1, w2)]
                )
            elif (w2, w3) in big_c:
                lvl = 1
                s = ln04 + math.log(big_c[(w2, w3)] / uni_c[w2])
            else:
                lvl = 2
                s = 2 * ln04 + math.log(
                    (uni_c.get(w3, 0) + 1) / max(n_tok + vocab, 1)
                )
            g["hits"][lvl] += 1
            g["n_tri"] += 1
            doc_neg -= s
            doc_n += 1
        g["neg"] += doc_neg
        g["doc_means"].append(doc_neg / doc_n)
    return out


def test_stupid_backoff_python_replay(spark, tmp_path):
    """Controlled corpus with every backoff level reachable: levels
    and counts must be EXACT, means within 1 micro of the math.log
    replay (the ladder is pinned to <=1 pico per term)."""
    rows = [
        {"doc_id": i, "lang": "en" if i % 2 == 0 else "de",
         "text": txt}
        for i, txt in enumerate(
            [
                "a b c a b c d",
                "a b c d e",
                "b c d",
                "e f g h",
                "x y z a b",
                "a b",          # no trigram: excluded
                "q",            # no trigram: excluded
                "c d e f",
                "f g h a b c",
                "z z z z",
            ]
        )
    ]
    _write_docs(tmp_path, rows)
    got = {
        (r.lang, r.split): r
        for r in QUERIES["text_stupid_backoff_lm"](
            spark, str(tmp_path)
        ).collect()
    }
    want = _sb_replay(rows)
    assert set(got) == set(want)
    saw_backoff = 0
    for key, w in want.items():
        g = got[key]
        assert g.n_docs == w["n_docs"], key
        assert g.n_trigrams == w["n_tri"], key
        assert (g.tri_hits, g.bi_hits, g.uni_hits) == tuple(
            w["hits"]
        ), key
        saw_backoff += w["hits"][1] + w["hits"][2]
        mean_ref = w["neg"] * 1e6 / w["n_tri"]
        assert abs(g.mean_surprise_micro - math.floor(mean_ref)) <= 1, key
        max_ref = max(w["doc_means"]) * 1e6
        assert abs(g.max_doc_mean_micro - math.floor(max_ref)) <= 1, key
    # the corpus was built so eval docs actually back off
    assert saw_backoff > 0
    _cross_engine(spark, tmp_path, "text_stupid_backoff_lm")


def test_stupid_backoff_empty_train_edge(spark, tmp_path):
    """HOSTILE split: every doc hashes to the eval band, the train
    model is EMPTY — all trigrams take the level-2 add-1 floor with
    t = greatest(N+V, 1) = 1, and Spark must still equal DuckDB."""
    eval_ids = [i for i in range(200) if _split(i) == "eval"][:6]
    rows = [
        {"doc_id": i, "lang": "en", "text": "u v w x y"}
        for i in eval_ids
    ]
    _write_docs(tmp_path, rows)
    srows, cols = _cross_engine(
        spark, tmp_path, "text_stupid_backoff_lm"
    )
    by = dict(zip(cols, srows[0]))
    assert by["split"] == "eval"
    assert by["uni_hits"] == by["n_trigrams"] > 0
    # ln((0+1)/1) = 0, so the whole surprise is the 2*ln(0.4) penalty
    want = math.floor(2 * 0.916290731874155 * 1e6)
    assert abs(by["mean_surprise_micro"] - want) <= 1


def test_sb_ladder_pinned_on_lm_ranges():
    """New (c, t) domains for the ladder: trigram ratios (small c and
    t), unigram floors with corpus-scale t = N+V up to ~2e6, and the
    degenerate (1, 1). Pin q against math.log (<=1 pico)."""
    import duckdb as _duck

    from pg_archiver_spark.functions.curation import _unigram_q_stages

    cases = [
        (1, 1),
        (1, 2),
        (1, 3),
        (2, 5),
        (7, 11),
        (1, 131),
        (1, 2_000_003),
        (999_983, 2_000_003),
        (1_999_999, 2_000_003),
    ]
    con = _duck.connect()
    for c, t in cases:
        sql = f"SELECT {c}::BIGINT AS c, {t}::BIGINT AS t"
        for stage in _unigram_q_stages():
            sql = f"SELECT *, {', '.join(stage)} FROM ({sql})"
        got = con.execute(f"SELECT q FROM ({sql})").fetchone()[0]
        want = round((math.log(c) - math.log(t)) * 1e12)
        assert abs(got - want) <= 1, (c, t, got, want)


# --------------------------------------------------------- PII scrub


def _pii_replay(rows):
    import re

    from pg_archiver_spark.functions.text import (
        PII_EMAIL_RE,
        PII_IDNUM_RE,
        PII_IPV4_RE,
        PII_KANON,
    )

    freq = {}
    for r in rows:
        for tok in r["text"].split(" "):
            freq[tok] = freq.get(tok, 0) + 1

    def cat(tok):
        if re.search(PII_EMAIL_RE, tok):
            return 1
        if re.search(PII_IPV4_RE, tok):
            return 2
        if re.search(PII_IDNUM_RE, tok):
            return 3
        if freq[tok] < PII_KANON:
            return 4
        return 0

    out = {}
    for r in rows:
        g = out.setdefault(
            r["lang"],
            {
                "n_docs": 0,
                "touched": 0,
                "n_tok": 0,
                "red": 0,
                "cats": [0, 0, 0, 0],
                "rare_toks": set(),
            },
        )
        g["n_docs"] += 1
        doc_red = 0
        for tok in r["text"].split(" "):
            c = cat(tok)
            g["n_tok"] += 1
            if c > 0:
                doc_red += 1
                g["cats"][c - 1] += 1
                if c == 4:
                    g["rare_toks"].add(tok)
        g["red"] += doc_red
        g["touched"] += 1 if doc_red else 0
    return out


PII_ROWS = [
    {"doc_id": 1, "lang": "en",
     "text": "ship the data to bob.smith@example.com by friday"},
    {"doc_id": 2, "lang": "en",
     "text": "server 10.0.0.1 and server 192.168.1.255 are up"},
    {"doc_id": 3, "lang": "en",
     "text": "account 12345678 belongs to zzyzx"},
    {"doc_id": 4, "lang": "de",
     "text": "the data the data the data qwwq"},
    {"doc_id": 5, "lang": "de",
     "text": "ship ship by by to to are are up up"},
    {"doc_id": 6, "lang": "de",
     "text": "not-an-email@ 1.2.3.4.5 123456 999.0.0.1"},
]


def test_pii_scrub_python_replay(spark, tmp_path):
    """Exact brute-force replay: regex arms (incl. near-miss tokens
    that must NOT match), the k-anonymity rare rule, disjoint
    categories, per-lang rollup."""
    _write_docs(tmp_path, PII_ROWS)
    got = {
        r.lang: r
        for r in QUERIES["text_pii_scrub"](spark, str(tmp_path)).collect()
    }
    want = _pii_replay(PII_ROWS)
    assert set(got) == set(want)
    for lang, w in want.items():
        g = got[lang]
        assert g.n_docs == w["n_docs"], lang
        assert g.n_docs_touched == w["touched"], lang
        assert g.n_tokens == w["n_tok"], lang
        assert g.n_redacted == w["red"], lang
        assert (g.n_email, g.n_ipv4, g.n_idnum, g.n_rare) == tuple(
            w["cats"]
        ), lang
        assert g.n_rare_distinct == len(w["rare_toks"]), lang
        assert g.retained_permille == (
            (w["n_tok"] - w["red"]) * 1000 // max(w["n_tok"], 1)
        ), lang
    # regex arms on the malformed-token doc: the trailing-@ token and
    # the five-octet token match nothing; '999.0.0.1' DOES match (the
    # octet pattern is deliberately recall-biased — a privacy screen
    # over-redacts rather than leaks); '123456' is 6 digits, below the
    # id-number floor
    assert got["en"].n_email == 1 and got["en"].n_ipv4 == 2
    assert got["en"].n_idnum == 1
    assert got["de"].n_email == 0 and got["de"].n_ipv4 == 1
    assert got["de"].n_idnum == 0
    _cross_engine(spark, tmp_path, "text_pii_scrub")


def test_pii_scrub_all_rare_corpus(spark, tmp_path):
    """Every token unique -> everything redacted as rare, retained
    permille 0; cross-engine equal on the degenerate edge."""
    rows = [
        {"doc_id": i, "lang": "en",
         "text": f"tok{i}a tok{i}b tok{i}c"}
        for i in range(4)
    ]
    _write_docs(tmp_path, rows)
    srows, cols = _cross_engine(spark, tmp_path, "text_pii_scrub")
    by = dict(zip(cols, srows[0]))
    assert by["n_redacted"] == by["n_tokens"] == 12
    assert by["n_docs_touched"] == 4
    assert by["retained_permille"] == 0
    assert by["n_rare_distinct"] == 12


# ------------------------------------------------- NSW graph ANN


def test_nsw_beam_numpy_replay(spark):
    """Full numpy replay of the serving stack on the fixture corpus:
    trained-centroid assignment (cached centroids reused — training
    itself is pinned by the kmeans/IVF replays), within-cell top-M
    graph, entry routing, NSW_ROUNDS beam rounds, final top-k — must
    reproduce the op's result set EXACTLY."""
    import numpy as np

    from pg_archiver_spark.catalog import load
    from pg_archiver_spark.functions.similarity import (
        _KNN_BATCH_IDS,
        NSW_BEAM,
        NSW_M,
        NSW_ROUNDS,
        NSW_TOPK,
        _ivf_centroids,
    )

    rows = (
        load(spark, SF, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    vid = [r.vec_id for r in rows]
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    cents = np.array(_ivf_centroids(spark, SF), dtype=np.float64)
    # assignment: argmin squared L2, lowest cell on ties
    d2 = ((V[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    cell = d2.argmin(axis=1)

    def cos4(i, j):
        num = float(V[i] @ V[j])
        den = math.sqrt(float(V[i] @ V[i])) * math.sqrt(
            float(V[j] @ V[j])
        )
        return round(num / den, 4)

    idx_of = {v: i for i, v in enumerate(vid)}
    # within-cell top-M edges, (sim desc, dst asc)
    edges = {}
    by_cell = {}
    for i, c in enumerate(cell):
        by_cell.setdefault(c, []).append(i)
    for c, members in by_cell.items():
        for i in members:
            cands = sorted(
                ((-cos4(i, j), vid[j]) for j in members if j != i)
            )[:NSW_M]
            edges[vid[i]] = [dj for _, dj in cands]
    entry = {
        c: min(vid[i] for i in members)
        for c, members in by_cell.items()
    }
    want = {}
    for q in _KNN_BATCH_IDS:
        qi = idx_of[q]
        beam = {entry[cell[qi]]}
        for _ in range(NSW_ROUNDS):
            cand = set(beam)
            for b in beam:
                cand.update(edges.get(b, []))
            ranked = sorted(
                ((-cos4(qi, idx_of[v]), v) for v in cand)
            )[:NSW_BEAM]
            beam = {v for _, v in ranked}
        fin = sorted(
            ((-cos4(qi, idx_of[v]), v) for v in beam if v != q)
        )[:NSW_TOPK]
        for rnk, (negs, v) in enumerate(fin, 1):
            want[(q, rnk)] = (v, -negs)

    got = QUERIES["sim_ann_nsw_beam"](spark, SF).collect()
    assert len(got) == len(want)
    for r in got:
        wv, ws = want[(r.query_id, r.rnk)]
        assert r.vec_id == wv, (r.query_id, r.rnk)
        assert abs(r.cos_sim - ws) < 1e-9, (r.query_id, r.rnk)


def test_nsw_beam_structural_contract(spark):
    """Every query reports <= NSW_TOPK rows with dense ranks, no
    self-matches, sims within [-1, 1] and non-increasing per query."""
    from pg_archiver_spark.functions.similarity import (
        _KNN_BATCH_IDS,
        NSW_TOPK,
    )

    rows = QUERIES["sim_ann_nsw_beam"](spark, SF).collect()
    per = {}
    for r in rows:
        assert r.vec_id != r.query_id
        assert -1.0 <= r.cos_sim <= 1.0
        per.setdefault(r.query_id, []).append(r)
    assert set(per) <= set(_KNN_BATCH_IDS)
    for q, rs in per.items():
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1)), q
        assert len(rs) <= NSW_TOPK
        sims = [r.cos_sim for r in rs]
        assert sims == sorted(sims, reverse=True), q


def test_nsw_recall_eval_consistent_with_serving_op(spark):
    """hits_nsw must equal |exact-top-k ∩ serving-op result| per
    query, computed independently here from the two ops' own outputs
    plus a brute-force exact ranking."""
    import numpy as np

    from pg_archiver_spark.catalog import load
    from pg_archiver_spark.functions.similarity import (
        _KNN_BATCH_IDS,
        NSW_TOPK,
    )

    rows = (
        load(spark, SF, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    vid = [r.vec_id for r in rows]
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    idx_of = {v: i for i, v in enumerate(vid)}
    norms = np.sqrt((V * V).sum(axis=1))

    def exact_topk(q):
        qi = idx_of[q]
        sims = np.round(V @ V[qi] / (norms * norms[qi]), 4)
        order = sorted(
            (
                (-sims[i], vid[i])
                for i in range(len(vid))
                if vid[i] != q
            )
        )[:NSW_TOPK]
        return {v for _, v in order}

    beam = {}
    for r in QUERIES["sim_ann_nsw_beam"](spark, SF).collect():
        beam.setdefault(r.query_id, set()).add(r.vec_id)
    got = {
        r.q_id: r
        for r in QUERIES["sim_ann_nsw_recall_eval"](spark, SF).collect()
    }
    assert set(got) == set(_KNN_BATCH_IDS)
    total_hits = 0
    for q in _KNN_BATCH_IDS:
        e = exact_topk(q)
        assert got[q].n_exact == len(e) == NSW_TOPK, q
        want_hits = len(e & beam.get(q, set()))
        assert got[q].hits_nsw == want_hits, q
        total_hits += want_hits
    # the beam finds SOMETHING on the fixture corpus (recall > 0)
    assert total_hits > 0


# ------------------------------------- E-S weighted reservoir sample


def _es_replay_keys(rows):
    """Exact replay: salted md5 24-bit uniform, the ladder replayed
    through DuckDB per (c, t) (bit-identical to both engines), then
    the fixed-point key and (key, doc_id) ordering in pure Python."""
    import duckdb as _duck

    from pg_archiver_spark.functions.curation import (
        _DSIR_U_DENOM,
        _ES_SALT,
        _unigram_q_stages,
    )

    con = _duck.connect()
    keys = []
    for r in rows:
        c = (
            int(
                hashlib.md5(
                    (str(r["doc_id"]) + _ES_SALT).encode()
                ).hexdigest()[:6],
                16,
            )
            + 1
        )
        sql = f"SELECT {c}::BIGINT AS c, {_DSIR_U_DENOM}::BIGINT AS t"
        for stage in _unigram_q_stages():
            sql = f"SELECT *, {', '.join(stage)} FROM ({sql})"
        q = con.execute(f"SELECT q FROM ({sql})").fetchone()[0]
        w = max(len(r["text"].split(" ")), 1)
        keys.append((((-q) // 1000000) * 1000000000 // w, r["doc_id"]))
    return sorted(keys)


def test_es_reservoir_exact_replay(spark, tmp_path):
    from pg_archiver_spark.functions.curation import ES_SAMPLE_K

    rows = [
        {
            "doc_id": i,
            "lang": "en" if i % 3 else "de",
            "text": " ".join(f"w{j}" for j in range(1 + (i * 7) % 40)),
        }
        for i in range(120)
    ]
    _write_docs(tmp_path, rows)
    got = QUERIES["sample_weighted_reservoir"](
        spark, str(tmp_path)
    ).collect()
    want = _es_replay_keys(rows)[:ES_SAMPLE_K]
    assert len(got) == ES_SAMPLE_K
    for r, (wkey, wdoc) in zip(sorted(got, key=lambda r: r.rank), want):
        assert (r.sort_key, r.doc_id) == (wkey, wdoc), r.rank
    _cross_engine(spark, tmp_path, "sample_weighted_reservoir")


def test_es_reservoir_weight_bias(spark, tmp_path):
    """A single huge-weight doc among tiny ones is (deterministically,
    on this fixture) sampled at rank 1: key = ((-ln u)//1e-6 grid)
    *1e9//w shrinks ~linearly in w, the E-S inclusion-∝-weight
    mechanism. Also: the sample's mean weight must exceed the corpus
    mean (the bias the op exists to provide)."""
    rows = [
        {
            "doc_id": i,
            "lang": "en",
            "text": " ".join("x" for _ in range(2 + i % 5)),
        }
        for i in range(150)
    ]
    rows.append(
        {
            "doc_id": 999,
            "lang": "en",
            "text": " ".join("y" for _ in range(20000)),
        }
    )
    _write_docs(tmp_path, rows)
    got = QUERIES["sample_weighted_reservoir"](
        spark, str(tmp_path)
    ).collect()
    by_rank = {r.rank: r for r in got}
    assert by_rank[1].doc_id == 999
    corpus_mean = sum(
        len(r["text"].split(" ")) for r in rows
    ) / len(rows)
    sample_mean = sum(r.w_tokens for r in got) / len(got)
    assert sample_mean > corpus_mean


# ------------------------------------- event-sequence regex match


def test_event_sequence_match_controlled(spark, tmp_path):
    """Crafted per-user sequences hit every pattern arm exactly once
    each where intended — including a same-timestamp tie broken by
    event_id — and Spark == DuckDB row-for-row on the tmp corpus."""
    import duckdb as _duck

    base = pd.Timestamp("2026-01-01")
    evs = []

    def add(uid, types, tie=False):
        for i, t in enumerate(types):
            evs.append(
                {
                    "event_id": len(evs),
                    # tie=True: identical ts for ALL events — order
                    # must fall back to event_id
                    "ts": base if tie else base + pd.Timedelta(minutes=i),
                    "user_id": uid,
                    "event_type": t,
                    "value": 1.0,
                    "props": "{}",
                }
            )

    add(1, ["view", "click", "purchase"])          # funnel
    add(2, ["view", "view", "error"])               # view_no_convert
    add(3, ["signup", "error", "error", "purchase", "purchase"])
    add(4, ["error", "view", "click"])              # nothing
    add(5, ["view", "click", "purchase"], tie=True)  # funnel via ties
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame(evs)),
        str(tmp_path / "events.parquet"),
    )
    got = {
        r.pattern: r
        for r in QUERIES["analytics_event_sequence_match"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["view_click_purchase"].n_users == 2  # users 1 and 5
    assert got["error_streak"].n_users == 1         # user 3
    assert got["signup_first"].n_users == 1         # user 3
    assert got["view_no_convert"].n_users == 1      # user 2
    assert got["repeat_purchase"].n_users == 1      # user 3
    assert got["view_click_purchase"].share_permille == 2 * 1000 // 5

    con = _duck.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    ocols, orows = ck._oracle_rows_pandas(
        con.execute(ORACLES["analytics_event_sequence_match"])
    )
    df = QUERIES["analytics_event_sequence_match"](spark, str(tmp_path))
    assert ck.frame_fingerprint(
        df.columns, [tuple(r) for r in df.collect()]
    ) == ck.frame_fingerprint(ocols, orows)


def test_event_sequence_match_python_replay(spark):
    """Independent re replay on the fixture corpus: rebuild each
    user's (ts, event_id)-ordered initial string in Python and re-run
    the five regexes; counts must be exact."""
    import re as _re

    from pg_archiver_spark.catalog import load
    from pg_archiver_spark.operators.analytics import SEQ_PATTERNS

    ini = {"signup": "S", "click": "C", "error": "E",
           "view": "V", "purchase": "P"}
    rows = (
        load(spark, SF, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(
            (r.ts, r.event_id, ini.get(r.event_type, "X"))
        )
    seqs = {
        u: "".join(x[2] for x in sorted(es))
        for u, es in by_user.items()
    }
    got = {
        r.pattern: r.n_users
        for r in QUERIES["analytics_event_sequence_match"](
            spark, SF
        ).collect()
    }
    for name, rx in SEQ_PATTERNS:
        want = sum(1 for s in seqs.values() if _re.search(rx, s))
        assert got[name] == want, name


# --------------------------------------------- multinomial NB lang


def _ladder_batch(con, triples):
    """Replay the shared ladder for a batch of (key, c, t) rows via
    DuckDB — bit-identical to both engines."""
    from pg_archiver_spark.functions.curation import _unigram_q_stages

    vals = ", ".join(f"('{k}', {c}::BIGINT, {t}::BIGINT)"
                     for k, c, t in triples)
    sql = f"SELECT * FROM (VALUES {vals}) AS v(k, c, t)"
    for stage in _unigram_q_stages():
        sql = f"SELECT *, {', '.join(stage)} FROM ({sql})"
    return dict(con.execute(f"SELECT k, q FROM ({sql})").fetchall())


def test_naive_bayes_python_replay(spark, tmp_path):
    """Exact replay: md5 split, add-1 model on the vocab x class
    spine, ladder scores replayed through DuckDB, prior + sum argmax
    with class-name tie-break — confusion counts must match exactly;
    then the driver-faithful cross-engine compare."""
    import duckdb as _duck

    corpus = {
        "en": "the cat sat on the mat and the dog ran",
        "de": "der hund lief und der baum steht am haus",
        "fr": "le chat dort sur le tapis et le chien",
    }
    rows = []
    for i in range(60):
        lang = list(corpus)[i % 3]
        words = corpus[lang].split(" ")
        text = " ".join(words[(i + j) % len(words)] for j in range(6))
        rows.append({"doc_id": i, "lang": lang, "text": text})
    _write_docs(tmp_path, rows)

    train = [r for r in rows if _split(r["doc_id"]) == "train"]
    evalr = [r for r in rows if _split(r["doc_id"]) == "eval"]
    cnt, tok_c, dc = {}, {}, {}
    vocab = set()
    for r in train:
        dc[r["lang"]] = dc.get(r["lang"], 0) + 1
        for w in r["text"].split(" "):
            cnt[(w, r["lang"])] = cnt.get((w, r["lang"]), 0) + 1
            tok_c[r["lang"]] = tok_c.get(r["lang"], 0) + 1
            vocab.add(w)
    V, docs_t = len(vocab), len(train)
    con = _duck.connect()
    triples = [
        (f"m|{w}|{c}", cnt.get((w, c), 0) + 1, tok_c[c] + V)
        for w in vocab
        for c in tok_c
    ] + [(f"p|{c}", dc[c], docs_t) for c in dc]
    q = _ladder_batch(con, triples)
    confusion = {}
    for r in evalr:
        scores = {}
        for c in sorted(tok_c):
            s = q[f"p|{c}"]
            for w in r["text"].split(" "):
                if w in vocab:
                    s += q[f"m|{w}|{c}"]
            scores[c] = s
        # argmax with ties -> smallest class name wins (G5)
        best = max(scores.values())
        pred = min(c for c in scores if scores[c] == best)
        confusion[(r["lang"], pred)] = (
            confusion.get((r["lang"], pred), 0) + 1
        )
    got = {
        (r.true_lang, r.pred_lang): r.n_docs
        for r in QUERIES["ml_naive_bayes_lang"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == confusion
    _cross_engine(spark, tmp_path, "ml_naive_bayes_lang")


def test_naive_bayes_disjoint_vocab_is_diagonal(spark, tmp_path):
    """Languages with fully disjoint vocabularies must classify
    perfectly: the confusion matrix is exactly diagonal."""
    rows = []
    for i in range(90):
        lang = ["aa", "bb", "cc"][i % 3]
        rows.append(
            {
                "doc_id": i,
                "lang": lang,
                "text": " ".join(
                    f"{lang}tok{(i + j) % 7}" for j in range(8)
                ),
            }
        )
    _write_docs(tmp_path, rows)
    got = QUERIES["ml_naive_bayes_lang"](spark, str(tmp_path)).collect()
    assert len(got) == 3
    n_eval = sum(1 for r in rows if _split(r["doc_id"]) == "eval")
    assert sum(r.n_docs for r in got) == n_eval
    for r in got:
        assert r.true_lang == r.pred_lang


# ------------------------------------------------- RFM segmentation


def _rfm_replay(orders):
    """Pure-Python replay: per-customer R/F/M, type-7 terciles with
    the op's e3 grid quantization, score triple -> segment label."""
    maxd = max(o["o_orderdate"] for o in orders).date()
    per = {}
    for o in orders:
        c = o["o_custkey"]
        r = per.setdefault(c, {"last": o["o_orderdate"], "f": 0, "m": 0})
        r["last"] = max(r["last"], o["o_orderdate"])
        r["f"] += 1
        r["m"] += round(o["o_totalprice"] * 100)
    rows = [
        {
            "r": (maxd - v["last"].date()).days,
            "f": v["f"],
            "m": v["m"],
        }
        for v in per.values()
    ]

    def terc(vals):
        s = sorted(vals)
        out = []
        for p in (1.0 / 3, 2.0 / 3):
            idx = (len(s) - 1) * p
            lo, f = int(idx), idx - int(idx)
            hi = min(lo + 1, len(s) - 1)
            out.append(round((s[lo] + f * (s[hi] - s[lo])) * 1000))
        return out

    r33, r66 = terc([x["r"] for x in rows])
    f33, f66 = terc([x["f"] for x in rows])
    m33, m66 = terc([x["m"] for x in rows])
    seg_counts = {}
    for x in rows:
        r_s = 3 if x["r"] * 1000 <= r33 else 2 if x["r"] * 1000 <= r66 else 1
        f_s = 1 if x["f"] * 1000 <= f33 else 2 if x["f"] * 1000 <= f66 else 3
        m_s = 1 if x["m"] * 1000 <= m33 else 2 if x["m"] * 1000 <= m66 else 3
        if r_s == 3 and f_s == 3 and m_s == 3:
            s = "champion"
        elif f_s >= 2 and r_s >= 2:
            s = "loyal"
        elif m_s == 3:
            s = "big_spender"
        elif r_s == 3 and f_s == 1:
            s = "new"
        elif r_s == 1 and f_s >= 2:
            s = "at_risk"
        elif r_s == 1:
            s = "hibernating"
        else:
            s = "regular"
        seg_counts[s] = seg_counts.get(s, 0) + 1
    return seg_counts


def test_rfm_python_replay_and_boundary_ties(spark, tmp_path):
    """Controlled corpus with n ≡ 1 (mod 3) customers per dimension so
    terciles land EXACTLY on data points (the boundary-tie edge the
    e3 grid must keep stable), plus the driver-faithful cross-engine
    compare."""
    import duckdb as _duck

    base = pd.Timestamp("2026-02-01")
    orders = []
    oid = 0
    # 13 customers (13 % 3 == 1): recency 0..12 days, frequency
    # 1..13 orders, value proportional — every tercile boundary is a
    # data point
    for c in range(13):
        for k in range(c + 1):
            orders.append(
                {
                    "o_orderkey": (oid := oid + 1),
                    "o_custkey": c,
                    "o_orderstatus": "F",
                    "o_totalprice": 100.0 + c * 7 + k,
                    "o_orderdate": base - pd.Timedelta(days=c + k),
                    "o_orderpriority": "3-MEDIUM",
                }
            )
    odf = pd.DataFrame(orders).astype({"o_orderdate": "datetime64[us]"})
    pq.write_table(
        pa.Table.from_pandas(odf),
        str(tmp_path / "orders.parquet"),
    )
    got = {
        r.segment: r.n_customers
        for r in QUERIES["analytics_rfm_segmentation"](
            spark, str(tmp_path)
        ).collect()
    }
    want = _rfm_replay(orders)
    assert got == want
    assert sum(got.values()) == 13
    con = _duck.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{tmp_path}/orders.parquet')"
    )
    ocols, orows = ck._oracle_rows_pandas(
        con.execute(ORACLES["analytics_rfm_segmentation"])
    )
    df = QUERIES["analytics_rfm_segmentation"](spark, str(tmp_path))
    assert ck.frame_fingerprint(
        df.columns, [tuple(r) for r in df.collect()]
    ) == ck.frame_fingerprint(ocols, orows)


def test_rfm_fixture_invariants(spark):
    """Segments partition the customer base: counts sum to the number
    of distinct ordering customers; labels from the fixed set; value
    conservation (segment sums == corpus total cents)."""
    import duckdb as _duck

    rows = QUERIES["analytics_rfm_segmentation"](spark, SF).collect()
    labels = {
        "champion", "loyal", "big_spender", "new", "at_risk",
        "hibernating", "regular",
    }
    assert {r.segment for r in rows} <= labels
    con = _duck.connect()
    n_cust, total_cents = con.execute(
        "SELECT COUNT(DISTINCT o_custkey), "
        "CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) "
        f"FROM read_parquet('{SF}/orders.parquet')"
    ).fetchone()
    assert sum(r.n_customers for r in rows) == n_cust
    assert sum(r.sum_value_cents for r in rows) == total_cents


# ---------------------------------------------- market-basket rules


def test_market_basket_python_replay(spark, tmp_path):
    """Exact replay on a controlled basket set with known pair
    structure: supports, integer confidence/lift, ordering."""
    import itertools

    import duckdb as _duck

    baskets = {
        1: [10, 20, 30],
        2: [10, 20],
        3: [10, 30],
        4: [20, 30, 40],
        5: [10, 20, 30, 40],
        6: [40, 50],
        7: [50, 10],
        8: [20, 40],
    }
    rows = []
    for bid, parts in baskets.items():
        for p in parts:
            # duplicate lines for the same (order, part): the DISTINCT
            # basket projection must collapse them
            for _ in range(2 if p == 10 else 1):
                rows.append(
                    {
                        "l_orderkey": bid,
                        "l_partkey": p,
                        "l_quantity": 1.0,
                    }
                )
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame(rows)),
        str(tmp_path / "lineitem.parquet"),
    )
    from pg_archiver_spark.operators.analytics import MB_OUT

    df_cnt = {}
    for parts in baskets.values():
        for p in set(parts):
            df_cnt[p] = df_cnt.get(p, 0) + 1
    n = len(baskets)
    want = []
    for a, b in itertools.combinations(sorted(df_cnt), 2):
        n_ab = sum(
            1 for parts in baskets.values()
            if a in parts and b in parts
        )
        if n_ab:
            want.append(
                (
                    -(n_ab * n * 10000 // (df_cnt[a] * df_cnt[b])),
                    a,
                    b,
                    n_ab,
                    n_ab * 1000 // df_cnt[a],
                )
            )
    want.sort()
    got = QUERIES["analytics_market_basket_lift"](
        spark, str(tmp_path)
    ).collect()
    assert len(got) == min(len(want), MB_OUT)
    for r, (neg_lift, a, b, n_ab, conf) in zip(got, want):
        assert (r.part_a, r.part_b) == (a, b)
        assert r.n_ab == n_ab
        assert r.conf_ab_permille == conf
        assert r.lift_x1e4 == -neg_lift
    con = _duck.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path}/lineitem.parquet')"
    )
    ocols, orows = ck._oracle_rows_pandas(
        con.execute(ORACLES["analytics_market_basket_lift"])
    )
    df = QUERIES["analytics_market_basket_lift"](spark, str(tmp_path))
    assert ck.frame_fingerprint(
        df.columns, [tuple(r) for r in df.collect()]
    ) == ck.frame_fingerprint(ocols, orows)


def test_market_basket_fixture_invariants(spark):
    """Lift sanity on the fixture: supports positive, confidence in
    (0, 1000], pairs ordered by (lift desc, part_a, part_b)."""
    rows = QUERIES["analytics_market_basket_lift"](spark, SF).collect()
    assert rows
    keys = [(-r.lift_x1e4, r.part_a, r.part_b) for r in rows]
    assert keys == sorted(keys)
    for r in rows:
        assert r.n_ab >= 1
        assert 0 < r.conf_ab_permille <= 1000
        assert r.part_a < r.part_b
