"""Text-analysis operators (LLM training-data pipeline surface).

North-star ops over ``documents``: word counts, per-language stats,
language-ID heuristic, quality scoring, token counting, document
fingerprinting. All built from Catalyst expressions + higher-order
functions (split/filter/transform/aggregate) — no Python in the row
path, so the same code runs at 100 TB as a pure map stage (plus one
shuffle for the final group-bys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pg_archiver_spark.catalog import load
from pg_archiver_spark.registry import register


@register(
    "text_wordcount",
    oracle="""
    SELECT word, COUNT(*) AS n_occurrences
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word
    ORDER BY n_occurrences DESC, word
    LIMIT 20
    """,
)
def text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic explode→count word frequency, top-20 with word tiebreak
    (G5). At 100 TB this is map-side-combinable: partial counts per
    partition shuffle one row per (partition, word)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("word"))
        .limit(20)
    )


@register(
    "text_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST((SUM(n_chars) * 1000) // COUNT(*) AS BIGINT) AS avg_chars_milli,
           CAST(SUM(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
    FROM documents
    GROUP BY lang
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language doc counts + mean length; validates the n_chars
    metadata column against length(text).

    Mean length in exact milli-chars (integer floor division): a
    ROUND(avg, k) of an int/int ratio ties whenever the group count
    divides cleanly, and the engines break ties differently (G11)."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.expr("(SUM(n_chars) * 1000) DIV COUNT(*)").alias("avg_chars_milli"),
        F.sum(
            F.when(F.col("n_chars") == F.length("text"), 1).otherwise(0)
        ).alias("n_valid"),
    )


# Marker-token sets for the language-ID heuristic. With a shared
# vocabulary corpus (like this fixture) the predictions are mostly
# 'unknown' — the operator contract is the deterministic scoring
# function itself, which both engines must evaluate identically.
_LANG_MARKERS = {
    "en": ("the", "a", "and", "of"),
    "de": ("der", "die", "das", "und"),
    "es": ("el", "la", "los", "que"),
    "fr": ("le", "les", "des", "et"),
    "zh": ("de5", "shi4", "le5", "zai4"),
}


@register(
    "text_langid",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(text,' '), t -> t IN ('the','a','and','of'))) AS s_en,
               len(list_filter(string_split(text,' '), t -> t IN ('der','die','das','und'))) AS s_de,
               len(list_filter(string_split(text,' '), t -> t IN ('el','la','los','que'))) AS s_es,
               len(list_filter(string_split(text,' '), t -> t IN ('le','les','des','et'))) AS s_fr,
               len(list_filter(string_split(text,' '), t -> t IN ('de5','shi4','le5','zai4'))) AS s_zh
        FROM documents
    )
    SELECT predicted, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
    FROM (
        SELECT lang,
               CASE WHEN greatest(s_en,s_de,s_es,s_fr,s_zh) = 0 THEN 'unknown'
                    WHEN s_en >= greatest(s_de,s_es,s_fr,s_zh) THEN 'en'
                    WHEN s_de >= greatest(s_es,s_fr,s_zh) THEN 'de'
                    WHEN s_es >= greatest(s_fr,s_zh) THEN 'es'
                    WHEN s_fr >= s_zh THEN 'fr'
                    ELSE 'zh' END AS predicted
        FROM scored
    )
    GROUP BY predicted
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via marker-token scoring (n-gram-heuristic family).
    argmax with a fixed language-priority tiebreak → deterministic."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")

    def marker_score(markers):
        # One-arg lambda (a default arg would make F.filter pass the
        # element index as the second parameter).
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scores = {
        lang: marker_score(markers).alias(f"s_{lang}")
        for lang, markers in _LANG_MARKERS.items()
    }
    scored = docs.select("doc_id", "lang", *scores.values())
    best = F.greatest(*(F.col(f"s_{lang}") for lang in _LANG_MARKERS))
    predicted = (
        F.when(best == 0, "unknown")
        .when(F.col("s_en") >= F.greatest("s_de", "s_es", "s_fr", "s_zh"), "en")
        .when(F.col("s_de") >= F.greatest("s_es", "s_fr", "s_zh"), "de")
        .when(F.col("s_es") >= F.greatest("s_fr", "s_zh"), "es")
        .when(F.col("s_fr") >= F.col("s_zh"), "fr")
        .otherwise("zh")
    )
    return (
        scored.select("lang", predicted.alias("predicted"))
        .groupBy("predicted")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("predicted") == F.col("lang"), 1).otherwise(0)
            ).alias("n_correct"),
        )
    )


@register(
    "text_quality",
    oracle="""
    SELECT quality_band, COUNT(*) AS n_docs,
           CAST((SUM(n_tokens) * 1000) // COUNT(*) AS BIGINT) AS avg_tokens_milli
    FROM (
        SELECT len(string_split(text,' ')) AS n_tokens,
               CASE
                 WHEN len(string_split(text,' ')) < 20 THEN 'short'
                 WHEN CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                      / len(string_split(text,' ')) < 0.35 THEN 'repetitive'
                 ELSE 'ok'
               END AS quality_band
        FROM documents
    )
    GROUP BY quality_band
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count + type/token (distinct-ratio) bands —
    the standard cheap pre-filter before expensive dedup/training steps.
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    band = (
        F.when(n_tokens < 20, "short")
        .when(distinct_ratio < 0.35, "repetitive")
        .otherwise("ok")
    )
    return (
        docs.select(n_tokens.alias("n_tokens"), band.alias("quality_band"))
        .groupBy("quality_band")
        .agg(
            F.count("*").alias("n_docs"),
            F.expr("(SUM(n_tokens) * 1000) DIV COUNT(*)").alias("avg_tokens_milli"),
        )
    )


@register(
    "text_tokencount",
    oracle="""
    SELECT lang,
           CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS whitespace_tokens,
           CAST(SUM(list_sum(list_transform(string_split(text,' '),
                                       t -> CAST(ceil(length(t)/4.0) AS BIGINT)))) AS BIGINT) AS bpe_ish_tokens
    FROM documents
    GROUP BY lang
    """,
)
def text_tokencount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish estimate
    (⌈len/4⌉ subword pieces per word — the usual ~4-chars-per-token
    budgeting rule). Per-language totals."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bpe_ish = F.aggregate(
        F.transform(toks, lambda t: F.ceil(F.length(t) / 4.0)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return docs.groupBy("lang").agg(
        F.sum(F.size(toks)).alias("whitespace_tokens"),
        F.sum(bpe_ish).alias("bpe_ish_tokens"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id, md5(text) AS fingerprint,
           length(text) % 997 AS rolling_bucket
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting: md5 of the exact text (the content-hash
    key exact dedup joins on) plus a cheap length-mod bucket. md5 is
    bit-identical across engines, so this is sql-checkable; shingle
    fingerprints live in the minhash op."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fingerprint"),
        (F.length("text") % 997).alias("rolling_bucket"),
    )


@register(
    "text_tfidf",
    oracle="""
    WITH terms AS (
        SELECT lang, doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    scored AS (
        SELECT lang, term,
               COUNT(*) AS tf,
               COUNT(DISTINCT doc_id) AS df,
               COUNT(*) * 1000000 // COUNT(DISTINCT doc_id) AS score_micro
        FROM terms
        WHERE term <> ''
        GROUP BY lang, term
    )
    SELECT lang, term, tf, df, score_micro, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY score_micro DESC, term
               ) AS INT) AS rank
        FROM scored
    )
    WHERE rank <= 5
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 distinguishing terms by tf-idf — the log-free
    integer variant score = tf·10⁶ ÷ df (idf = 1/df instead of
    ln(N/df)): same ranking intent, but exact integer arithmetic, so
    both engines agree bit-for-bit where a float ln() could flip
    near-tied ranks (G13). One explode + one combined tf/df aggregate
    (map-side combinable) + a per-language top-k window over the
    vocabulary-sized frame — at 100 TB the heavy frame is the term
    explosion, and it reduces in one shuffle keyed by (lang, term)."""
    docs = load(spark, sf_dir, "documents")
    scored = (
        docs.select(
            "lang", "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("lang", "term")
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .withColumn("score_micro", F.expr("tf * 1000000 DIV df"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("score_micro").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "term", "tf", "df", "score_micro", "rank")
    )


@register(
    "text_entropy_quality",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang,
               unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    wc AS (
        SELECT doc_id, lang, word, COUNT(*) AS c
        FROM tok WHERE word <> '' GROUP BY doc_id, lang, word
    ),
    tot AS (
        SELECT doc_id, SUM(c) AS n FROM wc GROUP BY doc_id
    ),
    ent AS (
        SELECT wc.doc_id, wc.lang, tot.n,
               -SUM((CAST(c AS DOUBLE) / tot.n)
                    * log2(CAST(c AS DOUBLE) / tot.n)) AS h
        FROM wc JOIN tot ON wc.doc_id = tot.doc_id
        GROUP BY wc.doc_id, wc.lang, tot.n
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(h), 2) + 0.0 AS avg_entropy_bits,
           COALESCE(ROUND(AVG(h / nullif(log2(CAST(n AS DOUBLE)), 0)),
                          2) + 0.0, -1.0)
               AS avg_entropy_norm
    FROM ent
    GROUP BY lang
    """,
)
def text_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-entropy quality signal: per-document Shannon entropy of
    the word distribution (bits), plus the length-normalized form
    (entropy / log2 n_tokens ∈ [0,1]) — the cheap LM-free repetition
    and "burstiness" screen corpus builds run before perplexity
    filtering: near-0 normalized entropy means a degenerate/repeated
    document, near-1 means every token distinct.

    Plan shape: explode → two-level groupBy (doc,word → doc), all
    Catalyst expressions; the per-doc word-count frame is the SAME
    intermediate the TF-IDF and fingerprint ops use, and each doc's
    entropy is a purely local aggregate after one shuffle on doc_id.
    Determinism: fp sums differ between engines at ~1e-15; averaging
    per lang and rounding ONCE, late and coarse (2dp), damps it (G4),
    and `+ 0.0` normalizes any -0.0 (G13). A 1-token document has
    log2(n)=0; Spark's 0/0 is NULL but DuckDB's is NaN (which poisons
    AVG), so BOTH sides nullify the zero divisor (`nullif`) and let
    AVG skip that doc symmetrically. If EVERY doc of a language is
    single-token the AVG itself is NULL (pandas NaN vs Spark None
    under the driver compare, G13c — found by the r11 random-corpus
    sweep), so both sides COALESCE the norm to a -1.0 sentinel."""
    docs = load(spark, sf_dir, "documents")
    wc = (
        docs.select(
            "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("doc_id", "lang", "word")
        .agg(F.count("*").alias("c"))
    )
    n_over = F.sum("c").over(Window.partitionBy("doc_id"))
    p = F.col("c").cast("double") / n_over
    ent = wc.select(
        "doc_id",
        "lang",
        n_over.alias("n"),
        (-(p * F.log2(p))).alias("term"),
    ).groupBy("doc_id", "lang", "n").agg(F.sum("term").alias("h"))
    return ent.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        (F.round(F.avg("h"), 2) + F.lit(0.0)).alias("avg_entropy_bits"),
        F.coalesce(
            F.round(
                F.avg(
                    F.col("h")
                    / F.nullif(F.log2(F.col("n").cast("double")), F.lit(0.0))
                ),
                2,
            )
            + F.lit(0.0),
            F.lit(-1.0),
        ).alias("avg_entropy_norm"),
    )


# Gopher length-rule bounds (Rae et al. 2021 §A1.1): word count in
# [50, 100k], mean word length in [3, 10] chars (exact integer
# milli-chars so the band comparison can't tie-break differently
# across engines).
GOPHER_WC_MIN, GOPHER_WC_MAX = 50, 100000
GOPHER_MWL_MIN_MILLI, GOPHER_MWL_MAX_MILLI = 3000, 10000


def _gopher_len_flags(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, p_wc, p_mwl): the Gopher LENGTH rules per doc —
    the per-doc stage frame shared by text_gopher_rules (which
    aggregates it per language) and pipeline_pretraining_e2e (which
    chains it as funnel stage 1). Pure Catalyst expressions, one map
    over the scan."""
    toks = F.split("text", " ")
    wc = F.size(toks)
    mwl_milli = F.expr(
        "(aggregate(transform(split(text, ' '), t -> CAST(length(t) AS BIGINT)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x) * 1000) DIV size(split(text, ' '))"
    )
    return docs.select(
        "doc_id",
        "lang",
        wc.between(GOPHER_WC_MIN, GOPHER_WC_MAX).alias("p_wc"),
        mwl_milli.between(
            GOPHER_MWL_MIN_MILLI, GOPHER_MWL_MAX_MILLI
        ).alias("p_mwl"),
    )


def _gopher_len_cte(src: str = "documents", prefix: str = "gl_") -> str:
    """Oracle mirror of _gopher_len_flags as CTE text: emits
    ``{prefix}flags(doc_id, lang, p_wc, p_mwl)`` over source relation
    ``src(doc_id, lang, text)``. ONE definition serves the standalone
    text_gopher_rules oracle and the pipeline_pretraining_e2e chain."""
    return f"""{prefix}m AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS wc,
               list_sum(list_transform(string_split(text, ' '),
                                       t -> length(t))) AS total_chars
        FROM {src}
    ),
    {prefix}flags AS (
        SELECT doc_id, lang,
               wc BETWEEN {GOPHER_WC_MIN} AND {GOPHER_WC_MAX} AS p_wc,
               (total_chars * 1000) // wc
                   BETWEEN {GOPHER_MWL_MIN_MILLI} AND {GOPHER_MWL_MAX_MILLI}
                   AS p_mwl
        FROM {prefix}m
    )"""


@register(
    "text_gopher_rules",
    oracle=f"""
    WITH {_gopher_len_cte()}
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN p_wc THEN 1 ELSE 0 END)
               AS BIGINT) AS pass_wordcount,
           CAST(SUM(CASE WHEN p_mwl THEN 1 ELSE 0 END)
               AS BIGINT) AS pass_meanwordlen,
           CAST(SUM(CASE WHEN p_wc AND p_mwl
                    THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
    FROM gl_flags
    GROUP BY lang
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1 —
    public heuristics every large-corpus build applies before training):
    word-count bounds [50, 100k] and mean-word-length bounds [3, 10]
    chars, reported as per-language pass counts. Extends the reference's
    archival pipeline with the pre-training quality gate its downstream
    consumers would run on the archived text (north-star: text analysis).

    Plan shape: one scan of documents; per-doc metrics are pure Catalyst
    expressions (split/size/aggregate — no UDF, whole-stage codegen),
    then a 5-group partial+final hash agg: map-side combine means the
    shuffle carries one row per (partition, lang). Mean word length is
    exact integer milli-chars (total_chars*1000 DIV wc) so the band
    comparison can't tie-break differently across engines (G11); all
    outputs are integer counts (G13). The per-doc flag frame is the
    shared _gopher_len_flags helper (funnel stage 1 of
    pipeline_pretraining_e2e)."""
    docs = load(spark, sf_dir, "documents")
    return (
        _gopher_len_flags(docs)
        .select(
            "lang",
            "p_wc",
            "p_mwl",
            (F.col("p_wc") & F.col("p_mwl")).alias("p_all"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("p_wc"), 1).otherwise(0)).alias("pass_wordcount"),
            F.sum(F.when(F.col("p_mwl"), 1).otherwise(0)).alias("pass_meanwordlen"),
            F.sum(F.when(F.col("p_all"), 1).otherwise(0)).alias("pass_all"),
        )
    )


# Gopher repetition thresholds (Rae et al. 2021 Table A1), in permille:
# a doc fails if the most frequent 2-gram covers > 20% of its
# characters, or if duplicated 5-grams cover > 15% of its CHARACTERS
# (ADVICE r9 #3: the paper defines the duplicate-n-gram thresholds as
# character fractions; each covered token interval is weighted by its
# character length including internal separators).
GOPHER_TOP2_MAX_PERMILLE = 200
GOPHER_DUP5_MAX_PERMILLE = 150
GOPHER_DUP_N = 5


def _gopher_rep_cte(src: str = "documents", prefix: str = "") -> str:
    """Oracle mirror of _gopher_rep_flags as CTE text: emits
    ``{prefix}scored(doc_id, lang, p_top2, p_dup5)`` over source
    relation ``src(doc_id, lang, text)``. ONE definition serves the
    standalone text_gopher_repetition oracle and the
    pipeline_pretraining_e2e chain (same shape discipline as
    dedup's _shingle_pairs_ctes)."""
    p = prefix
    return f"""{p}d AS (
        SELECT doc_id, lang,
               string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n,
               length(text) AS n_chars
        FROM {src}
    ),
    {p}g2 AS (
        SELECT doc_id, unnest(list_transform(
                   range(n - 1),
                   i -> array_to_string(toks[i+1:i+2], ' '))) AS g
        FROM {p}d
    ),
    {p}g2c AS (
        SELECT doc_id, g, COUNT(*) AS c, length(ANY_VALUE(g)) AS gl
        FROM {p}g2 GROUP BY doc_id, g
    ),
    {p}top2 AS (
        SELECT doc_id, c * gl * 1000 // n_chars AS top2_permille
        FROM (SELECT {p}g2c.*, {p}d.n_chars,
                     ROW_NUMBER() OVER (PARTITION BY {p}g2c.doc_id
                                        ORDER BY c DESC, g) AS rn
              FROM {p}g2c JOIN {p}d USING (doc_id))
        WHERE rn = 1
    ),
    {p}g5 AS (
        SELECT doc_id, unnest(range(n - {GOPHER_DUP_N - 1})) AS i
        FROM {p}d
    ),
    {p}g5g AS (
        SELECT {p}g5.doc_id, {p}g5.i,
               array_to_string({p}d.toks[{p}g5.i+1:{p}g5.i+{GOPHER_DUP_N}], ' ') AS g
        FROM {p}g5 JOIN {p}d USING (doc_id)
    ),
    {p}dup5 AS (
        SELECT doc_id, i AS s, i + {GOPHER_DUP_N} AS e
        FROM (SELECT *, COUNT(*) OVER (PARTITION BY doc_id, g) AS c
              FROM {p}g5g)
        WHERE c >= 2
    ),
    {p}isl0 AS (
        SELECT doc_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                   PARTITION BY doc_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), -1) THEN 1 ELSE 0 END AS ni
        FROM {p}dup5
    ),
    {p}isl AS (
        SELECT doc_id, isl, MIN(s) AS s, MAX(e) AS e
        FROM (SELECT *, SUM(ni) OVER (
                  PARTITION BY doc_id ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
              FROM {p}isl0)
        GROUP BY doc_id, isl
    ),
    {p}cov AS (
        SELECT {p}isl.doc_id,
               SUM(length(array_to_string(
                   {p}d.toks[{p}isl.s+1:{p}isl.e], ' '))) AS covered_chars
        FROM {p}isl JOIN {p}d ON {p}isl.doc_id = {p}d.doc_id
        GROUP BY {p}isl.doc_id
    ),
    {p}scored AS (
        SELECT {p}d.doc_id, {p}d.lang,
               COALESCE(t.top2_permille, 0)
                   <= {GOPHER_TOP2_MAX_PERMILLE} AS p_top2,
               COALESCE(c.covered_chars, 0) * 1000 // {p}d.n_chars
                   <= {GOPHER_DUP5_MAX_PERMILLE} AS p_dup5
        FROM {p}d
        LEFT JOIN {p}top2 t USING (doc_id)
        LEFT JOIN {p}cov c USING (doc_id)
    )"""


@register(
    "text_gopher_repetition",
    oracle=f"""
    WITH {_gopher_rep_cte()}
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN p_top2 THEN 1 ELSE 0 END) AS BIGINT)
               AS pass_top2gram,
           CAST(SUM(CASE WHEN p_dup5 THEN 1 ELSE 0 END) AS BIGINT)
               AS pass_dup5gram,
           CAST(SUM(CASE WHEN p_top2 AND p_dup5 THEN 1 ELSE 0 END)
                AS BIGINT) AS pass_all
    FROM scored
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOPHER REPETITION RULES (Rae et al. 2021, Table A1 — the
    repetition half of the Gopher quality filter; text_gopher_rules
    covers the length half): a document fails if (a) its most frequent
    2-gram covers more than 20% of its characters (occurrences ×
    gram-char-length / doc-char-length), or (b) its duplicated 5-grams
    — 5-grams appearing at least twice IN the document — cover more
    than 15% of its CHARACTERS (union of occurrence intervals, overlaps
    counted once — the paper's no-double-counting rule, via the
    gaps-and-islands machinery shared with
    dedup_repeated_substring_spans — then each merged island weighted
    by its character length including internal separators; the paper's
    thresholds are character fractions, ADVICE r9 #3). These are the screens that catch
    keyword-stuffed and template/boilerplate pages that length rules
    and entropy miss. Reported as per-language pass counts; all
    arithmetic is integer permille (G11) with deterministic lowest-gram
    tie-breaks, so both engines agree exactly.

    Plan shape: two explodes over the doc scan (2-grams by value,
    5-grams by position), per-doc aggregation keys only — one shuffle
    per gram order, nothing quadratic, no UDF. At 100 TB both explodes
    stream; the per-doc state is bounded by document length. The
    per-doc flag frame is the shared _gopher_rep_flags helper (funnel
    stage 2 of pipeline_pretraining_e2e)."""
    docs = load(spark, sf_dir, "documents")
    scored = _gopher_rep_flags(docs)
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("p_top2"), 1).otherwise(0))
            .cast("bigint")
            .alias("pass_top2gram"),
            F.sum(F.when(F.col("p_dup5"), 1).otherwise(0))
            .cast("bigint")
            .alias("pass_dup5gram"),
            F.sum(F.when(F.col("p_top2") & F.col("p_dup5"), 1).otherwise(0))
            .cast("bigint")
            .alias("pass_all"),
        )
        .orderBy("lang")
    )


def _gopher_rep_flags(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, p_top2, p_dup5): the Gopher REPETITION rules per
    doc — the per-doc stage frame shared by text_gopher_repetition
    (which aggregates it per language) and pipeline_pretraining_e2e
    (funnel stage 2). Oracle mirror: _gopher_rep_cte."""
    toks = F.split("text", " ")
    d = docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n"),
        F.length("text").alias("n_chars"),
    )
    g2 = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(split(text,' ')) < 2 "
                "THEN CAST(array() AS array<string>) ELSE "
                "transform(sequence(0, size(split(text,' ')) - 2), "
                "i -> array_join(slice(split(text,' '), i+1, 2), ' ')) END"
            )
        ).alias("g"),
    )
    g2c = g2.groupBy("doc_id", "g").agg(
        F.count("*").alias("c"), F.length(F.first("g")).alias("gl")
    )
    w_top = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), "g")
    top2 = (
        g2c.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") == 1)
        .join(d.select("doc_id", "n_chars"), "doc_id")
        .select(
            "doc_id",
            F.expr("c * gl * 1000 DIV n_chars").alias("top2_permille"),
        )
    )
    g5 = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(split(text,' ')) < {GOPHER_DUP_N} "
                "THEN CAST(array() AS array<string>) ELSE "
                f"transform(sequence(0, size(split(text,' ')) - {GOPHER_DUP_N}), "
                f"i -> array_join(slice(split(text,' '), i+1, {GOPHER_DUP_N}), ' ')) END"
            )
        ).alias("i", "g"),
    )
    w_cnt = Window.partitionBy("doc_id", "g")
    dup5 = (
        g5.withColumn("c", F.count("*").over(w_cnt))
        .filter(F.col("c") >= 2)
        .select(
            "doc_id",
            F.col("i").alias("s"),
            (F.col("i") + GOPHER_DUP_N).alias("e"),
        )
    )
    w_ord = Window.partitionBy("doc_id").orderBy("s", "e")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # Character coverage of each merged island: the chars of its tokens
    # PLUS the separators between them — exactly
    # length(array_join(slice(toks, s+1, e-s), ' ')), computed after a
    # per-doc join back to the token arrays (islands are per-doc-few).
    cov = (
        dup5.withColumn(
            "ni",
            (
                F.col("s")
                > F.coalesce(F.max("e").over(w_prev), F.lit(-1))
            ).cast("int"),
        )
        .withColumn("isl", F.sum("ni").over(w_run))
        .groupBy("doc_id", "isl")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .join(docs.select("doc_id", toks.alias("toks")), "doc_id")
        .select(
            "doc_id",
            F.length(
                F.array_join(F.expr("slice(toks, s + 1, e - s)"), " ")
            ).alias("ch"),
        )
        .groupBy("doc_id")
        .agg(F.sum("ch").alias("covered_chars"))
    )
    return (
        d.join(top2, "doc_id", "left")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            (
                F.coalesce(F.col("top2_permille"), F.lit(0))
                <= GOPHER_TOP2_MAX_PERMILLE
            ).alias("p_top2"),
            (
                F.expr("COALESCE(covered_chars, 0) * 1000 DIV n_chars")
                <= GOPHER_DUP5_MAX_PERMILLE
            ).alias("p_dup5"),
        )
    )


@register(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang,
               unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    freq AS (
        SELECT word, COUNT(*) AS cw FROM tok GROUP BY word
    ),
    tot AS (
        SELECT COUNT(*) AS t FROM tok
    ),
    surprise AS (
        SELECT tok.doc_id, tok.lang,
               AVG(-log2(CAST(cw AS DOUBLE) / t)) AS bits_per_token
        FROM tok JOIN freq USING (word), tot
        GROUP BY tok.doc_id, tok.lang
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(bits_per_token), 2) + 0.0 AS avg_bits_per_token
    FROM surprise
    GROUP BY lang
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram log-probability scoring: each document's mean
    -log₂ p(token) under the corpus's OWN unigram distribution — the
    LM-free stand-in for the perplexity filter of CCNet-style pipelines
    (docs full of rare tokens score high = surprising; boilerplate
    scores low), built without shipping text to an external LM.

    Plan shape (two-pass, both distributed): pass 1 builds the unigram
    table (explode → groupBy(word), map-side combined — vocabulary-
    sized, NOT corpus-sized); the corpus token total rides along as a
    1-row broadcast crossJoin (no driver .first()). Pass 2 re-joins
    tokens to frequencies on `word` — AQE broadcasts the freq table
    when it fits, else a plain shuffle join — then aggregates per doc
    and per lang. Determinism: identical IEEE divisions/log2 on exact
    integer inputs; the only fp summations are the two AVGs, rounded
    once, late and coarse (2dp), same contract as
    text_entropy_quality (G4)."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
    )
    freq = tok.groupBy("word").agg(F.count("*").alias("cw"))
    total = tok.agg(F.count("*").alias("t"))
    bits = -F.log2(F.col("cw").cast("double") / F.col("t"))
    surprise = (
        tok.join(freq, "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "lang")
        .agg(F.avg(bits).alias("bits_per_token"))
    )
    return surprise.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        (F.round(F.avg("bits_per_token"), 2) + F.lit(0.0)).alias(
            "avg_bits_per_token"
        ),
    )


@register(
    "text_bigram_logprob",
    oracle="""
    WITH s AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ),
    b AS (
        SELECT doc_id, lang, toks[i] AS w1, toks[i + 1] AS w2
        FROM s, UNNEST(range(1, len(toks))) t(i)
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM b GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS n1 FROM b GROUP BY w1),
    v AS (
        SELECT COUNT(DISTINCT word) AS vocab
        FROM (SELECT UNNEST(toks) AS word FROM s)
    ),
    scored AS (
        SELECT b.doc_id, b.lang,
               -log2((CAST(n2 AS DOUBLE) + 1.0)
                     / (CAST(n1 AS DOUBLE) + CAST(vocab AS DOUBLE)))
                   AS bits
        FROM b JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
               JOIN c1 ON b.w1 = c1.w1
               CROSS JOIN v
    )
    SELECT lang,
           COUNT(DISTINCT doc_id) AS n_docs,
           ROUND(AVG(bits), 2) + 0.0 AS avg_bits_per_bigram
    FROM scored
    GROUP BY lang
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram conditional log-probability scoring — the order-2
    upgrade of text_unigram_logprob: each bigram scores
    -log₂ P(w₂|w₁) under the corpus's own add-1-smoothed bigram model
    (P = (c(w₁,w₂)+1)/(c(w₁)+V)). Unigram surprise misses word-ORDER
    degeneracy (shuffled boilerplate scores identically); conditional
    surprise is the LM-free screen that catches it — the closest
    SQL-only stand-in for the CCNet perplexity filter.

    Plan: bigram construction is a narrow transform/explode (pairs
    built in-array — no positional self-join); the model tables are
    VOCABULARY²-bounded (c2) and vocabulary-bounded (c1), both
    map-side-combined, then re-joined onto the bigram stream — AQE
    broadcasts them when they fit. V rides as a 1-row broadcast. At
    100 TB: two corpus passes, shuffles carry model-table keys, never
    documents. Determinism: log2/division on exact integer counts are
    bit-identical per bigram; the only fp reductions are the two AVGs,
    rounded once at 2dp (same contract as text_unigram_logprob).
    """
    toks = F.split("text", " ")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", toks.alias("toks"), F.size(toks).alias("n")
    )
    pairs = F.when(
        F.col("n") < 2,
        F.array().cast("array<struct<w1:string,w2:string>>"),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.col("n") - 1),
            lambda i: F.struct(
                F.element_at("toks", i.cast("int")).alias("w1"),
                F.element_at("toks", (i + 1).cast("int")).alias("w2"),
            ),
        )
    )
    b = docs.select(
        "doc_id", "lang", F.explode(pairs).alias("p")
    ).select("doc_id", "lang", "p.w1", "p.w2")
    c2 = b.groupBy("w1", "w2").agg(F.count("*").alias("n2"))
    c1 = b.groupBy("w1").agg(F.count("*").alias("n1"))
    vocab = (
        docs.select(F.explode("toks").alias("word"))
        .agg(F.countDistinct("word").alias("vocab"))
    )
    bits = -F.log2(
        (F.col("n2").cast("double") + F.lit(1.0))
        / (F.col("n1").cast("double") + F.col("vocab").cast("double"))
    )
    scored = (
        b.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", "lang", bits.alias("bits"))
    )
    return scored.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        (F.round(F.avg("bits"), 2) + F.lit(0.0)).alias(
            "avg_bits_per_bigram"
        ),
    )


PMI_TOP_WORDS = 20
PMI_OUT = 25


@register(
    "text_cooccurrence_pmi",
    oracle=f"""
    WITH words AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM words),
    top_w AS (
        SELECT w, COUNT(*) AS df FROM words GROUP BY w
        ORDER BY df DESC, w LIMIT {PMI_TOP_WORDS}
    ),
    hits AS (
        SELECT wo.doc_id, wo.w, t.df FROM words wo JOIN top_w t USING (w)
    ),
    pairs AS (
        SELECT a.w AS w1, b.w AS w2, a.df AS df1, b.df AS df2,
               COUNT(*) AS n_ab
        FROM hits a JOIN hits b
          ON a.doc_id = b.doc_id AND a.w < b.w
        GROUP BY a.w, b.w, a.df, b.df
    )
    SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab,
           ROUND(ln((CAST(n_ab AS DOUBLE) * n.n_docs)
                    / (CAST(df1 AS DOUBLE) * df2)), 4) AS pmi
    FROM pairs CROSS JOIN nd n
    ORDER BY pmi DESC, w1, w2
    LIMIT {PMI_OUT}
    """,
)
def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise Mutual Information over DOCUMENT-LEVEL co-occurrence
    of the {PMI_TOP_WORDS} most frequent terms — the phrase/association
    detector of word2vec-era preprocessing (Mikolov et al.'s phrase
    scoring is PMI with a discount): PMI > 0 means two words share
    documents more than their frequencies predict. Complements
    text_bigram_logprob, which scores ADJACENCY (directional,
    position-bound); PMI scores topical association anywhere in the
    document.

    Bounded by construction: only the top-K vocabulary enters the pair
    join, so the co-occurrence space is ≤ K² regardless of corpus
    size, and the per-doc fan-out is ≤ K² too — never vocabulary².
    One corpus pass for the vocab ranking (TakeOrdered), one for the
    doc×top-word hits (broadcast semi-join), then a K²-bounded agg.
    The only float is the final log of a ratio of exact integers,
    rounded 4dp — cross-engine safe."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).distinct()
    nd = words.agg(F.countDistinct("doc_id").alias("n_docs"))
    top_w = (
        words.groupBy("w")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), "w")
        .limit(PMI_TOP_WORDS)
    )
    hits = words.join(F.broadcast(top_w), "w")
    a = hits.select(
        F.col("doc_id"), F.col("w").alias("w1"), F.col("df").alias("df1")
    )
    b = hits.select(
        F.col("doc_id"), F.col("w").alias("w2"), F.col("df").alias("df2")
    )
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2", "df1", "df2")
        .agg(F.count("*").alias("n_ab"))
    )
    return (
        pairs.crossJoin(F.broadcast(nd))
        .select(
            "w1",
            "w2",
            "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab").cast("double") * F.col("n_docs"))
                    / (F.col("df1").cast("double") * F.col("df2"))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(PMI_OUT)
    )


@register(
    "text_zipf_fit",
    oracle="""
    WITH words AS (
        SELECT lower(unnest(string_split(text, ' '))) AS w
        FROM documents
    ),
    freq AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS f
        FROM words WHERE w <> '' GROUP BY w
    ),
    ranked AS (
        SELECT f,
               ROW_NUMBER() OVER (ORDER BY f DESC, w) AS r
        FROM freq
    ),
    logs AS (
        SELECT CAST(ROUND(1e9 * ln(CAST(r AS DOUBLE))) AS BIGINT) AS x,
               CAST(ROUND(1e9 * ln(CAST(f AS DOUBLE))) AS BIGINT) AS y
        FROM ranked
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
               CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(38,0))
                        * CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS sxy,
               CAST(SUM(CAST(x AS DECIMAL(38,0))
                        * CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS sxx
        FROM logs
    )
    SELECT CAST(n AS BIGINT) AS n_vocab,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope
    FROM sums
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit — the corpus-linguistics diagnostic every
    dataset card should carry: the log-log slope of word frequency
    against frequency rank (natural language sits near −1; a slope
    far off flags templated/boilerplate or synthetic text, the
    corpus-level complement of the per-document screens
    text_repetition and text_entropy_quality). Ranks are fully
    deterministic (freq DESC, word); each ln is nano-rounded to an
    INTEGER once per DISTINCT WORD (the PSI fixed-point pattern), the
    OLS sufficient sums accumulate in DECIMAL(38,0) (products of two
    1e9-scale ints overflow BIGINT — the price-index lesson), and
    the slope is the single closed-form IEEE division.

    Scale: explode → word-frequency partial agg (the text_wordcount
    shuffle); everything after runs on the VOCABULARY frame — and
    since r13 the rank itself is the bucket-offset two-pass
    (scalable.py; a web-scale vocabulary IS corpus-cardinality, so
    the former |vocab| global sort was the one remaining single-task
    stage). Bucket key is −f (monotone in the freq-DESC order; ties
    break on word inside the per-bucket window) and the ranks are
    unchanged — the oracle keeps the plain ROW_NUMBER form."""
    from pg_archiver_spark.operators.scalable import bucketed_global_rank

    docs = load(spark, sf_dir, "documents")
    freq = (
        docs.select(
            F.explode(F.split(F.lower("text"), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("f"))
    )
    ranked = bucketed_global_rank(
        freq,
        -F.col("f"),
        [F.desc("f"), F.col("w")],
        "r",
        "__n",
    ).select("f", "r")
    logs = ranked.select(
        F.round(F.lit(1e9) * F.log(F.col("r").cast("double")))
        .cast("bigint")
        .alias("x"),
        F.round(F.lit(1e9) * F.log(F.col("f").cast("double")))
        .cast("bigint")
        .alias("y"),
    )
    sums = logs.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x").cast("decimal(38,0)")).alias("sxx"),
    )
    return sums.select(
        F.col("n").cast("bigint").alias("n_vocab"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("zipf_slope"),
    )


@register(
    "text_readability",
    oracle="""
    WITH per_doc AS (
        SELECT lang,
               len(string_split(text, ' ')) AS n_tokens,
               len(regexp_extract_all(text, '[aeiouy]+')) AS n_syll
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_syll) AS BIGINT) AS total_syllables,
           CAST(SUM(n_tokens) * 1000 // COUNT(*) AS BIGINT)
               AS tokens_per_doc_milli,
           CAST(SUM(n_syll) * 1000 // SUM(n_tokens) AS BIGINT)
               AS syll_per_word_milli,
           CAST(206835
                - 1015 * (SUM(n_tokens) * 1000 // COUNT(*)) // 1000
                - 84600 * (SUM(n_syll) * 1000 // SUM(n_tokens)) // 1000
                AS BIGINT) AS flesch_est_milli
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-reading-ease-style READABILITY profile per language — the
    classic curation signal next to the entropy/Gopher screens: long
    sentences and polysyllabic words read harder. The fixture text has
    no sentence punctuation, so the documented proxy treats each
    document as one sentence (ASL = tokens/doc) and estimates
    syllables as maximal vowel-group runs (`[aeiouy]+`) — the standard
    cheap syllable heuristic. The Flesch formula's constants are
    applied in scaled INTEGER arithmetic (milli units, floor division
    at every step — the house cross-engine ratio rule), so both
    engines quantize identically; the per-language sums are exact
    BIGINTs.

    Scale: one map stage (split + regexp count per row, all
    whole-stage-codegen'd) and one small groupBy(lang) — the same two
    stages at any corpus size."""
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.regexp_count(F.col("text"), F.lit("[aeiouy]+"))
        .cast("long")
        .alias("n_syll"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_syll").cast("bigint").alias("total_syllables"),
    )
    return (
        agg.select(
            "lang",
            "n_docs",
            "total_tokens",
            "total_syllables",
            F.expr("total_tokens * 1000 DIV n_docs").alias(
                "tokens_per_doc_milli"
            ),
            F.expr("total_syllables * 1000 DIV total_tokens").alias(
                "syll_per_word_milli"
            ),
            F.expr(
                "206835 - 1015 * (total_tokens * 1000 DIV n_docs) DIV 1000"
                " - 84600 * (total_syllables * 1000 DIV total_tokens)"
                " DIV 1000"
            ).alias("flesch_est_milli"),
        )
        .orderBy("lang")
    )


NOVELTY_NGRAM = 3  # token n-gram order for the novelty curve
NOVELTY_DECILES = 10


@register(
    "text_ngram_novelty_decay",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(len(string_split(text, ' ')) - {NOVELTY_NGRAM - 1}),
                   i -> array_to_string(
                       string_split(text, ' ')[i+1:i+{NOVELTY_NGRAM}], ' ')
               ))) AS g
        FROM documents
    ),
    firsts AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g),
    per_doc AS (
        SELECT gr.doc_id,
               COUNT(*) AS n_grams,
               SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                   AS n_novel
        FROM grams gr JOIN firsts f ON gr.g = f.g
        GROUP BY gr.doc_id
    ),
    anchor AS (SELECT MAX(doc_id) + 1 AS n_docs FROM documents)
    SELECT CAST(p.doc_id * {NOVELTY_DECILES} // a.n_docs AS BIGINT)
               AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_grams) AS BIGINT) AS total_ngrams,
           CAST(SUM(p.n_novel) * 1000 // SUM(p.n_grams) AS BIGINT)
               AS novel_permille
    FROM per_doc p CROSS JOIN anchor a
    GROUP BY decile
    ORDER BY decile
    """,
)
def text_ngram_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM NOVELTY DECAY — the corpus-freshness curve data teams
    watch while accumulating training data: for each document (in
    doc_id ingest order), what fraction of its distinct 3-gram phrases
    has never appeared in ANY earlier document? Healthy corpora decay
    slowly; a collapsing curve means the crawl is re-reading itself
    and more data is buying memorization risk, not information (the
    monitoring companion to the dedup stack — this op measures
    cross-doc repetition BELOW the near-dup threshold where
    minhash_neardup fires). Reported as a permille novelty rate per
    doc_id decile.

    Scale: first-occurrence attribution is one groupBy(min) over the
    exploded n-gram frame and an equi-join back — the exact shape of
    dedup_exact's first-occurrence ledger; the decile reduce makes the
    output 10 rows at any corpus size. The 1-row MAX anchor broadcast
    is the standard whitelisted pattern."""
    docs = load(spark, sf_dir, "documents")
    # Short-doc guard (ADVICE r8 #2, the _shingle_strs idiom): for a
    # doc with fewer than NOVELTY_NGRAM tokens Spark's sequence(0, n-3)
    # would descend into negative i and slice(..., 0, 3) raises; the
    # oracle's range() just yields an empty list. Emit the empty array
    # explicitly so both engines drop the doc at the explode.
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"CASE WHEN size(split(text,' ')) < {NOVELTY_NGRAM} "
                    "THEN CAST(array() AS array<string>) ELSE "
                    f"transform(sequence(0, size(split(text,' ')) - {NOVELTY_NGRAM}), "
                    f"i -> array_join(slice(split(text,' '), i+1, {NOVELTY_NGRAM}), ' ')) "
                    "END"
                )
            )
        ).alias("g"),
    )
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    anchor = docs.agg((F.max("doc_id") + 1).alias("n_docs_total"))
    return (
        per_doc.crossJoin(F.broadcast(anchor))
        .groupBy(
            F.expr(f"doc_id * {NOVELTY_DECILES} DIV n_docs_total")
            .cast("bigint")
            .alias("decile")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_grams").cast("bigint").alias("total_ngrams"),
            F.expr("SUM(n_novel) * 1000 DIV SUM(n_grams)")
            .cast("bigint")
            .alias("novel_permille"),
        )
        .orderBy("decile")
    )


# ------------------------------------------- n-gram perplexity gate
# The CCNet/KenLM-style quality screen (Wenzek et al. 2020): score
# each document's mean bigram surprise under the corpus's own
# add-1-smoothed bigram model and keep the docs at or below their
# language's mean — the "head+middle" half of CCNet's per-language
# perplexity split, with the corpus n-gram model standing in for the
# trained KenLM (text_bigram_logprob is the float report of the same
# model; this op is the integer-exact GATE).


def _perplexity_filter_oracle() -> str:
    from pg_archiver_spark.functions.curation import _dsir_staged_sql

    m_sql, m_last = _dsir_staged_sql("pf0", "pfs")
    return f"""
    WITH pfd AS MATERIALIZED (
        SELECT doc_id, lang, string_split(text, ' ') AS toks
        FROM documents
    ),
    pfb AS MATERIALIZED (
        SELECT doc_id, lang, toks[i] AS w1, toks[i + 1] AS w2
        FROM pfd, UNNEST(range(1, len(toks))) t(i)
    ),
    pfc2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM pfb GROUP BY w1, w2),
    pfc1 AS (SELECT w1, COUNT(*) AS n1 FROM pfb GROUP BY w1),
    pfv AS (
        SELECT COUNT(DISTINCT word) AS vocab
        FROM (SELECT UNNEST(toks) AS word FROM pfd)
    ),
    pf0 AS (
        SELECT c2.w1, c2.w2,
               CAST(n2 + 1 AS BIGINT) AS c,
               CAST(n1 + vocab AS BIGINT) AS t
        FROM pfc2 c2 JOIN pfc1 c1 ON c2.w1 = c1.w1 CROSS JOIN pfv
    ),
{m_sql}    pfscored AS MATERIALIZED (
        SELECT b.doc_id, b.lang,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM((-m.q) // 1000000) // COUNT(*) AS BIGINT)
                   AS surprise_micro
        FROM pfb b JOIN {m_last} m ON b.w1 = m.w1 AND b.w2 = m.w2
        GROUP BY b.doc_id, b.lang
    ),
    pfthr AS (
        SELECT *,
               SUM(surprise_micro) OVER (PARTITION BY lang)
                   // COUNT(*) OVER (PARTITION BY lang) AS thr_micro
        FROM pfscored
    ),
    pfall AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang
    )
    SELECT a.lang,
           a.n_docs,
           CAST(COUNT(s.doc_id) AS BIGINT) AS n_scored,
           CAST(COALESCE(ANY_VALUE(s.thr_micro), -1) AS BIGINT)
               AS thr_micro,
           CAST(SUM(CASE WHEN s.surprise_micro <= s.thr_micro
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(COALESCE(MIN(s.surprise_micro), -1) AS BIGINT)
               AS min_surprise_micro,
           CAST(COALESCE(MAX(s.surprise_micro), -1) AS BIGINT)
               AS max_surprise_micro
    FROM pfall a LEFT JOIN pfthr s USING (lang)
    GROUP BY a.lang, a.n_docs
    ORDER BY a.lang
    """


@register("text_perplexity_filter", oracle=_perplexity_filter_oracle())
def text_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM PERPLEXITY GATE — the CCNet screen (Wenzek et al. 2020,
    arXiv:1911.00359): documents whose language-model surprise is
    above their language's average are the tail CCNet drops or
    down-weights. The LM is the corpus's own add-1-smoothed bigram
    model (the exact model text_bigram_logprob reports in float bits);
    here every bigram's −ln P(w₂|w₁) = ln(n₁+V) − ln(n₂+1) runs
    through the SHARED pico-ln ladder (_unigram_q_stages over the
    per-distinct-bigram (c, t) table), is floored to integer
    micro-nats, and each doc scores the integer MEAN surprise of its
    bigram instances — so the per-language threshold (mean of doc
    scores, integer DIV) and the keep/drop decision are bit-identical
    cross-engine, unlike a float-perplexity compare which could flip
    boundary docs.

    Scale shape: identical to text_bigram_logprob — one bigram
    explode, vocabulary²-bounded model tables (map-side combined), the
    ladder is a codegen map over the DISTINCT-bigram frame (model
    rows, not corpus rows), one equi-join of the bigram stream onto
    the scored model, a per-doc agg, and |langs|-sized windows.
    Nothing corpus-sized shuffles twice. Output per language: doc and
    scored-doc counts, the integer threshold, the pass count (docs a
    real pipeline would keep), and the surprise range."""
    from pg_archiver_spark.functions.curation import _unigram_q_stages

    toks = F.split("text", " ")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", toks.alias("toks"), F.size(toks).alias("n")
    )
    pairs = F.when(
        F.col("n") < 2,
        F.array().cast("array<struct<w1:string,w2:string>>"),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.col("n") - 1),
            lambda i: F.struct(
                F.element_at("toks", i.cast("int")).alias("w1"),
                F.element_at("toks", (i + 1).cast("int")).alias("w2"),
            ),
        )
    )
    b = docs.select("doc_id", "lang", F.explode(pairs).alias("p")).select(
        "doc_id", "lang", "p.w1", "p.w2"
    )
    c2 = b.groupBy("w1", "w2").agg(F.count("*").alias("n2"))
    c1 = b.groupBy("w1").agg(F.count("*").alias("n1"))
    vocab = docs.select(F.explode("toks").alias("word")).agg(
        F.countDistinct("word").alias("vocab")
    )
    model = (
        c2.join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            (F.col("n2") + 1).cast("long").alias("c"),
            (F.col("n1") + F.col("vocab")).cast("long").alias("t"),
        )
    )
    for stage in _unigram_q_stages():
        model = model.selectExpr("*", *stage)
    scored = (
        b.join(model.select("w1", "w2", "q"), ["w1", "w2"])
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.expr("SUM((-q) DIV 1000000) DIV COUNT(*)")
            .cast("long")
            .alias("surprise_micro"),
        )
    )
    thr = scored.withColumn(
        "thr_micro",
        F.expr(
            "SUM(surprise_micro) OVER (PARTITION BY lang)"
            " DIV COUNT(*) OVER (PARTITION BY lang)"
        ),
    )
    n_all = load(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    return (
        n_all.join(thr, "lang", "left")
        .groupBy("lang", "n_docs")
        .agg(
            F.count("doc_id").cast("bigint").alias("n_scored"),
            # A language whose docs are ALL single-token has no
            # bigrams to score: thr/min/max would be NULL, and pandas
            # NaN != Spark None under the driver compare (G13c) —
            # sentinel -1 on BOTH sides keeps the row non-null.
            F.coalesce(F.first("thr_micro"), F.lit(-1))
            .cast("bigint")
            .alias("thr_micro"),
            F.sum(
                F.when(
                    F.col("surprise_micro") <= F.col("thr_micro"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_pass"),
            F.coalesce(F.min("surprise_micro"), F.lit(-1))
            .cast("bigint")
            .alias("min_surprise_micro"),
            F.coalesce(F.max("surprise_micro"), F.lit(-1))
            .cast("bigint")
            .alias("max_surprise_micro"),
        )
        .select(
            "lang",
            "n_docs",
            "n_scored",
            "thr_micro",
            "n_pass",
            "min_surprise_micro",
            "max_surprise_micro",
        )
        .orderBy("lang")
    )


# ------------------------------------------------- BM25 panel search
# Okapi BM25 (Robertson & Zaragoza 2009), the lexical retrieval leg of
# every hybrid search stack. sim_rrf_fusion embeds a 2-term float-ln
# BM25 for its fusion demo; this op is the standalone INTEGER-EXACT
# panel version: idf through the shared pico-ln ladder, the tf
# saturation as one exact integer rational, so near-tied ranks can
# never flip cross-engine. Algebra (k1 = 1.2 = 6/5, b = 0.75 = 3/4,
# avgdl = T/N with T = total tokens, N = total docs):
#   idf      = ln((N - df + 0.5)/(df + 0.5) + 1) = ln((2N+2)/(2df+1))
#              → pico-nats via the ladder on (c, t) = (2df+1, 2N+2)
#   tf factor = tf·(k1+1)/(tf + k1(1-b) + k1·b·dl·N/T)
#             = 22·T·tf / (10·T·tf + 3·T + 9·dl·N)   (scale by 10T)
#   term score_micro = (idf_pico DIV 1e6)·22·T·tf DIV (10·T·tf+3·T+9·dl·N)
# All operands non-negative, so Spark DIV (truncate) == DuckDB //
# (floor). Integer-range note: the biggest intermediate is
# idf_micro·22·T·tf ≈ 2e7·22·T·tf — safe under int64 up to T·tf ≈ 2e10
# (far beyond the fixtures); at extreme corpus sizes rescale the grid
# (milli idf) or pre-divide T from the factor.
BM25_TOPK = 5
_BM25_QUERIES = (
    (1, "spark join order"),
    (2, "fast hash table scan"),
    (3, "customer query filter"),
    (4, "window batch merge data"),
)


def _bm25_oracle() -> str:
    from pg_archiver_spark.functions.curation import _dsir_staged_sql

    ladder_sql, ladder_last = _dsir_staged_sql("bm0", "bms")
    vals = ", ".join(
        f"({qid}, '{w}')"
        for qid, text in _BM25_QUERIES
        for w in text.split(" ")
    )
    return f"""
    WITH bmq(query_id, w) AS (VALUES {vals}),
    bmd AS MATERIALIZED (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    bmdl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM bmd),
    bmstat AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS t_tok
        FROM bmdl
    ),
    bmtf AS MATERIALIZED (
        SELECT doc_id, dl, w, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT d.doc_id, l.dl, unnest(d.toks) AS w
              FROM bmd d JOIN bmdl l USING (doc_id))
        WHERE w IN (SELECT DISTINCT w FROM bmq)
        GROUP BY doc_id, dl, w
    ),
    bmdf AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM bmtf GROUP BY w
    ),
    bm0 AS (
        SELECT w, CAST(2 * df + 1 AS BIGINT) AS c,
               CAST(2 * n_docs + 2 AS BIGINT) AS t
        FROM bmdf CROSS JOIN bmstat
    ),
{ladder_sql}    bmidf AS (SELECT w, -q AS idf_pico FROM {ladder_last}),
    bmterm AS (
        SELECT q.query_id, f.doc_id,
               (i.idf_pico // 1000000) * (22 * s.t_tok * f.tf)
                   // (10 * s.t_tok * f.tf + 3 * s.t_tok
                       + 9 * f.dl * s.n_docs) AS sc
        FROM bmtf f
        JOIN bmq q USING (w)
        JOIN bmidf i USING (w)
        CROSS JOIN bmstat s
    ),
    bmscore AS (
        SELECT query_id, doc_id,
               CAST(SUM(sc) AS BIGINT) AS score_micro,
               CAST(COUNT(*) AS BIGINT) AS n_terms
        FROM bmterm GROUP BY query_id, doc_id
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score_micro,
           n_terms, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY score_micro DESC, doc_id) AS rank
          FROM bmscore)
    WHERE rank <= {BM25_TOPK}
    ORDER BY query_id, rank
    """


@register("sim_bm25_topk", oracle=_bm25_oracle())
def sim_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TOP-K for a fixed query panel — the lexical retrieval
    operator (Okapi BM25, Robertson & Zaragoza 2009) a hybrid search /
    decontamination / eval-lookup stage runs against the documents
    table. Integer-exact cross-engine: idf = ln((N+1)/(df+0.5)) runs
    through the SHARED pico-ln ladder (ln((2N+2)/(2df+1)) on integer
    (c, t) — algebraically identical to the Robertson-idf, see the
    derivation above _bm25_oracle), and the tf-saturation factor is
    one exact integer rational, so scores are bit-identical BIGINT
    micro-nats and ranking (score DESC, doc_id) can never flip on
    float drift (G4/G11).

    Plan shape at 100 TB: the token explode is FILTERED to the panel's
    terms before the tf shuffle (a broadcast semi-join — the posting
    scan carries only matching tokens, a tiny fraction of the corpus);
    df and the 1-row (N, T) stats are map-side-combinable aggregates;
    idf is a |terms|-row ladder map; scoring re-joins three broadcast
    frames (panel terms, idf, stats) onto the (doc, term) postings —
    nothing corpus-sized shuffles twice — and top-k per query is a
    window over per-query score frames. The panel is FIXED-SIZE
    (the _KNN_BATCH_IDS discipline): the broadcast never grows with
    the corpus."""
    from pg_archiver_spark.functions.curation import _unigram_q_stages

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    qterms = spark.createDataFrame(
        [
            (qid, w)
            for qid, text in _BM25_QUERIES
            for w in text.split(" ")
        ],
        "query_id long, w string",
    )
    terms = qterms.select("w").distinct()
    dl = docs.select("doc_id", F.size("toks").cast("long").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("t_tok"),
    )
    # dl rides through the explode+groupBy so the postings frame never
    # re-joins a corpus-sized length table. The tf frame feeds both the
    # df aggregate and the scoring join, so the filtered explode runs
    # twice — measured NEUTRAL vs an eager localCheckpoint of the
    # postings at sf0.1 (1.98 s vs 2.10 s min-of-5), so the simpler
    # barrier-free plan stays; at cluster scale, if the postings scan
    # dominates, materialize tf once (checkpoint/parquet) per the
    # pipeline_pretraining_e2e stage-boundary pattern.
    tf = (
        docs.select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            F.explode("toks").alias("w"),
        )
        .join(F.broadcast(terms), "w", "semi")
        .groupBy("doc_id", "dl", "w")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    # df = COUNT(*) over the per-(doc, term) tf frame — spelled as
    # SUM(CASE WHEN tf >= 1 ...) (identical value: tf = COUNT(*) >= 1 on
    # every row) so this branch CONSUMES the tf column. With count(*)
    # Catalyst pruned the partial count from this branch's copy of the
    # tf aggregate, making the two tf subtrees canonically different —
    # the exchange could not be reused and the corpus scan + split +
    # explode + panel semi-join ran TWICE (guide §2.4; the formatted
    # plan went from 2 Generate nodes to 1 with a ReusedExchange).
    # NOTE: F.count("tf") would not work — NullPropagation rewrites
    # count(non-nullable) back to count(1).
    dfr = tf.groupBy("w").agg(
        F.sum(F.when(F.col("tf") >= 1, 1).otherwise(0))
        .cast("long")
        .alias("df")
    )
    idf = (
        dfr.crossJoin(F.broadcast(stats))
        .select(
            "w",
            (F.col("df") * 2 + 1).cast("long").alias("c"),
            (F.col("n_docs") * 2 + 2).cast("long").alias("t"),
        )
    )
    for stage in _unigram_q_stages():
        idf = idf.selectExpr("*", *stage)
    idf = idf.select("w", (-F.col("q")).alias("idf_pico"))
    scored = (
        tf.join(F.broadcast(qterms), "w")
        .join(F.broadcast(idf), "w")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.expr(
                "(idf_pico DIV 1000000) * (22 * t_tok * tf)"
                " DIV (10 * t_tok * tf + 3 * t_tok + 9 * dl * n_docs)"
            ).alias("sc"),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("sc").cast("long").alias("score_micro"),
            F.count("*").cast("long").alias("n_terms"),
        )
    )
    w_q = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_q))
        .filter(F.col("rank") <= BM25_TOPK)
        .select(
            F.col("query_id").cast("bigint").alias("query_id"),
            "doc_id",
            "score_micro",
            "n_terms",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------- LM
# Stupid-backoff trigram LM scoring (Brants et al. 2007, "Large
# Language Models in Machine Translation" — the distributed n-gram LM
# built exactly as sharded count tables joined at score time).
SB_LN04_PICO = -916290731874  # round(ln(0.4) * 1e12), shared literal
SB_TRAIN_BAND = ("0", "7")  # md5 first hex char → deterministic half


def _sb_oracle() -> str:
    from pg_archiver_spark.functions.curation import _dsir_staged_sql

    ladder_sql, ladder_last = _dsir_staged_sql("sb0", "sbs")
    lo, hi = SB_TRAIN_BAND
    return f"""
    WITH sdoc AS MATERIALIZED (
        SELECT doc_id, lang, string_split(text, ' ') AS toks,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                        BETWEEN '{lo}' AND '{hi}'
                    THEN 'train' ELSE 'eval' END AS split
        FROM documents
    ),
    stri AS MATERIALIZED (
        SELECT doc_id, lang, split,
               toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
        FROM sdoc, UNNEST(range(1, greatest(len(toks) - 1, 1))) t(i)
    ),
    sbig AS MATERIALIZED (
        SELECT toks[i] AS w1, toks[i + 1] AS w2
        FROM sdoc, UNNEST(range(1, len(toks))) t(i)
        WHERE split = 'train'
    ),
    c3 AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c3
           FROM stri WHERE split = 'train' GROUP BY w1, w2, w3),
    c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
           FROM sbig GROUP BY w1, w2),
    uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS u
            FROM (SELECT unnest(toks) AS w FROM sdoc
                  WHERE split = 'train')
            GROUP BY w),
    stat AS (SELECT COALESCE(CAST(SUM(u) AS BIGINT), 0) AS n_tok,
                    CAST(COUNT(*) AS BIGINT) AS vocab
             FROM uni),
    sb0 AS MATERIALIZED (
        SELECT t.doc_id, t.lang, t.split,
               CASE WHEN tri.c3 IS NOT NULL THEN 0
                    WHEN num.c2 IS NOT NULL THEN 1
                    ELSE 2 END AS lvl,
               CASE WHEN tri.c3 IS NOT NULL THEN tri.c3
                    WHEN num.c2 IS NOT NULL THEN num.c2
                    ELSE COALESCE(u3.u, 0) + 1 END AS c,
               CASE WHEN tri.c3 IS NOT NULL THEN ctx.c2
                    WHEN num.c2 IS NOT NULL THEN u2.u
                    ELSE greatest(s.n_tok + s.vocab, 1) END AS t
        FROM stri t
        LEFT JOIN c3 tri ON t.w1 = tri.w1 AND t.w2 = tri.w2
                         AND t.w3 = tri.w3
        LEFT JOIN c2 ctx ON t.w1 = ctx.w1 AND t.w2 = ctx.w2
        LEFT JOIN c2 num ON t.w2 = num.w1 AND t.w3 = num.w2
        LEFT JOIN uni u2 ON t.w2 = u2.w
        LEFT JOIN uni u3 ON t.w3 = u3.w
        CROSS JOIN stat s
    ),
{ladder_sql}    sterm AS (
        SELECT doc_id, lang, split, lvl,
               q + lvl * {SB_LN04_PICO} AS s_pico
        FROM {ladder_last}
    ),
    sdocagg AS (
        SELECT doc_id, lang, split,
               CAST(COUNT(*) AS BIGINT) AS n_tri,
               CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS tri_hits,
               CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS bi_hits,
               CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS uni_hits,
               CAST(SUM(-s_pico) AS BIGINT) AS neg_pico,
               CAST(SUM(-s_pico) // 1000000 AS BIGINT) AS neg_micro
        FROM sterm GROUP BY doc_id, lang, split
    )
    SELECT lang, split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tri) AS BIGINT) AS n_trigrams,
           CAST(SUM(tri_hits) AS BIGINT) AS tri_hits,
           CAST(SUM(bi_hits) AS BIGINT) AS bi_hits,
           CAST(SUM(uni_hits) AS BIGINT) AS uni_hits,
           CAST(SUM(neg_micro) // SUM(n_tri) AS BIGINT)
               AS mean_surprise_micro,
           CAST(MAX(neg_pico // (n_tri * 1000000)) AS BIGINT)
               AS max_doc_mean_micro
    FROM sdocagg
    GROUP BY lang, split
    ORDER BY lang, split
    """


@register("text_stupid_backoff_lm", oracle=_sb_oracle())
def text_stupid_backoff_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram LM scoring (Brants et al. 2007) — the
    distributed n-gram LM as sharded count tables: a deterministic
    md5 half-split trains trigram/bigram/unigram counts, every doc is
    scored S(w3|w1,w2) = c3/c2(ctx) if the trigram was seen, else
    0.4 * c2(w2,w3)/u(w2), else 0.4^2 * (u(w3)+1)/(N+V) (add-1 floor
    for unseen words), and the per-(lang, split) report shows eval
    docs backing off where train docs hit — the held-out structure
    that makes the backoff path REAL on any corpus (scoring the
    training corpus under its own LM never backs off).

    Integer-exact cross-engine (G4/G11): each level's probability is
    a ratio of exact BIGINT counts, taken through the SHARED pico-ln
    ladder (q = round((ln c − ln t)·1e12)), and the 0.4-per-level
    penalty is the shared literal round(ln 0.4 · 1e12) — so every
    trigram's score is a bit-identical BIGINT pico-nat and the
    report's floor-divisions run on provably non-negative operands
    (c ≤ t at every level ⇒ q ≤ 0 ⇒ −Σq ≥ 0). Empty-train edge
    (hostile splits): t = greatest(N+V, 1) keeps the ladder total.

    Plan shape at 100 TB: trigram/bigram/unigram model tables are
    explode + map-side-combinable groupBys (shuffles carry n-gram
    KEYS, never documents); scoring is the Brants sharded-count-join
    — the trigram stream joins the count tables on their n-gram keys
    (AQE broadcasts them at small SF; at cluster scale they shuffle
    co-partitioned by key, which is exactly how the 2007 system
    served 2e12-token models); the 1-row (N, V) frame broadcasts.
    Reference anchor: generalizes main.go's single-table scan surface
    (main.go:88-102) to corpus-model scoring."""
    lo, hi = SB_TRAIN_BAND
    toks = F.split("text", " ")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        toks.alias("toks"),
        F.size(toks).alias("n"),
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
            .between(lo, hi),
            F.lit("train"),
        )
        .otherwise(F.lit("eval"))
        .alias("split"),
    )
    tri_structs = F.when(
        F.col("n") < 3,
        F.array().cast("array<struct<w1:string,w2:string,w3:string>>"),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.col("n") - 2),
            lambda i: F.struct(
                F.element_at("toks", i.cast("int")).alias("w1"),
                F.element_at("toks", (i + 1).cast("int")).alias("w2"),
                F.element_at("toks", (i + 2).cast("int")).alias("w3"),
            ),
        )
    )
    tri = docs.select(
        "doc_id", "lang", "split", F.explode(tri_structs).alias("g")
    ).select("doc_id", "lang", "split", "g.w1", "g.w2", "g.w3")
    big_structs = F.when(
        F.col("n") < 2,
        F.array().cast("array<struct<w1:string,w2:string>>"),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.col("n") - 1),
            lambda i: F.struct(
                F.element_at("toks", i.cast("int")).alias("w1"),
                F.element_at("toks", (i + 1).cast("int")).alias("w2"),
            ),
        )
    )
    train_docs = docs.filter(F.col("split") == "train")
    c3 = (
        tri.filter(F.col("split") == "train")
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").cast("long").alias("c3"))
    )
    c2 = (
        train_docs.select(F.explode(big_structs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c2"))
    )
    uni = (
        train_docs.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("u"))
    )
    stat = uni.agg(
        F.coalesce(F.sum("u"), F.lit(0)).cast("long").alias("n_tok"),
        F.count("*").cast("long").alias("vocab"),
    )
    c2ctx = c2.select(
        F.col("w1").alias("x1"), F.col("w2").alias("x2"),
        F.col("c2").alias("ctx2"),
    )
    c2num = c2.select(
        F.col("w1").alias("y1"), F.col("w2").alias("y2"),
        F.col("c2").alias("num2"),
    )
    u2 = uni.select(F.col("w").alias("w2k"), F.col("u").alias("u2"))
    u3 = uni.select(F.col("w").alias("w3k"), F.col("u").alias("u3"))
    joined = (
        tri.join(c3, ["w1", "w2", "w3"], "left")
        .join(
            c2ctx,
            (F.col("w1") == F.col("x1")) & (F.col("w2") == F.col("x2")),
            "left",
        )
        .join(
            c2num,
            (F.col("w2") == F.col("y1")) & (F.col("w3") == F.col("y2")),
            "left",
        )
        .join(u2, F.col("w2") == F.col("w2k"), "left")
        .join(u3, F.col("w3") == F.col("w3k"), "left")
        .crossJoin(F.broadcast(stat))
        .select(
            "doc_id",
            "lang",
            "split",
            F.when(F.col("c3").isNotNull(), F.lit(0))
            .when(F.col("num2").isNotNull(), F.lit(1))
            .otherwise(F.lit(2))
            .alias("lvl"),
            F.when(F.col("c3").isNotNull(), F.col("c3"))
            .when(F.col("num2").isNotNull(), F.col("num2"))
            .otherwise(F.coalesce(F.col("u3"), F.lit(0)) + 1)
            .cast("long")
            .alias("c"),
            F.when(F.col("c3").isNotNull(), F.col("ctx2"))
            .when(F.col("num2").isNotNull(), F.col("u2"))
            .otherwise(
                F.greatest(F.col("n_tok") + F.col("vocab"), F.lit(1))
            )
            .cast("long")
            .alias("t"),
        )
    )
    from pg_archiver_spark.functions.curation import _unigram_q_stages

    for stage in _unigram_q_stages():
        joined = joined.selectExpr("*", *stage)
    term = joined.select(
        "doc_id",
        "lang",
        "split",
        "lvl",
        (F.col("q") + F.col("lvl") * F.lit(SB_LN04_PICO)).alias(
            "s_pico"
        ),
    )
    docagg = term.groupBy("doc_id", "lang", "split").agg(
        F.count("*").cast("long").alias("n_tri"),
        F.sum(F.when(F.col("lvl") == 0, 1).otherwise(0))
        .cast("long")
        .alias("tri_hits"),
        F.sum(F.when(F.col("lvl") == 1, 1).otherwise(0))
        .cast("long")
        .alias("bi_hits"),
        F.sum(F.when(F.col("lvl") == 2, 1).otherwise(0))
        .cast("long")
        .alias("uni_hits"),
        F.sum(-F.col("s_pico")).cast("long").alias("neg_pico"),
        # Per-doc reduction to MICRO before the cross-doc SUM (ADVICE
        # r11 #2): a pico-nat corpus total wraps int64 past ~1e6
        # trigrams; micro totals hold to ~5e11 trigrams (the envelope
        # documented below). neg_pico >= 0, so DIV == // (floor).
        F.expr("SUM(-s_pico) DIV 1000000").cast("long").alias("neg_micro"),
    )
    return (
        docagg.groupBy("lang", "split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tri").cast("long").alias("n_trigrams"),
            F.sum("tri_hits").cast("long").alias("tri_hits"),
            F.sum("bi_hits").cast("long").alias("bi_hits"),
            F.sum("uni_hits").cast("long").alias("uni_hits"),
            # int64 envelope: per-trigram surprise ~2e7 micro-nats →
            # SUM(neg_micro) stays in int64 to ~4.6e11 corpus trigrams
            # (vs ~9e5 before the per-doc micro reduction); past that,
            # shard the group or lift this one SUM to DECIMAL(38,0).
            F.expr("SUM(neg_micro) DIV SUM(n_tri)")
            .cast("long")
            .alias("mean_surprise_micro"),
            F.max(F.expr("neg_pico DIV (n_tri * 1000000)"))
            .cast("long")
            .alias("max_doc_mean_micro"),
        )
        .orderBy("lang", "split")
    )


# --------------------------------------------------------------- PII
PII_KANON = 3  # tokens with corpus frequency < this are "rare ids"
PII_EMAIL_RE = r"^[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}$"
PII_IPV4_RE = r"^[0-9]{1,3}(\.[0-9]{1,3}){3}$"
PII_IDNUM_RE = r"^[0-9]{7,16}$"


def _pii_oracle() -> str:
    return f"""
    WITH ptok AS MATERIALIZED (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    pfreq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
        FROM ptok GROUP BY tok
    ),
    pflag AS MATERIALIZED (
        SELECT p.doc_id, p.lang, p.tok,
               CASE WHEN regexp_matches(p.tok, '{PII_EMAIL_RE}')
                        THEN 1
                    WHEN regexp_matches(p.tok, '{PII_IPV4_RE}')
                        THEN 2
                    WHEN regexp_matches(p.tok, '{PII_IDNUM_RE}')
                        THEN 3
                    WHEN f.freq < {PII_KANON} THEN 4
                    ELSE 0 END AS cat
        FROM ptok p JOIN pfreq f USING (tok)
    ),
    pdoc AS (
        SELECT doc_id, lang,
               CAST(COUNT(*) AS BIGINT) AS n_tok,
               CAST(SUM(CASE WHEN cat > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_red,
               CAST(SUM(CASE WHEN cat = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_email,
               CAST(SUM(CASE WHEN cat = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_ipv4,
               CAST(SUM(CASE WHEN cat = 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_idnum,
               CAST(SUM(CASE WHEN cat = 4 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_rare
        FROM pflag GROUP BY doc_id, lang
    ),
    prare AS (
        SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT)
                   AS n_rare_distinct
        FROM pflag WHERE cat = 4 GROUP BY lang
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_red > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_touched,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(n_red) AS BIGINT) AS n_redacted,
           CAST(SUM(n_email) AS BIGINT) AS n_email,
           CAST(SUM(n_ipv4) AS BIGINT) AS n_ipv4,
           CAST(SUM(n_idnum) AS BIGINT) AS n_idnum,
           CAST(SUM(n_rare) AS BIGINT) AS n_rare,
           COALESCE(MAX(r.n_rare_distinct), 0) AS n_rare_distinct,
           CAST((SUM(n_tok) - SUM(n_red)) * 1000
                    // greatest(SUM(n_tok), 1) AS BIGINT)
               AS retained_permille
    FROM pdoc d LEFT JOIN prare r ON d.lang = r.lang
    GROUP BY d.lang
    ORDER BY d.lang
    """


@register("text_pii_scrub", oracle=_pii_oracle())
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / identifier scrub report — the privacy pass every public
    training corpus runs before release (the BigCode / StarCoder "The
    Stack" pipeline redacts emails, IPs and keys; medical corpora add
    k-anonymity): a token is redacted when it matches a PII pattern
    (email, IPv4, long id-number — disjoint by CASE priority) or,
    failing those, when its CORPUS-WIDE frequency is below
    {PII_KANON} (the k-anonymity rare-identifier rule: a token seen
    once or twice is a name/key/handle with high probability, and is
    exactly what membership-inference attacks recover). Patterns are
    the common Java-regex/RE2 subset evaluated on lowercase tokens
    (normalize case upstream), so Spark ``rlike`` and DuckDB
    ``regexp_matches`` agree token-for-token; every output is an
    exact BIGINT count and the retained-permille floor-division runs
    on non-negative operands (G4/G13).

    Plan shape at 100 TB: the frequency table is one explode +
    map-side-combinable groupBy (the shuffle carries VOCABULARY keys,
    never documents); the rare test is a shuffle equi-join of the
    token stream against that table — deliberately NOT a broadcast:
    the rare set is corpus-scale by definition (most of the
    vocabulary is rare under Zipf), so this is the honest
    co-partitioned-join shape; the regex arms are pure map-side
    Catalyst predicates inside whole-stage codegen. Per-doc then
    per-lang aggs are map-side combined. Reference anchor: extends
    the reference's archival scan (main.go:88-102) with the privacy
    screen its downstream consumers (README.md:88-102) would run."""
    ptok = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    pfreq = ptok.groupBy("tok").agg(
        F.count("*").cast("long").alias("freq")
    )
    cat = (
        F.when(F.col("tok").rlike(PII_EMAIL_RE), F.lit(1))
        .when(F.col("tok").rlike(PII_IPV4_RE), F.lit(2))
        .when(F.col("tok").rlike(PII_IDNUM_RE), F.lit(3))
        .when(F.col("freq") < PII_KANON, F.lit(4))
        .otherwise(F.lit(0))
    )
    pflag = ptok.join(pfreq, "tok").select(
        "doc_id", "lang", "tok", cat.alias("cat")
    )
    pdoc = pflag.groupBy("doc_id", "lang").agg(
        F.count("*").cast("long").alias("n_tok"),
        F.sum(F.when(F.col("cat") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_red"),
        F.sum(F.when(F.col("cat") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_email"),
        F.sum(F.when(F.col("cat") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n_ipv4"),
        F.sum(F.when(F.col("cat") == 3, 1).otherwise(0))
        .cast("long")
        .alias("n_idnum"),
        F.sum(F.when(F.col("cat") == 4, 1).otherwise(0))
        .cast("long")
        .alias("n_rare"),
    )
    prare = (
        pflag.filter(F.col("cat") == 4)
        .groupBy("lang")
        .agg(F.countDistinct("tok").cast("long").alias("n_rare_distinct"))
    )
    return (
        pdoc.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n_red") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_docs_touched"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("n_red").cast("long").alias("n_redacted"),
            F.sum("n_email").cast("long").alias("n_email"),
            F.sum("n_ipv4").cast("long").alias("n_ipv4"),
            F.sum("n_idnum").cast("long").alias("n_idnum"),
            F.sum("n_rare").cast("long").alias("n_rare"),
            F.expr(
                "(SUM(n_tok) - SUM(n_red)) * 1000"
                " DIV greatest(SUM(n_tok), 1)"
            )
            .cast("long")
            .alias("retained_permille"),
        )
        .join(prare, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "n_docs_touched",
            "n_tokens",
            "n_redacted",
            "n_email",
            "n_ipv4",
            "n_idnum",
            "n_rare",
            F.coalesce(F.col("n_rare_distinct"), F.lit(0))
            .cast("long")
            .alias("n_rare_distinct"),
            "retained_permille",
        )
        .orderBy("lang")
    )
