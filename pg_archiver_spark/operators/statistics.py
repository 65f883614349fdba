"""Statistical-inference and sketch-estimation operators.

The monitoring side of an archival warehouse (reference README.md:127's
"monitoring" future work) eventually needs distribution-level answers,
not just totals: did this week's price distribution SHIFT (KS test)?
are priority and status INDEPENDENT (chi-square)? is daily revenue
AUTOCORRELATED (ACF)? how big is the overlap of two huge key sets
without holding either (KMV sketch)? Each op here computes an exact or
sketch statistic with cross-engine-deterministic arithmetic: integer /
decimal sufficient statistics all the way down, one IEEE double
division (bit-identical across engines) at the very end — never a
float SUM whose accumulation order could differ (G11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pg_archiver_spark.catalog import fan_out, load
from pg_archiver_spark.operators.scalable import bucketed_prefix_sums
from pg_archiver_spark.registry import register


@register(
    "analytics_ks_test",
    oracle="""
    WITH tagged AS (
        SELECT o_totalprice AS v,
               CASE WHEN substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)
                         BETWEEN '0' AND '7'
                    THEN 1 ELSE 0 END AS is_a
        FROM orders
    ),
    counts AS (
        SELECT v, SUM(is_a) AS ca, SUM(1 - is_a) AS cb
        FROM tagged GROUP BY v
    ),
    cum AS (
        SELECT SUM(ca) OVER (ORDER BY v) AS cum_a,
               SUM(cb) OVER (ORDER BY v) AS cum_b,
               SUM(ca) OVER () AS tot_a,
               SUM(cb) OVER () AS tot_b
        FROM counts
    )
    SELECT CAST(MAX(tot_a) AS BIGINT) AS n_a,
           CAST(MAX(tot_b) AS BIGINT) AS n_b,
           ROUND(MAX(ABS(CAST(cum_a AS DOUBLE) / CAST(tot_a AS DOUBLE)
                   - CAST(cum_b AS DOUBLE) / CAST(tot_b AS DOUBLE))), 6)
               + 0.0 AS ks_d
    FROM cum
    """,
)
def analytics_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic — the
    distribution-shift detector. Orders are split into two samples by a
    deterministic md5 hash band of o_orderkey (the analytics_ab_ztest
    null-calibration pattern: a hash split of one population has true
    D ≈ 0, so this run calibrates the pipeline itself), then
    D = max_v |ECDF_A(v) − ECDF_B(v)| is computed exactly over the
    merged order statistics.

    Determinism: the ECDFs are integer cumulative counts; each
    candidate D value is one IEEE subtraction of two divisions
    (bit-identical across engines), and MAX is order-independent — no
    float summation anywhere (G11).

    Plan: one scan → groupBy(v) count (shuffle 1, partial-agg combined)
    → bucket-offset two-pass cumulative sums (scalable.py — the
    window_ntile_scalable pattern: per-bucket windows bounded by
    |values|/256, the only GLOBAL window runs on the ≤256-row offset
    frame) → global max (partial-agg). The distinct-value frame is
    corpus-cardinality (|values| ≤ |orders|), so the r12-flagged
    single-task global window is gone; the statistic is unchanged."""
    orders = load(spark, sf_dir, "orders")
    is_a = (
        F.when(
            F.substring(
                F.md5(F.col("o_orderkey").cast("string")), 1, 1
            ).between("0", "7"),
            1,
        )
        .otherwise(0)
    )
    counts = (
        orders.select(F.col("o_totalprice").alias("v"), is_a.alias("is_a"))
        .groupBy("v")
        .agg(
            F.sum("is_a").alias("ca"),
            F.sum(F.lit(1) - F.col("is_a")).alias("cb"),
        )
    )
    cum = bucketed_prefix_sums(counts, "v", ["ca", "cb"]).select(
        (F.col("ca_prefix") + F.col("ca")).alias("cum_a"),
        (F.col("cb_prefix") + F.col("cb")).alias("cum_b"),
        F.col("ca_tot").alias("tot_a"),
        F.col("cb_tot").alias("tot_b"),
    )
    d = F.abs(
        F.col("cum_a").cast("double") / F.col("tot_a").cast("double")
        - F.col("cum_b").cast("double") / F.col("tot_b").cast("double")
    )
    return cum.agg(
        F.max("tot_a").cast("bigint").alias("n_a"),
        F.max("tot_b").cast("bigint").alias("n_b"),
        # ROUND 6dp + 0.0 (r12 sweep): beyond 2^53 the int->double casts
        # differ between engines in the last ulp (G13 output discipline).
        (F.round(F.max(d), 6) + F.lit(0.0)).alias("ks_d"),
    )


@register(
    "analytics_chisq_independence",
    oracle="""
    WITH cells AS (
        SELECT o_orderpriority AS priority, o_orderstatus AS status,
               COUNT(*) AS obs
        FROM orders GROUP BY 1, 2
    ),
    rowm AS (SELECT priority, SUM(obs) AS r_cnt FROM cells GROUP BY 1),
    colm AS (SELECT status, SUM(obs) AS c_cnt FROM cells GROUP BY 1),
    tot AS (SELECT SUM(obs) AS n FROM cells),
    joined AS (
        SELECT c.priority, c.status, c.obs,
               CAST(CAST(r.r_cnt AS HUGEINT) * col.c_cnt * 1000 // t.n
                    AS BIGINT) AS expected_milli
        FROM cells c
        JOIN rowm r ON c.priority = r.priority
        JOIN colm col ON c.status = col.status
        CROSS JOIN tot t
    )
    SELECT priority, status, CAST(obs AS BIGINT) AS obs,
           expected_milli,
           CAST(CAST(obs * 1000 - expected_milli AS HUGEINT)
                * (obs * 1000 - expected_milli)
                // GREATEST(expected_milli, 1) AS BIGINT) AS chi_cell_milli
    FROM joined
    ORDER BY priority, status
    """,
)
def analytics_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between order priority and order
    status — the categorical-drift audit (are cancellations
    concentrated in some priority band?). Emits the full contingency
    table with each cell's observed count, expected count under
    independence (row·col marginals / N), and chi-square contribution.

    The statistic is emitted PER CELL rather than as one summed total
    (a float SUM of the ≤|priorities|·|statuses| contributions would
    depend on accumulation order, G11); the caller sums the tiny cell
    frame for the test statistic. Both outputs are COUNT-magnitude
    (expected ≈ N·marginal fractions grows linearly with rows), so
    they ride the exact-integer milli ladder rather than ROUND(·,6)
    doubles (ADVICE r12): expected_milli = r·c·1000 DIV n (exact in
    DECIMAL(38,0)/HUGEINT — r·c ≤ N² ≈ 1e24 at 100 TB), and
    chi_cell_milli = (1000·obs − expected_milli)² DIV expected_milli
    ≈ 1000·(obs−E)²/E, quantized by the milli-expected (error
    < 1 milli-unit per cell over a ≤15-cell frame). All DIV operands
    are non-negative, so Spark trunc == DuckDB floor; GREATEST(·,1)
    guards the expected<1-milli degenerate cell.

    Plan: one scan → groupBy partial+final count (the only data-sized
    shuffle); the marginals are re-aggregations of the ≤15-row cell
    frame and re-attach as broadcasts; the 1-row total is a bounded
    anchor crossJoin (planaudit-whitelisted)."""
    orders = load(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count("*").alias("obs"))
    rowm = cells.groupBy("priority").agg(F.sum("obs").alias("r_cnt"))
    colm = cells.groupBy("status").agg(F.sum("obs").alias("c_cnt"))
    tot = cells.agg(F.sum("obs").alias("n"))
    return (
        cells.join(F.broadcast(rowm), "priority")
        .join(F.broadcast(colm), "status")
        .crossJoin(F.broadcast(tot))
        .select(
            "priority",
            "status",
            F.col("obs").cast("bigint").alias("obs"),
            F.expr(
                "CAST(CAST(r_cnt AS DECIMAL(38,0)) * c_cnt * 1000"
                " DIV n AS BIGINT)"
            ).alias("expected_milli"),
        )
        .select(
            "priority",
            "status",
            "obs",
            "expected_milli",
            F.expr(
                "CAST(CAST(obs * 1000 - expected_milli AS DECIMAL(38,0))"
                " * CAST(obs * 1000 - expected_milli AS DECIMAL(38,0))"
                " DIV GREATEST(expected_milli, 1) AS BIGINT)"
            ).alias("chi_cell_milli"),
        )
        .orderBy("priority", "status")
    )


ACF_MAX_LAG = 7


@register(
    "analytics_autocorrelation",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderdate AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    anchored AS (
        SELECT d,
               cents * (SELECT COUNT(*) FROM daily)
                   - (SELECT SUM(cents) FROM daily) AS dev
        FROM daily
    ),
    lagged AS (
        SELECT dev,
               {", ".join(f"LEAD(dev, {k}) OVER (ORDER BY d) AS dev_{k}"
                          for k in range(1, ACF_MAX_LAG + 1))}
        FROM anchored
    ),
    sums AS (
        SELECT SUM(CAST(dev AS HUGEINT) * dev) AS den,
               {", ".join(f"SUM(CAST(dev AS HUGEINT) * dev_{k}) AS num_{k}"
                          for k in range(1, ACF_MAX_LAG + 1))}
        FROM lagged
    )
    SELECT CAST(lag AS INT) AS lag,
           ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) + 0.0
               AS acf
    FROM sums, LATERAL (VALUES
        {", ".join(f"({k}, num_{k})" for k in range(1, ACF_MAX_LAG + 1))}
    ) AS t(lag, num)
    ORDER BY lag
    """,
)
def analytics_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1..7) of the daily-revenue
    series — the weekly-rhythm detector behind capacity planning and
    anomaly baselines. Lag is positional over the observed daily
    series (ordered by date), the standard ACF with the overall-mean
    deviation and full-series denominator.

    Exactness: revenue is summed in cents (DECIMAL→BIGINT, exact);
    deviations are pre-scaled by n (dev = n·x_t − Σx, exact bigint —
    the n scale cancels in the num/den ratio, so no rounded mean ever
    enters); products/sums run in DECIMAL(38,0) (Spark) / HUGEINT
    (DuckDB), both exact; the ONLY float is the final one-per-lag
    division of two exactly-representable integers (G11-safe).

    Plan: one scan → groupBy(date) partial+final agg collapses the
    data to a ≤|days| frame; n and Σx are a 1-row anchor broadcast
    (planaudit-whitelisted); the lag window is one ordered pass over
    the tiny daily frame; the 7 lag sums fold in ONE partial-agg pass
    and unpivot via stack into (lag, acf) rows."""
    orders = load(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents")
    )
    anchor = daily.agg(
        F.count("*").alias("n_days"), F.sum("cents").alias("sum_cents")
    )
    anchored = daily.crossJoin(F.broadcast(anchor)).select(
        "d",
        (F.col("cents") * F.col("n_days") - F.col("sum_cents")).alias("dev"),
    )
    w = Window.orderBy("d")
    lagged = anchored.select(
        F.col("dev").cast("decimal(38,0)").alias("dev"),
        *[
            F.lead("dev", k).over(w).cast("decimal(38,0)").alias(f"dev_{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    sums = lagged.agg(
        F.sum(F.col("dev") * F.col("dev")).alias("den"),
        *[
            F.sum(F.col("dev") * F.col(f"dev_{k}")).alias(f"num_{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    stack_expr = "stack({n}, {args}) as (lag, num)".format(
        n=ACF_MAX_LAG,
        args=", ".join(
            f"{k}, num_{k}" for k in range(1, ACF_MAX_LAG + 1)
        ),
    )
    return (
        sums.select(F.expr(stack_expr), "den")
        .select(
            F.col("lag").cast("int").alias("lag"),
            # ROUND 6dp + 0.0 (G4/G13): beyond 2^53 the BIGINT/HUGEINT
            # -> double casts differ between engines in the last ulp
            # (DuckDB converts hugeint as upper*2^64 + lower, two
            # roundings), so the full-precision repr is NOT stable on
            # arbitrary data — the seed-99 randsweep caught exactly
            # this. 6dp is far beyond the statistic's meaning.
            (
                F.round(
                    F.col("num").cast("double")
                    / F.col("den").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("acf"),
        )
        .orderBy("lag")
    )


KMV_K = 128
HEX15_SPACE = float(1 << 60)  # 16^15 — the hash-fraction denominator
HEX15_INT = 1 << 60  # same space as an exact integer (milli-ladder)


@register(
    "agg_kmv_jaccard_estimate",
    oracle=f"""
    WITH elems AS (
        SELECT o_orderkey,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS has_a,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS has_b,
               ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                   ::BIGINT AS h
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
           OR o_orderstatus = 'F'
    ),
    sketch AS (
        SELECT * FROM elems ORDER BY h, o_orderkey LIMIT {KMV_K}
    ),
    sk AS (
        SELECT COUNT(*) AS k, MAX(h) AS kth_hash,
               SUM(CASE WHEN has_a = 1 AND has_b = 1
                        THEN 1 ELSE 0 END) AS both_in_sketch
        FROM sketch
    ),
    ex AS (
        SELECT COUNT(*) AS exact_union,
               SUM(CASE WHEN has_a = 1 AND has_b = 1
                        THEN 1 ELSE 0 END) AS exact_both
        FROM elems
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(kth_hash AS BIGINT) AS kth_hash,
           CAST(both_in_sketch AS BIGINT) AS both_in_sketch,
           CAST(CAST(k - 1 AS HUGEINT) * {HEX15_INT} * 1000
                // GREATEST(kth_hash, 1) AS BIGINT) AS est_union_milli,
           ROUND(CAST(both_in_sketch AS DOUBLE) / CAST(k AS DOUBLE), 6)
               + 0.0 AS est_jaccard,
           CAST(CAST(both_in_sketch AS HUGEINT) * (k - 1)
                * {HEX15_INT} * 1000
                // (CAST(k AS HUGEINT) * GREATEST(kth_hash, 1))
                AS BIGINT) AS est_intersection_milli,
           CAST(exact_union AS BIGINT) AS exact_union,
           CAST(exact_both AS BIGINT) AS exact_both
    FROM sk CROSS JOIN ex
    """,
)
def agg_kmv_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) sketch set-overlap estimation —
    the sketch that, unlike HLL, supports INTERSECTION: keep the k
    smallest md5 hashes of the union of two key sets (urgent/high-
    priority orders vs fulfilled orders), estimate |A∪B| from the k-th
    minimum hash ((k−1)/U_k — the KMV distinct-count estimator), and
    estimate Jaccard as the fraction of sketch members belonging to
    both sets. est_intersection = jaccard · union closes the loop —
    the scale path for analytics_audience_overlap's exact pairwise
    Jaccard. Exact union/intersection ride along for error inspection
    (at 100 TB you drop those two columns; the sketch IS the answer).

    Determinism: md5 is engine-identical, the sketch boundary is
    totally ordered by (h, key), and the count-magnitude estimators
    (union/intersection) are EXACT integer milli ladders — only the
    O(1) Jaccard ratio is a rounded float. The whole sketch is
    task-retry-safe and mergeable (bottom-k commutes with union, per
    sample_bottomk_sketch).

    Plan: one scan with the A∪B filter pushed down → global bottom-k
    = TakeOrderedAndProject (each task keeps k rows, no full sort) →
    1-row sketch stats × 1-row exact stats anchor crossJoin
    (planaudit-whitelisted)."""
    orders = load(spark, sf_dir, "orders")
    elems = (
        orders.filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            | (F.col("o_orderstatus") == "F")
        )
        .select(
            "o_orderkey",
            F.col("o_orderpriority")
            .isin("1-URGENT", "2-HIGH")
            .cast("int")
            .alias("has_a"),
            (F.col("o_orderstatus") == "F").cast("int").alias("has_b"),
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15),
                16,
                10,
            )
            .cast("bigint")
            .alias("h"),
        )
    )
    sketch = elems.orderBy("h", "o_orderkey").limit(KMV_K)
    sk = sketch.agg(
        F.count("*").alias("k"),
        F.max("h").alias("kth_hash"),
        F.sum(
            ((F.col("has_a") == 1) & (F.col("has_b") == 1)).cast("int")
        ).alias("both_in_sketch"),
    )
    ex = elems.agg(
        F.count("*").alias("exact_union"),
        F.sum(
            ((F.col("has_a") == 1) & (F.col("has_b") == 1)).cast("int")
        ).alias("exact_both"),
    )
    est_jacc = F.col("both_in_sketch").cast("double") / F.col("k").cast(
        "double"
    )
    # est_union/est_intersection are COUNT-magnitude (≈ distinct-count
    # scale, ~1e12 at 100 TB) — ROUND(·,6) on a double is engine-
    # unstable past ~1e8 (ADVICE r12), so both ride the exact-integer
    # milli ladder: (k−1)·2^60·1000 DIV kth_hash in DECIMAL(38,0) /
    # HUGEINT (numerator ≤ ~2e23, well inside 38 digits; all operands
    # non-negative so Spark DIV trunc == DuckDB // floor). est_union
    # ≤ ~1e12 → milli ≤ ~1e15, inside int64. est_jaccard is O(1) and
    # keeps ROUND(·,6)+0.0. GREATEST(kth_hash,1) guards the k≤1
    # degenerate sketch.
    return sk.crossJoin(F.broadcast(ex)).select(
        F.col("k").cast("bigint").alias("k"),
        F.col("kth_hash").cast("bigint").alias("kth_hash"),
        F.col("both_in_sketch").cast("bigint").alias("both_in_sketch"),
        F.expr(
            f"CAST(CAST(k - 1 AS DECIMAL(38,0)) * {HEX15_INT} * 1000"
            " DIV GREATEST(kth_hash, 1) AS BIGINT)"
        ).alias("est_union_milli"),
        (F.round(est_jacc, 6) + F.lit(0.0)).alias("est_jaccard"),
        F.expr(
            f"CAST(CAST(both_in_sketch AS DECIMAL(38,0)) * (k - 1)"
            f" * {HEX15_INT} * 1000"
            " DIV (CAST(k AS DECIMAL(38,0)) * GREATEST(kth_hash, 1))"
            " AS BIGINT)"
        ).alias("est_intersection_milli"),
        F.col("exact_union").cast("bigint").alias("exact_union"),
        F.col("exact_both").cast("bigint").alias("exact_both"),
    )


DID_CUTOFF = "1998-07-01"


@register(
    "analytics_did_estimator",
    oracle=f"""
    WITH tagged AS (
        SELECT CASE WHEN substring(md5(CAST(o_custkey AS VARCHAR)), 1, 1)
                         BETWEEN '0' AND '7'
                    THEN 1 ELSE 0 END AS treated,
               CASE WHEN o_orderdate >= DATE '{DID_CUTOFF}'
                    THEN 1 ELSE 0 END AS post,
               CAST(o_totalprice AS DECIMAL(18,2)) AS v
        FROM orders
    ),
    cells AS (
        SELECT treated, post, COUNT(*) AS n,
               CAST(SUM(v * 100) AS BIGINT) AS cents
        FROM tagged GROUP BY 1, 2
    ),
    means AS (
        SELECT treated, post, CAST(n AS BIGINT) AS n,
               CAST(cents AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
                   AS mean_price
        FROM cells
    )
    SELECT t1.n AS n_treat_pre, t2.n AS n_treat_post,
           c1.n AS n_ctrl_pre, c2.n AS n_ctrl_post,
           ROUND(t1.mean_price, 6) + 0.0 AS treat_pre,
           ROUND(t2.mean_price, 6) + 0.0 AS treat_post,
           ROUND(c1.mean_price, 6) + 0.0 AS ctrl_pre,
           ROUND(c2.mean_price, 6) + 0.0 AS ctrl_post,
           ROUND((t2.mean_price - t1.mean_price)
               - (c2.mean_price - c1.mean_price), 6) + 0.0 AS did_estimate
    FROM means t1, means t2, means c1, means c2
    WHERE t1.treated = 1 AND t1.post = 0
      AND t2.treated = 1 AND t2.post = 1
      AND c1.treated = 0 AND c1.post = 0
      AND c2.treated = 0 AND c2.post = 1
    """,
)
def analytics_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator — the causal-inference
    workhorse for before/after rollouts: customers are assigned to
    treatment/control by a deterministic md5 hash band (null
    calibration: a hash split of one population has true effect 0,
    same rationale as analytics_ab_ztest), periods split at a fixed
    cutoff date, and DiD = (T_post − T_pre) − (C_post − C_pre) over
    the four cell means.

    Determinism: cell sums are exact integer cents (DECIMAL→BIGINT);
    each mean is one IEEE division of exact integers, and the DiD
    estimate is three IEEE subtractions — no float accumulation (G11).

    Plan: one scan → 4-group partial+final agg collapses the data to
    four rows; the 2×2 self-pairing is a trivial broadcast of an
    already-collapsed frame (the ab_ztest shape)."""
    orders = load(spark, sf_dir, "orders")
    tagged = orders.select(
        F.when(
            F.substring(
                F.md5(F.col("o_custkey").cast("string")), 1, 1
            ).between("0", "7"),
            1,
        )
        .otherwise(0)
        .alias("treated"),
        (F.col("o_orderdate") >= F.lit(DID_CUTOFF).cast("timestamp"))
        .cast("int")
        .alias("post"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
    )
    cells = tagged.groupBy("treated", "post").agg(
        F.count("*").alias("n"),
        F.sum(F.col("v") * 100).cast("bigint").alias("cents"),
    )
    means = cells.select(
        "treated",
        "post",
        F.col("n").cast("bigint").alias("n"),
        (
            F.col("cents").cast("double") / F.col("n").cast("double") / 100.0
        ).alias("mean_price"),
    )

    def cell(treated: int, post: int, tag: str) -> DataFrame:
        return means.filter(
            (F.col("treated") == treated) & (F.col("post") == post)
        ).select(
            F.col("n").alias(f"n_{tag}"),
            F.col("mean_price").alias(tag),
        )

    t1, t2 = cell(1, 0, "treat_pre"), cell(1, 1, "treat_post")
    c1, c2 = cell(0, 0, "ctrl_pre"), cell(0, 1, "ctrl_post")
    return (
        t1.crossJoin(F.broadcast(t2))
        .crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(c2))
        .select(
            "n_treat_pre",
            "n_treat_post",
            "n_ctrl_pre",
            "n_ctrl_post",
            # ROUND 6dp + 0.0 (r12 sweep): G13 double-output discipline.
            (F.round(F.col("treat_pre"), 6) + F.lit(0.0)).alias("treat_pre"),
            (F.round(F.col("treat_post"), 6) + F.lit(0.0)).alias(
                "treat_post"
            ),
            (F.round(F.col("ctrl_pre"), 6) + F.lit(0.0)).alias("ctrl_pre"),
            (F.round(F.col("ctrl_post"), 6) + F.lit(0.0)).alias("ctrl_post"),
            (
                F.round(
                    (F.col("treat_post") - F.col("treat_pre"))
                    - (F.col("ctrl_post") - F.col("ctrl_pre")),
                    6,
                )
                + F.lit(0.0)
            ).alias("did_estimate"),
        )
    )


ALERT_DEBOUNCE_DAYS = 3


@register(
    "window_alert_debounce",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderdate AS d, COUNT(*) AS n_days_dummy,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    anchored AS (
        SELECT d, cents,
               (SELECT COUNT(*) FROM daily) AS n_days,
               (SELECT SUM(cents) FROM daily) AS sum_cents
        FROM daily
    ),
    flagged AS (
        -- breach iff daily > 1.05 x mean, cross-multiplied exact:
        -- 100*n*x > 105*S
        SELECT d,
               CASE WHEN 100 * n_days * cents > 105 * sum_cents
                    THEN 1 ELSE 0 END AS breach
        FROM anchored
    ),
    runs AS (
        SELECT d, breach,
               ROW_NUMBER() OVER (ORDER BY d)
                   - ROW_NUMBER() OVER (PARTITION BY breach ORDER BY d)
                   AS grp
        FROM flagged
    )
    SELECT MIN(d) AS alert_start, MAX(d) AS alert_end,
           CAST(COUNT(*) AS BIGINT) AS n_days_breached
    FROM runs
    WHERE breach = 1
    GROUP BY grp
    HAVING COUNT(*) >= {ALERT_DEBOUNCE_DAYS}
    ORDER BY alert_start
    """,
)
def window_alert_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold alerting with debounce — the monitoring rule the
    reference's README.md:127 'monitoring' future-work implies: flag a
    revenue surge only after K consecutive breach days (single-day
    spikes are noise), and emit one row per alert EPISODE
    (start, end, duration), not one per breach day.

    The breach predicate is cross-multiplied exact integer arithmetic
    (100·n·x > 105·S — '5% above the mean' without ever materializing
    the float mean), the consecutive-run grouping is the gaps-islands
    row_number-difference anchor (window_gaps_islands precedent), and
    the debounce is a HAVING on run length.

    Plan: one scan → groupBy(date) collapses to the ≤|days| frame;
    1-row (n, Σ) anchor broadcast (planaudit-whitelisted); two ordered
    window passes + final group over the tiny daily frame."""
    orders = load(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents")
    )
    anchor = daily.agg(
        F.count("*").alias("n_days"), F.sum("cents").alias("sum_cents")
    )
    flagged = daily.crossJoin(F.broadcast(anchor)).select(
        "d",
        (
            100 * F.col("n_days") * F.col("cents")
            > 105 * F.col("sum_cents")
        )
        .cast("int")
        .alias("breach"),
    )
    w_all = Window.orderBy("d")
    w_breach = Window.partitionBy("breach").orderBy("d")
    runs = flagged.select(
        "d",
        "breach",
        (F.row_number().over(w_all) - F.row_number().over(w_breach)).alias(
            "grp"
        ),
    )
    return (
        runs.filter(F.col("breach") == 1)
        .groupBy("grp")
        .agg(
            F.min("d").alias("alert_start"),
            F.max("d").alias("alert_end"),
            F.count("*").cast("bigint").alias("n_days_breached"),
        )
        .filter(F.col("n_days_breached") >= ALERT_DEBOUNCE_DAYS)
        .select("alert_start", "alert_end", "n_days_breached")
        .orderBy("alert_start")
    )


BOOT_B = 32
# Poisson(1) CDF thresholds scaled to the 16^15 = 2^60 hash space:
# a uniform hash h maps to weight w = #{t in THRESH : h >= t}.
POISSON1_THRESH = [
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
    1152825534095764608,
]
# Same thresholds as zero-padded lowercase hex: on fixed-width hex,
# lexicographic string order == numeric order, so the weight can
# compare the md5 substring DIRECTLY against these — no per-row base
# conversion in either engine (conv/::BIGINT measured ~2× the op).
POISSON1_THRESH_HEX = [format(t, "015x") for t in POISSON1_THRESH]


def _boot_oracle() -> str:
    def h(b: int) -> str:
        return f"substring(md5(CAST(o_orderkey AS VARCHAR) || '_{b}'), 1, 15)"

    def w(b: int) -> str:
        return " + ".join(
            f"(CASE WHEN {h(b)} >= '{t}' THEN 1 ELSE 0 END)"
            for t in POISSON1_THRESH_HEX
        )

    sums = ",\n               ".join(
        f"CAST(SUM(({w(b)}) * cents) AS BIGINT) AS wc_{b},\n"
        f"               CAST(SUM({w(b)}) AS BIGINT) AS wn_{b}"
        for b in range(BOOT_B)
    )
    vals = ", ".join(
        f"(CAST(wc_{b} AS DOUBLE) / CAST(wn_{b} AS DOUBLE) / 100.0)"
        for b in range(BOOT_B)
    )
    return f"""
    WITH base AS (
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS tot_cents,
               {sums}
        FROM base
    ),
    means AS (
        SELECT n, tot_cents, unnest([{vals}]) AS m
        FROM sums
    )
    SELECT CAST({BOOT_B} AS BIGINT) AS b_resamples,
           ROUND(MAX(CAST(tot_cents AS DOUBLE) / CAST(n AS DOUBLE) / 100.0),
                 6) + 0.0 AS mean_price,
           ROUND(quantile_cont(m, 0.025), 6) + 0.0 AS ci_lo,
           ROUND(quantile_cont(m, 0.975), 6) + 0.0 AS ci_hi
    FROM means
    """


@register("analytics_bootstrap_ci", oracle=_boot_oracle())
def analytics_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean order value —
    the single-pass, task-retry-safe bootstrap used at scale (Chamandy
    et al.'s "Estimating Uncertainty for Massive Data Streams",
    Google 2012): classical resampling needs the whole sample in one
    place, but drawing each row's multiplicity as an INDEPENDENT
    Poisson(1) gives each resample the right marginal distribution and
    makes the whole procedure embarrassingly parallel. Weights are
    DETERMINISTIC — w(row, b) counts md5(key‖b) hash thresholds of the
    exact Poisson(1) CDF quantized to the 2^60 hash space — so retries
    and both engines reproduce bit-identical resamples (rand() would
    resample per attempt).

    All B=32 weighted sums fold in ONE partial-agg pass over one scan
    (64 integer agg columns, no explode, no extra shuffle); each
    resample mean is one IEEE division of exact integer totals; the CI
    is an exact interpolated percentile over the 32-value frame
    (agg_percentile precedent).

    At 100 TB the shape is unchanged: B·2 integer partials per task,
    merge cost B, output 1 row."""
    orders = load(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )

    # r13 (guide §7.3 driver-side cost): the weight/agg trees were
    # built as ~1500 individual Column operations, and each py4j
    # round-trip is ~1 ms — DataFrame CONSTRUCTION alone cost ~2.2 s
    # per bench pass (measured; execution was fine). The identical
    # plan is now assembled from generated SQL strings: one selectExpr
    # projecting the 32 md5 hashes, one projecting the 32 weights from
    # them (hash evaluated once per (row, b), exactly like the old
    # two-step projection), and F.expr aggregates. Runtime expressions
    # are unchanged — same md5/threshold/sum algebra, verified
    # value-identical — only the Python-side build cost collapses
    # (3.88 s → 1.61 s per pass at sf0.1).
    #
    # Fan the scan out to all cores before the hash-heavy projection:
    # the fixture is one parquet file → one input split, which would
    # serialize 32 hashes/row onto a single task. r14 (VERDICT r13
    # item 2): the fan-out is now CONDITIONAL — at cluster scale the
    # scan's own splits provide this parallelism and fan_out adds no
    # exchange (the exchange carries only the 2 pruned columns either
    # way; Catalyst pushes the o_orderkey/cents projection below it).
    hashed = fan_out(spark, base, sf_dir, "orders").selectExpr(
        "cents",
        *[
            f"substring(md5(concat(cast(o_orderkey as string), '_{b}')), "
            f"1, 15) AS h_{b}"
            for b in range(BOOT_B)
        ],
    )
    weighted = hashed.selectExpr(
        "cents",
        *[
            " + ".join(
                f"(CASE WHEN h_{b} >= '{t}' THEN 1 ELSE 0 END)"
                for t in POISSON1_THRESH_HEX
            )
            + f" AS w_{b}"
            for b in range(BOOT_B)
        ],
    )
    aggs = [
        F.expr("CAST(COUNT(*) AS BIGINT) AS n"),
        F.expr("CAST(SUM(cents) AS BIGINT) AS tot_cents"),
    ]
    for b in range(BOOT_B):
        aggs.append(F.expr(f"CAST(SUM(w_{b} * cents) AS BIGINT) AS wc_{b}"))
        aggs.append(F.expr(f"CAST(SUM(w_{b}) AS BIGINT) AS wn_{b}"))
    sums = weighted.agg(*aggs)
    vals = ", ".join(
        f"(CAST(wc_{b} AS DOUBLE) / CAST(wn_{b} AS DOUBLE) / 100.0)"
        for b in range(BOOT_B)
    )
    means = sums.selectExpr("n", "tot_cents", f"explode(array({vals})) AS m")
    return means.agg(
        F.expr(f"CAST({BOOT_B} AS BIGINT) AS b_resamples"),
        # ROUND 6dp + 0.0 (r12 sweep): G13 double-output discipline.
        F.expr(
            "ROUND(MAX(CAST(tot_cents AS DOUBLE) / CAST(n AS DOUBLE)"
            " / 100.0), 6) + 0.0 AS mean_price"
        ),
        F.expr("ROUND(percentile(m, 0.025), 6) + 0.0 AS ci_lo"),
        F.expr("ROUND(percentile(m, 0.975), 6) + 0.0 AS ci_hi"),
    )


@register(
    "analytics_seasonal_residual_outliers",
    oracle="""
    WITH daily AS (
        SELECT o_orderdate AS d,
               (epoch_ms(o_orderdate) // 86400000) % 7 AS dow,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ),
    season AS (
        SELECT dow, CAST(SUM(cents) AS BIGINT) AS sum_dow,
               CAST(COUNT(*) AS BIGINT) AS n_dow
        FROM daily GROUP BY 1
    ),
    dev AS (
        SELECT d.d, d.dow, d.cents,
               CASE WHEN d.cents * s.n_dow - s.sum_dow >= 0
                    THEN (d.cents * s.n_dow - s.sum_dow) // s.n_dow
                    ELSE -((s.sum_dow - d.cents * s.n_dow) // s.n_dow)
               END AS dev_cents
        FROM daily d JOIN season s ON d.dow = s.dow
    ),
    scale AS (
        SELECT quantile_cont(ABS(CAST(dev_cents AS DOUBLE)), 0.5) AS mad
        FROM dev
    )
    SELECT dev.d, CAST(dev.dow AS BIGINT) AS dow, dev.cents,
           CAST(dev.dev_cents AS DOUBLE) + 0.0 AS dev
    FROM dev CROSS JOIN scale
    WHERE CAST(ABS(dev.dev_cents) AS DOUBLE) > 3 * 1.4826 * scale.mad
    ORDER BY dev.d
    """,
)
def analytics_seasonal_residual_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonally-adjusted anomaly detection — the STL-lite screen a
    monitoring stack runs on business metrics with weekly rhythm:
    remove the day-of-week seasonal component (per-dow mean), then
    flag days whose residual exceeds 3 robust sigmas (MAD·1.4826 —
    the 50%-breakdown scale, analytics_mad_outliers' estimator applied
    to the DESEASONALIZED series). A plain z-score screen fires every
    weekend on weekly-seasonal data; this op only fires on days
    abnormal FOR THEIR WEEKDAY.

    Determinism: daily totals exact cents; each deseasonalized
    residual is one IEEE subtraction of one division; the MAD is an
    exact interpolated median over the |days| frame; the flag compares
    identically-computed doubles (G11).

    Plan: one scan → groupBy(date) collapse; the 7-row seasonal table
    re-attaches as a broadcast equi-join; the 1-row MAD anchor
    crossJoins back (planaudit-whitelisted). Everything after the
    first agg runs on the ≤|days| frame."""
    orders = load(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").alias("d"),
        # Engine-neutral weekday id: epoch-day mod 7 (Spark's
        # dayofweek is 1-7 Sunday-first, DuckDB's 0-6 — same partition
        # of days, different labels; the raw residue avoids the remap).
        F.expr(
            "((unix_timestamp(o_orderdate) * 1000) DIV 86400000) % 7"
        ).alias("dow"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents")
    )
    season = daily.groupBy("dow").agg(
        F.sum("cents").cast("bigint").alias("sum_dow"),
        F.count("*").cast("bigint").alias("n_dow"),
    )
    # The residual is quantized to EXACT integer cents BEFORE the
    # output/median/threshold (r12 sweep): dev_cents = trunc-div of the
    # exact bigint numerator cents·n − Σ by n (Spark DIV truncates;
    # the oracle forces the same truncation with a sign CASE because
    # DuckDB // floors — the documented negative-operand trap). The
    # ROUND(·,6) discipline is NOT usable here: at the residual's ~1e8
    # magnitude 6dp sits at double-repr limits where Spark's
    # string-based ROUND and DuckDB's multiply-based round disagree
    # (seen at sf0.001). Sub-cent precision is irrelevant to a
    # 3-robust-sigma flag. Int64 headroom: |cents·n_dow| ≲ 1e13·3650
    # ≈ 4e16 at 100 TB daily-revenue magnitudes — within int64.
    dev = daily.join(F.broadcast(season), "dow").select(
        "d",
        "dow",
        "cents",
        F.expr("(cents * n_dow - sum_dow) DIV n_dow").alias("dev_cents"),
    )
    scale = dev.agg(
        F.expr("percentile(abs(cast(dev_cents as double)), 0.5)").alias("mad")
    )
    return (
        dev.crossJoin(F.broadcast(scale))
        .filter(
            F.abs(F.col("dev_cents")).cast("double")
            > 3 * 1.4826 * F.col("mad")
        )
        .select(
            "d",
            F.col("dow").cast("bigint").alias("dow"),
            "cents",
            (F.col("dev_cents").cast("double") + F.lit(0.0)).alias("dev"),
        )
        .orderBy("d")
    )


@register(
    "analytics_theil_sen_trend",
    oracle="""
    WITH monthly AS (
        SELECT o_orderpriority AS priority,
               year(o_orderdate) * 12 + month(o_orderdate) AS m,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ),
    slopes AS (
        SELECT a.priority,
               CASE WHEN b.cents >= a.cents
                    THEN (b.cents - a.cents) // (b.m - a.m)
                    ELSE -((a.cents - b.cents) // (b.m - a.m))
               END AS s
        FROM monthly a JOIN monthly b
          ON a.priority = b.priority AND a.m < b.m
    )
    SELECT priority,
           CAST((SELECT COUNT(*) FROM monthly mm
                 WHERE mm.priority = slopes.priority) AS BIGINT)
               AS n_months,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           quantile_cont(CAST(s AS DOUBLE), 0.5) + 0.0 AS sen_slope
    FROM slopes
    GROUP BY priority
    ORDER BY priority
    """,
)
def analytics_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimator — the median of all pairwise
    slopes of each priority band's monthly-revenue series: up to ~29%
    of the points can be corrupted (outlier months, backfill glitches)
    without moving the estimate, where the OLS slope
    (analytics_linreg_trend) chases every outlier. The robust sibling
    completing the set with analytics_mad_outliers.

    Determinism: monthly sums are exact cents; each pairwise slope is
    ONE IEEE division of exact integers; the median is the exact
    interpolated percentile over the slope frame (agg_percentile
    precedent) — no float accumulation anywhere (G11).

    Plan: one scan → groupBy((priority, month)) collapse → group-local
    self-equi-join on priority (pairs = |months|²/2 per group — frames
    are month-granular so this stays metadata-sized; at finer grain or
    longer history, sample pairs: Theil-Sen over a uniform pair sample
    is the standard scale variant) → per-group percentile."""
    orders = load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents")
    )
    a = monthly.select(
        "priority", F.col("m").alias("m1"), F.col("cents").alias("c1")
    )
    b = monthly.select(
        "priority", F.col("m").alias("m2"), F.col("cents").alias("c2")
    )
    # Each pairwise slope is quantized to EXACT integer cents/month via
    # truncating division (r12 sweep): Spark DIV truncates; the oracle
    # forces the same truncation with a sign CASE (DuckDB // floors —
    # the negative-operand trap). The median of integers interpolates
    # to k or k+0.5, both exactly representable, so sen_slope is
    # engine-stable at ANY magnitude — ROUND(·,6) is NOT usable here
    # (slopes reach ~1e10 cents/month at sf0.1, where the two engines'
    # round implementations disagree in the 6th decimal).
    slopes = (
        a.join(b, "priority")
        .filter(F.col("m1") < F.col("m2"))
        .select(
            "priority",
            F.expr("(c2 - c1) DIV (m2 - m1)").alias("s"),
        )
    )
    n_months = monthly.groupBy("priority").agg(
        F.count("*").cast("bigint").alias("n_months")
    )
    return (
        slopes.groupBy("priority")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            (
                F.expr("percentile(cast(s as double), 0.5)") + F.lit(0.0)
            ).alias("sen_slope"),
        )
        .join(F.broadcast(n_months), "priority")
        .select("priority", "n_months", "n_pairs", "sen_slope")
        .orderBy("priority")
    )


@register(
    "analytics_mannwhitney_u",
    oracle="""
    WITH tagged AS (
        SELECT o_totalprice AS v,
               CASE WHEN substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)
                         BETWEEN '0' AND '7'
                    THEN 1 ELSE 0 END AS is_a
        FROM orders
    ),
    vals AS (
        SELECT v, COUNT(*) AS t, SUM(is_a) AS ta
        FROM tagged GROUP BY v
    ),
    ranked AS (
        SELECT v, t, ta,
               1 + COALESCE(SUM(t) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS r_min
        FROM vals
    ),
    sums AS (
        SELECT CAST(SUM(ta) AS BIGINT) AS n_a,
               CAST(SUM(t - ta) AS BIGINT) AS n_b,
               CAST(SUM(CAST(ta AS HUGEINT) * (2 * r_min + t - 1))
                    AS BIGINT) AS sum_avg2_a,
               CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS BIGINT)
                   AS tie_cube
        FROM ranked
    )
    SELECT n_a, n_b,
           CAST(sum_avg2_a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
           ROUND((CAST(sum_avg2_a - n_a * (n_a + 1) AS DOUBLE) / 2.0
            - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
           / sqrt(
               (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0)
               * (CAST(n_a + n_b + 1 AS DOUBLE)
                  - CAST(tie_cube AS DOUBLE)
                    / (CAST(n_a + n_b AS DOUBLE)
                       * CAST(n_a + n_b - 1 AS DOUBLE)))
           ), 6) + 0.0 AS z_score
    FROM sums
    """,
)
def analytics_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test — the NONPARAMETRIC two-sample
    location test (no normality assumption, robust to the heavy tails
    that break the t/z test), completing the inference family with
    analytics_ab_ztest (parametric) and analytics_ks_test (full
    distribution). Same deterministic hash-split null calibration.

    Exactness: tied ranks are handled with integer DOUBLED average
    ranks (2·avg_rank = 2·r_min + t − 1, always an integer), so the
    rank sum and U statistic are exact bigints (u2_a = 2·U_A); the
    tie-corrected normal approximation's z is a fixed dag of IEEE
    ops over exact integers — no float accumulation (G11), one sqrt
    (correctly rounded per IEEE 754, engine-identical).

    Plan: the analytics_ks_test machinery — one scan → groupBy(v)
    (the only data-sized shuffle, partial-agg combined) → bucket-
    offset two-pass prefix sums (scalable.py) for the min ranks —
    per-bucket windows bounded by |values|/256, the only global
    window on the ≤256-row offset frame — → one final partial-agg
    row. The r12-flagged single-task window over the corpus-
    cardinality distinct-value frame is gone; ranks are unchanged."""
    orders = load(spark, sf_dir, "orders")
    is_a = (
        F.when(
            F.substring(
                F.md5(F.col("o_orderkey").cast("string")), 1, 1
            ).between("0", "7"),
            1,
        )
        .otherwise(0)
    )
    vals = (
        orders.select(F.col("o_totalprice").alias("v"), is_a.alias("is_a"))
        .groupBy("v")
        .agg(F.count("*").alias("t"), F.sum("is_a").alias("ta"))
    )
    ranked = bucketed_prefix_sums(vals, "v", ["t"]).withColumn(
        "r_min", F.lit(1) + F.col("t_prefix")
    )
    sums = ranked.agg(
        F.sum("ta").cast("bigint").alias("n_a"),
        F.sum(F.col("t") - F.col("ta")).cast("bigint").alias("n_b"),
        # ta·(2r+t−1) is ~2N per tied group and Σ reaches 2N·n_a (N²
        # class) — the per-row product runs in DECIMAL(38,0)/HUGEINT
        # so no int64 stage wraps mid-sum; the BIGINT output column
        # itself holds to N ≈ 2.1e9 rows (documented envelope — past
        # that the u2 contract needs wider output units).
        F.sum(
            F.col("ta").cast("decimal(38,0)")
            * (2 * F.col("r_min") + F.col("t") - 1)
        )
        .cast("bigint")
        .alias("sum_avg2_a"),
        # t³ wraps int64 past t ≈ 2.1e6 ties on one value — DECIMAL
        # promotion before the cube.
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        )
        .cast("bigint")
        .alias("tie_cube"),
    )
    u2_a = F.col("sum_avg2_a") - F.col("n_a") * (F.col("n_a") + 1)
    na_d = F.col("n_a").cast("double")
    nb_d = F.col("n_b").cast("double")
    n_d = (F.col("n_a") + F.col("n_b")).cast("double")
    var = (na_d * nb_d / 12.0) * (
        (F.col("n_a") + F.col("n_b") + 1).cast("double")
        - F.col("tie_cube").cast("double")
        / (n_d * (F.col("n_a") + F.col("n_b") - 1).cast("double"))
    )
    z = (u2_a.cast("double") / 2.0 - na_d * nb_d / 2.0) / F.sqrt(var)
    return sums.select(
        "n_a",
        "n_b",
        u2_a.cast("bigint").alias("u2_a"),
        # ROUND 6dp + 0.0 (r12 sweep): G13 double-output discipline.
        (F.round(z, 6) + F.lit(0.0)).alias("z_score"),
    )


PERM_B = 32  # number of deterministic relabelings


def _perm_oracle() -> str:
    s_cols = ",\n               ".join(
        "CAST(SUM(CASE WHEN substring(md5(CAST(o_orderkey AS VARCHAR) "
        f"|| '_p{b}'), 1, 1) BETWEEN '0' AND '7' THEN v ELSE 0 END) "
        f"AS DECIMAL(18,2)) AS s{b},\n               "
        "CAST(SUM(CASE WHEN substring(md5(CAST(o_orderkey AS VARCHAR) "
        f"|| '_p{b}'), 1, 1) BETWEEN '0' AND '7' THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS n{b}"
        for b in range(PERM_B)
    )
    # Each replicate diff is ROUNDed 6dp before the extreme compare
    # (r12 sweep): the compare then runs on engine-stable values, so a
    # >2^53 decimal->double cast ulp cannot flip an extreme count.
    extreme = " + ".join(
        f"CASE WHEN ABS(ROUND(CAST(s{b} AS DOUBLE) / n{b} "
        f"- CAST(s_tot - s{b} AS DOUBLE) / (n_tot - n{b}), 6)) "
        ">= ABS(diff_obs) THEN 1 ELSE 0 END"
        for b in range(PERM_B)
    )
    return f"""
    WITH base AS (
        SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS v
        FROM orders
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_tot,
               CAST(SUM(v) AS DECIMAL(18,2)) AS s_tot,
               CAST(SUM(CASE WHEN substring(md5(CAST(o_orderkey AS VARCHAR)
                    || '_obs'), 1, 1) BETWEEN '0' AND '7'
                    THEN v ELSE 0 END) AS DECIMAL(18,2)) AS s_obs,
               CAST(SUM(CASE WHEN substring(md5(CAST(o_orderkey AS VARCHAR)
                    || '_obs'), 1, 1) BETWEEN '0' AND '7'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_obs,
               {s_cols}
        FROM base
    ),
    obs AS (
        SELECT *,
               ROUND(CAST(s_obs AS DOUBLE) / n_obs
                   - CAST(s_tot - s_obs AS DOUBLE) / (n_tot - n_obs), 6)
                   + 0.0 AS diff_obs
        FROM agg
    )
    SELECT n_tot, n_obs, diff_obs,
           CAST({extreme} AS BIGINT) AS n_extreme,
           CAST((({extreme}) + 1) * 1000 // ({PERM_B} + 1) AS BIGINT)
               AS p_permille
    FROM obs
    """


@register("analytics_permutation_test", oracle=_perm_oracle())
def analytics_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for a difference in means — the
    assumption-free significance test (no normality, no variance
    formula: the null distribution is built by RELABELING). The
    observed split is a deterministic md5 hash band (the ab_ztest
    null-calibration pattern — true diff ≈ 0, so the reported p should
    be large, which the test pins); each of the B=32 permutation
    replicates relabels every order by an independent salted hash, and
    the add-one Monte-Carlo p-value is (1 + #extreme) / (B + 1),
    reported as integer permille.

    Determinism/exactness: per-replicate sums are DECIMAL-exact and
    count integers accumulated in the SAME single partial-agg pass
    (the Poisson-bootstrap fan-out shape: 2(B+1) agg columns, ONE scan,
    no shuffle growth with B); each replicate's mean difference is one
    IEEE double division per side — bit-identical across engines — and
    the extreme-count compare happens on those doubles, so the
    permille p-value is hash-stable (G11).

    At 100 TB: identical plan to agg_global_stats — map + partial agg
    to a 1-row frame; B scales the column count, never the row count
    or shuffle width. Salted-hash relabeling is task-retry-safe where
    rand() relabelings are not (G-sampling)."""
    orders = load(spark, sf_dir, "orders")

    # r13 (guide §2.3/§7.3): two-step shape — the analytics_bootstrap_ci
    # treatment. (a) Project ONE 0/1 indicator per salt so each row pays
    # exactly 33 md5s: as 66 separate when(band, ...) aggregate children
    # the hash expression was duplicated per (s_b, n_b) column pair, and
    # the measured executor cost was ~4x the indicator form. (b) The
    # whole body parses from SQL text — Column-object assembly of the
    # 66-aggregate/32-replicate algebra was ~2.3 s of py4j round-trips
    # per construction. Identical expressions, identical types (the
    # CASE arms coerce int 0 to DECIMAL(18,2) exactly as the original
    # when/otherwise did).
    def _ind(salt: str, name: str) -> str:
        return (
            "CASE WHEN substring(md5(CONCAT(CAST(o_orderkey AS STRING),"
            f" '{salt}')), 1, 1) BETWEEN '0' AND '7' THEN 1 ELSE 0 END"
            f" AS {name}"
        )

    # Fan the scan out before the hash-heavy projection (the
    # analytics_bootstrap_ci treatment, guide §2.5 input-parallelism):
    # the fixture is ONE parquet split, so the 33 salted md5s/row ran
    # on a single task (jstack: one busy codegen stage-1 thread,
    # ~7 s). r14 (VERDICT r13 item 2 / ADVICE medium): the fan-out is
    # now CONDITIONAL — at cluster scale the scan's own splits provide
    # this parallelism and fan_out adds no exchange. The exchange, when
    # it fires, carries only (o_orderkey, o_totalprice): Catalyst prunes
    # the scan to those 2 columns below the round-robin exchange
    # (the formatted plan's first two nodes).
    base = fan_out(spark, orders, sf_dir, "orders").selectExpr(
        "CAST(o_totalprice AS DECIMAL(18,2)) AS v",
        _ind("_obs", "i_obs"),
        *[_ind(f"_p{b}", f"i{b}") for b in range(PERM_B)],
    )
    agg_exprs = [
        "CAST(COUNT(*) AS BIGINT) AS n_tot",
        "CAST(SUM(v) AS DECIMAL(18,2)) AS s_tot",
        "CAST(SUM(CASE WHEN i_obs = 1 THEN v ELSE 0 END)"
        " AS DECIMAL(18,2)) AS s_obs",
        "CAST(SUM(i_obs) AS BIGINT) AS n_obs",
    ]
    for b in range(PERM_B):
        agg_exprs.append(
            f"CAST(SUM(CASE WHEN i{b} = 1 THEN v ELSE 0 END)"
            f" AS DECIMAL(18,2)) AS s{b}"
        )
        agg_exprs.append(f"CAST(SUM(i{b}) AS BIGINT) AS n{b}")
    agg = base.agg(*[F.expr(e) for e in agg_exprs])
    # diff_obs and every replicate diff are ROUNDed 6dp + 0.0 BEFORE
    # the extreme compare (r12 sweep): output and comparison both run
    # on engine-stable values (G13 double-output discipline).
    obs = agg.selectExpr(
        "*",
        "ROUND(CAST(s_obs AS DOUBLE) / n_obs"
        " - CAST(s_tot - s_obs AS DOUBLE) / (n_tot - n_obs), 6)"
        " + CAST(0.0 AS DOUBLE) AS diff_obs",
    )
    extreme = " + ".join(
        f"CASE WHEN ABS(ROUND(CAST(s{b} AS DOUBLE) / n{b}"
        f" - CAST(s_tot - s{b} AS DOUBLE) / (n_tot - n{b}), 6))"
        " >= ABS(diff_obs) THEN 1 ELSE 0 END"
        for b in range(PERM_B)
    )
    return obs.selectExpr(
        "n_tot", "n_obs", "diff_obs", f"CAST({extreme} AS BIGINT) AS n_extreme"
    ).selectExpr(
        "n_tot",
        "n_obs",
        "diff_obs",
        "n_extreme",
        f"CAST((n_extreme + 1) * 1000 DIV ({PERM_B} + 1) AS BIGINT)"
        " AS p_permille",
    )


PSI_BUCKETS = 16
PSI_WIDTH = 32.0  # events.value ∈ [0, ~490] at every SF
PSI_CUTOFF_DAY = 19738  # 2024-01-16 — fixture span is 2024-01


@register(
    "analytics_psi_drift",
    oracle=f"""
    WITH binned AS (
        SELECT LEAST({PSI_BUCKETS - 1},
                     CAST(FLOOR(value / {PSI_WIDTH}) AS BIGINT)) AS bucket,
               CASE WHEN epoch_ms(ts) // 86400000 < {PSI_CUTOFF_DAY}
                    THEN 1 ELSE 0 END AS is_ref
        FROM events
    ),
    spine AS (SELECT unnest(range(0, {PSI_BUCKETS})) AS bucket),
    counts AS (
        SELECT s.bucket,
               CAST(COALESCE(SUM(b.is_ref), 0) AS BIGINT) AS n_ref,
               CAST(COALESCE(SUM(1 - b.is_ref), 0) AS BIGINT) AS n_cur
        FROM spine s LEFT JOIN binned b ON b.bucket = s.bucket
        GROUP BY s.bucket
    ),
    tot AS (
        SELECT bucket, n_ref, n_cur,
               SUM(n_ref) OVER () + {PSI_BUCKETS} AS d_ref,
               SUM(n_cur) OVER () + {PSI_BUCKETS} AS d_cur
        FROM counts
    ),
    pq AS (
        SELECT bucket, n_ref, n_cur,
               CAST(n_ref + 1 AS DOUBLE) / d_ref AS p,
               CAST(n_cur + 1 AS DOUBLE) / d_cur AS q
        FROM tot
    )
    SELECT bucket, n_ref, n_cur,
           CAST(ROUND((p - q) * ln(p / q) * 1e9) AS BIGINT) AS psi_nano,
           CAST(SUM(CAST(ROUND((p - q) * ln(p / q) * 1e9) AS BIGINT))
                OVER () AS BIGINT) AS psi_total_nano
    FROM pq
    ORDER BY bucket
    """,
)
def analytics_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index — the ML-monitoring drift metric
    (the credit-scoring standard: PSI < 0.1 stable, > 0.25 retrain):
    Σ (p_b − q_b)·ln(p_b/q_b) between the event-value distribution of
    the reference period (days before the fixed cutoff) and the
    current period, over fixed-width bins with add-one (Laplace)
    smoothing so an empty bin never produces ln(0). Complements
    analytics_ks_test: KS detects ANY shift with a supremum statistic;
    PSI localizes WHERE the mass moved, bin by bin — which is what an
    on-call engineer actually reads.

    Determinism (G11): each bin's PSI term is rounded to integer
    NANO-units and the total is an INTEGER window sum of those — sum
    order cannot perturb it, unlike a float Σ. The bin spine is
    generated (sequence 0..15) and left-joined so silent-empty bins
    are reported as explicit zeros — absence and stability look
    different. One events pass, ≤16-key partial agg, windows on the
    16-row frame: the analytics_histogram plan with a second
    conditional count."""
    events = load(spark, sf_dir, "events")
    bucket = F.least(
        F.lit(PSI_BUCKETS - 1), F.floor(F.col("value") / PSI_WIDTH)
    ).cast("bigint")
    is_ref = F.when(
        F.expr("ts_ns DIV 1000000 DIV 86400000") < F.lit(PSI_CUTOFF_DAY),
        1,
    ).otherwise(0)
    binned = events.select(bucket.alias("bucket"), is_ref.alias("is_ref"))
    counts = binned.groupBy("bucket").agg(
        F.sum("is_ref").cast("bigint").alias("n_ref"),
        F.sum(F.lit(1) - F.col("is_ref")).cast("bigint").alias("n_cur"),
    )
    spine = spark.range(PSI_BUCKETS).select(F.col("id").alias("bucket"))
    filled = (
        spine.join(counts, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_ref", F.lit(0)).cast("bigint").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("bigint").alias("n_cur"),
        )
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    pq = filled.select(
        "bucket",
        "n_ref",
        "n_cur",
        (
            (F.col("n_ref") + 1).cast("double")
            / (F.sum("n_ref").over(w) + PSI_BUCKETS)
        ).alias("p"),
        (
            (F.col("n_cur") + 1).cast("double")
            / (F.sum("n_cur").over(w) + PSI_BUCKETS)
        ).alias("q"),
    )
    psi_nano = F.round(
        (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")) * 1e9
    ).cast("bigint")
    return (
        pq.select("bucket", "n_ref", "n_cur", psi_nano.alias("psi_nano"))
        .select(
            "bucket",
            "n_ref",
            "n_cur",
            "psi_nano",
            F.sum("psi_nano").over(w).cast("bigint").alias("psi_total_nano"),
        )
        .orderBy("bucket")
    )


import math as _math

GOERTZEL_SCALE = 10**9
_C7 = [round(_math.cos(2 * _math.pi * k / 7) * GOERTZEL_SCALE) for k in range(7)]
_S7 = [round(_math.sin(2 * _math.pi * k / 7) * GOERTZEL_SCALE) for k in range(7)]
_C5 = [round(_math.cos(2 * _math.pi * k / 5) * GOERTZEL_SCALE) for k in range(5)]
_S5 = [round(_math.sin(2 * _math.pi * k / 5) * GOERTZEL_SCALE) for k in range(5)]


def _coef_case(expr: str, coefs: list) -> str:
    whens = " ".join(
        f"WHEN {k} THEN CAST({c} AS DECIMAL(38,0))"
        for k, c in enumerate(coefs)
    )
    return f"CASE {expr} {whens} END"


def _goertzel_oracle() -> str:
    terms = {
        "re7": _coef_case("t % 7", _C7),
        "im7": _coef_case("t % 7", _S7),
        "re5": _coef_case("t % 5", _C5),
        "im5": _coef_case("t % 5", _S5),
    }
    sums = ",\n               ".join(
        f"SUM(CAST(dev AS DECIMAL(38,0)) * ({c})) AS {n}"
        for n, c in terms.items()
    )
    return f"""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS t,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    dev AS (
        SELECT t,
               CAST(COUNT(*) OVER () AS BIGINT) * cents
                   - CAST(SUM(cents) OVER () AS BIGINT) AS dev,
               COUNT(*) OVER () AS n
        FROM daily
    ),
    sums AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n_days,
               {sums}
        FROM dev
    )
    SELECT n_days,
           CAST(re7 AS DOUBLE) * CAST(re7 AS DOUBLE)
               + CAST(im7 AS DOUBLE) * CAST(im7 AS DOUBLE) AS power_weekly,
           CAST(re5 AS DOUBLE) * CAST(re5 AS DOUBLE)
               + CAST(im5 AS DOUBLE) * CAST(im5 AS DOUBLE) AS power_ref,
           (CAST(re7 AS DOUBLE) * CAST(re7 AS DOUBLE)
               + CAST(im7 AS DOUBLE) * CAST(im7 AS DOUBLE))
           / (CAST(re5 AS DOUBLE) * CAST(re5 AS DOUBLE)
               + CAST(im5 AS DOUBLE) * CAST(im5 AS DOUBLE)) AS power_ratio
    FROM sums
    """


@register("analytics_goertzel_weekly_power", oracle=_goertzel_oracle())
def analytics_goertzel_weekly_power(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Single-bin DFT (Goertzel) periodicity detector — 'does revenue
    actually have a weekly cycle?': the spectral power of the daily
    series at frequency 1/7, against a 1/5 reference bin no calendar
    process should excite. The spectral complement of the time-domain
    seasonality ops (analytics_autocorrelation's lag-7 ACF,
    analytics_seasonal_residual_outliers' weekday means) — a
    periodogram bin is the test you run when you don't yet KNOW the
    period is 7.

    Exactness (G11): cos/sin coefficients are ROUNDED 1e-9-FIXED-POINT
    INTEGER LITERALS (7+5 constants baked into codegen — there is no
    trig call at runtime in either engine), the series is mean-removed
    with the exact n·y−S integer deviation trick, and every
    accumulation is DECIMAL(38,0)-exact; doubles appear only in the
    final re²+im² squaring — deterministic one-step IEEE on identical
    inputs. Quantization error is bounded by |dev|·n·1e-9 relative —
    ~1e-6 of the power, identical in both engines by construction.

    Scale: one fact pass to the |calendar| daily frame; four window-
    anchored sums over that bounded frame collapse to ONE row. At
    scale, sweeping a frequency grid is this op repeated per bin —
    each bin four more agg columns in the SAME pass, never a new
    scan."""
    orders = load(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("cents")
        )
        .select(
            F.datediff("day", F.lit("1992-01-01")).cast("bigint").alias("t"),
            "cents",
        )
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dev = daily.select(
        "t",
        (
            F.count("*").over(w).cast("bigint") * F.col("cents")
            - F.sum("cents").over(w).cast("bigint")
        ).alias("dev"),
        F.count("*").over(w).alias("n"),
    )

    def coef(mod: int, coefs: list):
        return F.element_at(
            F.array(*[F.lit(c).cast("decimal(38,0)") for c in coefs]),
            (F.col("t") % mod + 1).cast("int"),
        )

    sums = dev.agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.sum(F.col("dev").cast("decimal(38,0)") * coef(7, _C7)).alias("re7"),
        F.sum(F.col("dev").cast("decimal(38,0)") * coef(7, _S7)).alias("im7"),
        F.sum(F.col("dev").cast("decimal(38,0)") * coef(5, _C5)).alias("re5"),
        F.sum(F.col("dev").cast("decimal(38,0)") * coef(5, _S5)).alias("im5"),
    )
    p7 = F.col("re7").cast("double") * F.col("re7").cast("double") + F.col(
        "im7"
    ).cast("double") * F.col("im7").cast("double")
    p5 = F.col("re5").cast("double") * F.col("re5").cast("double") + F.col(
        "im5"
    ).cast("double") * F.col("im5").cast("double")
    return sums.select(
        "n_days",
        p7.alias("power_weekly"),
        p5.alias("power_ref"),
        (p7 / p5).alias("power_ratio"),
    )


SPRT_P0 = 0.20  # H0 conversion rate (purchase share of events)
SPRT_P1 = 0.25  # H1 rate the test is powered against
SPRT_ALPHA = 0.05
# Nano-scaled integer log-likelihood increments and Wald boundaries —
# the ONLY transcendentals, evaluated once in Python and inlined as
# literals so both engines do pure integer arithmetic.
_SPRT_L_SUCC = round(_math.log(SPRT_P1 / SPRT_P0) * 1e9)
_SPRT_L_FAIL = round(_math.log((1 - SPRT_P1) / (1 - SPRT_P0)) * 1e9)
_SPRT_UPPER = round(_math.log((1 - SPRT_ALPHA) / SPRT_ALPHA) * 1e9)
_SPRT_LOWER = -_SPRT_UPPER


@register(
    "analytics_sprt_sequential",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    cum AS (
        SELECT day,
               SUM(n) OVER w AS cum_n,
               SUM(x) OVER w AS cum_x,
               CAST(SUM(x) OVER w * {_SPRT_L_SUCC}
                    + (SUM(n) OVER w - SUM(x) OVER w) * {_SPRT_L_FAIL}
                    AS BIGINT) AS llr_nano
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    crossed AS (
        SELECT *,
               MIN(CASE WHEN llr_nano >= {_SPRT_UPPER}
                        OR llr_nano <= {_SPRT_LOWER}
                        THEN day END) OVER () AS cross_day
        FROM cum
    )
    SELECT day, CAST(cum_n AS BIGINT) AS cum_n,
           CAST(cum_x AS BIGINT) AS cum_x, llr_nano,
           CASE WHEN cross_day IS NULL OR day < cross_day THEN 'continue'
                WHEN llr_nano >= {_SPRT_UPPER} THEN 'accept_h1'
                WHEN llr_nano <= {_SPRT_LOWER} THEN 'accept_h0'
                ELSE 'decided' END AS decision
    FROM crossed
    ORDER BY day
    """,
)
def analytics_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test — the PEEKING-SAFE
    monitoring the fixed-horizon z-test (analytics_ab_ztest) cannot
    give: checking a fixed-horizon test daily inflates false positives
    to near-certainty, while the SPRT's log-likelihood boundaries
    ln((1−α)/α) guarantee the error rates AT ANY LOOK — the reason
    every modern experimentation platform runs sequential tests. Here
    the daily purchase share is monitored against H0: p=0.20 vs
    H1: p=0.25; each day emits the cumulative trials/successes, the
    running LLR, and the decision state (continue until the first
    boundary crossing, then frozen — first-crossing semantics via a
    window MIN, not a mutable loop).

    Determinism (G11): the two log-likelihood increments and both Wald
    boundaries are nano-scaled INTEGER LITERALS (the Goertzel
    fixed-point trick); the LLR is an integer window sum and every
    decision is an integer compare — no float ever accumulates.

    Scale: one events pass partial-aggs to the |calendar| daily frame;
    the cumulative window and the global first-crossing MIN both run
    on that bounded frame. The same shape monitors any rate metric at
    100 TB — the fact-sized work never changes."""
    ev = load(spark, sf_dir, "events").select(
        F.expr("ts_ns DIV 1000000 DIV 86400000").alias("day"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
    )
    daily = ev.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("x"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        "day",
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
        F.sum("x").over(w).cast("bigint").alias("cum_x"),
    ).select(
        "day",
        "cum_n",
        "cum_x",
        (
            F.col("cum_x") * _SPRT_L_SUCC
            + (F.col("cum_n") - F.col("cum_x")) * _SPRT_L_FAIL
        )
        .cast("bigint")
        .alias("llr_nano"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    crossed = cum.withColumn(
        "cross_day",
        F.min(
            F.when(
                (F.col("llr_nano") >= _SPRT_UPPER)
                | (F.col("llr_nano") <= _SPRT_LOWER),
                F.col("day"),
            )
        ).over(w_all),
    )
    decision = (
        F.when(
            F.col("cross_day").isNull() | (F.col("day") < F.col("cross_day")),
            "continue",
        )
        .when(F.col("llr_nano") >= _SPRT_UPPER, "accept_h1")
        .when(F.col("llr_nano") <= _SPRT_LOWER, "accept_h0")
        .otherwise("decided")
    )
    return (
        crossed.select(
            "day", "cum_n", "cum_x", "llr_nano", decision.alias("decision")
        )
        .orderBy("day")
    )


@register(
    "analytics_pettitt_changepoint",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    vals AS (SELECT cents, COUNT(*) AS t FROM daily GROUP BY cents),
    ranked AS (
        SELECT cents,
               2 * (1 + COALESCE(SUM(t) OVER (
                   ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0)) + t - 1 AS r2
        FROM vals
    ),
    seq AS (
        SELECT d.day,
               ROW_NUMBER() OVER (ORDER BY d.day) AS i,
               r.r2,
               COUNT(*) OVER () AS tt
        FROM daily d JOIN ranked r ON d.cents = r.cents
    ),
    u AS (
        SELECT day, i, tt,
               CAST(SUM(r2) OVER (ORDER BY i) - i * (tt + 1) AS BIGINT)
                   AS u_t
        FROM seq
    ),
    kmax AS (
        SELECT *, MAX(ABS(u_t)) OVER () AS k_stat
        FROM u WHERE i < tt
    ),
    k AS (
        SELECT *,
               MIN(CASE WHEN ABS(u_t) = k_stat THEN i END) OVER () AS tau_i
        FROM kmax
    )
    SELECT CAST(MAX(tt) AS BIGINT) AS t_days,
           strftime(MIN(CASE WHEN i = tau_i THEN day END), '%Y-%m-%d')
               AS tau_day,
           CAST(MAX(k_stat) AS BIGINT) AS k_stat,
           ROUND(2 * exp(-6.0 * CAST(MAX(k_stat) AS DOUBLE)
                   * CAST(MAX(k_stat) AS DOUBLE)
                   / (CAST(MAX(tt) AS DOUBLE) * CAST(MAX(tt) AS DOUBLE)
                      * CAST(MAX(tt) AS DOUBLE)
                      + CAST(MAX(tt) AS DOUBLE) * CAST(MAX(tt) AS DOUBLE))),
                 6) + 0.0
               AS p_approx
    FROM k
    """,
)
def analytics_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt changepoint test (Pettitt 1979) — the NONPARAMETRIC
    complement to analytics_cusum_changepoint exactly as
    analytics_mannwhitney_u complements the z-test: CUSUM detects a
    mean shift assuming well-behaved residuals; Pettitt asks whether
    ANY split point divides the daily-revenue series into two samples
    with different distributions, using rank statistics immune to
    heavy tails and outliers. U_t = 2·Σ_{i≤t}R_i − t(T+1) over
    tie-adjusted DOUBLED midranks (the mannwhitney integer-rank trick
    — r2 = 2·r_min + ties − 1, so every U_t is exact BIGINT), the
    statistic is K = max|U_t| with the FIRST maximizing day as the
    changepoint estimate (deterministic tiebreak), and the classic
    p ≈ 2·exp(−6K²/(T³+T²)) is the single transcendental, evaluated
    once on identical integers in both engines.

    Scale: one fact pass to the |calendar| daily frame; ranking and
    the U-walk are windows over that bounded frame — the
    analytics_ks_test topology with a different statistic. A
    null-ish fixture should yield a large p (pinned in pytest)."""
    orders = load(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    vals = daily.groupBy("cents").agg(F.count("*").alias("t"))
    w_rank = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = vals.select(
        "cents",
        (
            2 * (1 + F.coalesce(F.sum("t").over(w_rank), F.lit(0)))
            + F.col("t")
            - 1
        ).alias("r2"),
    )
    w_seq = Window.orderBy("day")
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    seq = (
        daily.join(ranked, "cents")
        .select(
            "day",
            F.row_number().over(w_seq).alias("i"),
            "r2",
            F.count("*").over(w_all).alias("tt"),
        )
    )
    w_cum = Window.orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    u = seq.select(
        "day",
        "i",
        "tt",
        (F.sum("r2").over(w_cum) - F.col("i") * (F.col("tt") + 1))
        .cast("bigint")
        .alias("u_t"),
    ).filter(F.col("i") < F.col("tt"))
    k = u.select(
        "*",
        F.max(F.abs("u_t")).over(w_all).alias("k_stat"),
    ).select(
        "*",
        F.min(
            F.when(F.abs("u_t") == F.col("k_stat"), F.col("i"))
        )
        .over(w_all)
        .alias("tau_i"),
    )
    ttd = F.max("tt").cast("double")
    ks = F.max("k_stat").cast("double")
    return k.agg(
        F.max("tt").cast("bigint").alias("t_days"),
        F.date_format(
            F.min(F.when(F.col("i") == F.col("tau_i"), F.col("day"))),
            "yyyy-MM-dd",
        ).alias("tau_day"),
        F.max("k_stat").cast("bigint").alias("k_stat"),
        # ROUND 6dp + 0.0 (G4/G13): exp() is a libm call — Java
        # Math.exp and DuckDB's libm are each high-quality but NOT
        # bit-identical on every input, so the full-precision repr of
        # p can differ in the last ulp on arbitrary (K, T) (the
        # seed-99 randsweep caught exactly this); 6dp is far beyond
        # the approximation's meaning.
        (
            F.round(
                F.lit(2.0)
                * F.exp(
                    -F.lit(6.0) * ks * ks / (ttd * ttd * ttd + ttd * ttd)
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("p_approx"),
    )


@register(
    "analytics_mann_kendall",
    oracle="""
    WITH monthly AS (
        SELECT o_orderpriority AS priority,
               year(o_orderdate) * 12 + month(o_orderdate) AS m,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ),
    s AS (
        SELECT a.priority,
               CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                             WHEN b.cents < a.cents THEN -1
                             ELSE 0 END) AS BIGINT) AS s_stat
        FROM monthly a JOIN monthly b
          ON a.priority = b.priority AND a.m < b.m
        GROUP BY a.priority
    ),
    nn AS (
        SELECT priority, CAST(COUNT(*) AS BIGINT) AS n
        FROM monthly GROUP BY priority
    ),
    ties AS (
        SELECT priority,
               CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
                   AS tie_term
        FROM (
            SELECT priority, cents, COUNT(*) AS t
            FROM monthly GROUP BY priority, cents
        ) GROUP BY priority
    )
    SELECT s.priority,
           nn.n AS n_months,
           s.s_stat,
           CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_term
                AS BIGINT) AS var18,
           ROUND(CASE WHEN s.s_stat = 0 THEN 0.0
                 ELSE (CAST(s.s_stat AS DOUBLE)
                       - CASE WHEN s.s_stat > 0 THEN 1 ELSE -1 END)
                      / sqrt(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5)
                                  - ties.tie_term AS DOUBLE) / 18.0)
                 END, 6) + 0.0 AS z_mk
    FROM s JOIN nn ON s.priority = nn.priority
    JOIN ties ON s.priority = ties.priority
    ORDER BY s.priority
    """,
)
def analytics_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test (Mann 1945, Kendall 1975) — the
    SIGNIFICANCE side of analytics_theil_sen_trend's magnitude: is the
    per-priority monthly-revenue series monotonically trending at all?
    S = Σ_{i<j} sign(x_j − x_i) is a pure integer (sum of ±1/0 over
    ordered pairs), the tie-corrected variance numerator
    var18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) is exact bigint, and the
    continuity-corrected z = (S ∓ 1)/sqrt(var18/18) is the single
    float step, ROUND(·,6)+0.0 per the G13 output discipline (z is
    O(1)). Nonparametric: no distributional assumption, robust to the
    same outlier months Theil-Sen tolerates — the pair every
    forecasting warehouse runs together (slope + its p-value).

    Plan: the theil_sen topology — one scan collapses to the
    ≤|priorities|·|months| frame; the pair join is group-local over
    month-granular frames (metadata-sized); ties/counts are
    re-aggregations of the same tiny frame. At 100 TB the monthly
    collapse IS the reduction; nothing downstream scales with rows.

    Reference parity: extends the reference's analytics surface
    (README.md:88-102 trend-shaped downstream queries) with the
    standard companion test; no reference counterpart exists
    (main.go has no analytics)."""
    orders = load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents")
    )
    a = monthly.select(
        "priority", F.col("m").alias("m1"), F.col("cents").alias("c1")
    )
    b = monthly.select(
        "priority", F.col("m").alias("m2"), F.col("cents").alias("c2")
    )
    s = (
        a.join(b, "priority")
        .filter(F.col("m1") < F.col("m2"))
        .groupBy("priority")
        .agg(
            F.sum(
                F.when(F.col("c2") > F.col("c1"), 1)
                .when(F.col("c2") < F.col("c1"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    nn = monthly.groupBy("priority").agg(
        F.count("*").cast("bigint").alias("n")
    )
    ties = (
        monthly.groupBy("priority", "cents")
        .agg(F.count("*").alias("t"))
        .groupBy("priority")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term")
    ).cast("bigint")
    z = F.when(F.col("s_stat") == 0, F.lit(0.0)).otherwise(
        (
            F.col("s_stat").cast("double")
            - F.when(F.col("s_stat") > 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        )
        / F.sqrt(var18.cast("double") / 18.0)
    )
    return (
        s.join(F.broadcast(nn), "priority")
        .join(F.broadcast(ties), "priority")
        .select(
            "priority",
            F.col("n").alias("n_months"),
            "s_stat",
            var18.alias("var18"),
            (F.round(z, 6) + F.lit(0.0)).alias("z_mk"),
        )
        .orderBy("priority")
    )


@register(
    "analytics_runs_test",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    med AS (SELECT quantile_cont(CAST(cents AS DOUBLE), 0.5) AS m
            FROM daily),
    signs AS (
        SELECT day,
               CASE WHEN CAST(cents AS DOUBLE) > med.m THEN 1 ELSE -1 END
                   AS s
        FROM daily CROSS JOIN med
        WHERE CAST(cents AS DOUBLE) <> med.m
    ),
    runs AS (
        SELECT s,
               CASE WHEN LAG(s) OVER (ORDER BY day) IS DISTINCT FROM s
                    THEN 1 ELSE 0 END AS is_start
        FROM signs
    ),
    agg AS (
        SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n2,
               CAST(SUM(is_start) AS BIGINT) AS n_runs
        FROM runs
    )
    SELECT n1, n2, n_runs,
           ROUND((CAST(n_runs AS DOUBLE)
                  - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((CAST(n1 + n2 AS DOUBLE))
                           * (n1 + n2) * (n1 + n2 - 1))),
                 6) + 0.0 AS z_runs
    FROM agg
    """,
)
def analytics_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test — the randomness screen completing the
    nonparametric family (mannwhitney: location; ks: distribution;
    pettitt: changepoint; THIS: serial dependence): is the daily
    revenue series above/below its median in RANDOM order, or does it
    streak? Too few runs = positive autocorrelation (regimes), too
    many = oscillation. Days equal to the median are dropped (the
    classical treatment).

    Determinism: signs compare exact integer cents against the exact
    interpolated median (k or k+0.5 — both exactly representable, the
    theil_sen/median-of-integers argument); run starts are integer
    window flags; n1/n2/n_runs are exact bigints; the normal
    approximation z is the single float step over exact integers,
    ROUND(·,6)+0.0 at O(1) magnitude (G13).

    Plan: one fact pass to the |calendar| daily frame; the 1-row
    median anchor crossJoins back (planaudit-whitelisted); the run
    walk is one ordered pass over the bounded daily frame — the
    analytics_ks_test topology.

    Reference parity: no reference counterpart (main.go has no
    analytics); rounds out SURVEY §2's inference family."""
    orders = load(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    med = daily.agg(
        F.expr("percentile(cast(cents as double), 0.5)").alias("m")
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("cents").cast("double") != F.col("m"))
        .select(
            "day",
            F.when(F.col("cents").cast("double") > F.col("m"), 1)
            .otherwise(-1)
            .alias("s"),
        )
    )
    w = Window.orderBy("day")
    runs = signs.select(
        "s",
        F.when(
            ~F.lag("s").over(w).eqNullSafe(F.col("s")), 1
        )
        .otherwise(0)
        .alias("is_start"),
    )
    agg = runs.agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        F.sum("is_start").cast("bigint").alias("n_runs"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    e_runs = 2.0 * n1d * n2d / nd + 1.0
    var = (
        2.0
        * n1d
        * n2d
        * (2.0 * n1d * n2d - n1d - n2d)
        / (nd * nd * (nd - 1.0))
    )
    return agg.select(
        "n1",
        "n2",
        "n_runs",
        (
            F.round(
                (F.col("n_runs").cast("double") - e_runs) / F.sqrt(var), 6
            )
            + F.lit(0.0)
        ).alias("z_runs"),
    )


@register(
    "analytics_spearman_corr",
    oracle="""
    WITH base AS (
        SELECT CAST(l_quantity AS DECIMAL(18,2)) AS x,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        FROM lineitem
    ),
    xr AS (
        SELECT x, 2 * (1 + COALESCE(SUM(t) OVER (
                   ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0)) + t - 1 AS r2
        FROM (SELECT x, COUNT(*) AS t FROM base GROUP BY x)
    ),
    yr AS (
        SELECT y, 2 * (1 + COALESCE(SUM(t) OVER (
                   ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0)) + t - 1 AS r2
        FROM (SELECT y, COUNT(*) AS t FROM base GROUP BY y)
    ),
    ranked AS (
        SELECT CAST(xr.r2 AS HUGEINT) AS rx, CAST(yr.r2 AS HUGEINT) AS ry
        FROM base JOIN xr ON base.x = xr.x JOIN yr ON base.y = yr.y
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(rx) AS sx, SUM(ry) AS sy,
               SUM(rx * ry) AS sxy,
               SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
        FROM ranked
    )
    SELECT n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) + 0.0 AS spearman_rho
    FROM s
    """,
)
def analytics_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between line quantity and extended
    price — the ROBUST sibling of the Pearson matrix (agg family's
    corr): monotone association free of the linearity and
    outlier-sensitivity assumptions, the screen run before trusting a
    Pearson number on heavy-tailed warehouse measures.

    Exactness: ties take average ranks via the DOUBLED-midrank trick
    (r2 = 2·r_min + t − 1 is always an integer — the mannwhitney/
    pettitt device), so every rank is exact; Spearman = Pearson ON the
    midranks, whose five sufficient sums accumulate in DECIMAL(38,0)/
    HUGEINT (r2 ≤ 2n ⇒ Σ(r2·r2) ≤ 4n³ — exact to n ≈ 2.9e11 rows);
    the final rho is one fixed IEEE dag over those exact integers,
    ROUND(·,6)+0.0 at O(1) magnitude (G13; the >2^53 casts inside it
    carry ~1e-16 relative ulp noise, invisible at 6dp). The classic
    1 − 6Σd²/(n³−n) shortcut is WRONG under ties and is deliberately
    not used.

    Plan: two groupBy(value) collapses (distinct-value frames) → two
    bucket-offset two-pass prefix sums (scalable.py — per-bucket
    windows bounded by |values|/256, global window only on the
    ≤256-row offset frame) for midranks → two equi-joins re-attach
    ranks → ONE partial-agg pass folds all five sums. The
    distinct-price frame is corpus-cardinality, so the r12-flagged
    single-task window class is gone; the ranks are unchanged.

    Reference parity: no reference counterpart; completes the
    correlation family next to agg's Pearson and the Mann-Kendall /
    Theil-Sen monotone-trend pair."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("decimal(18,2)").alias("x"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("y"),
    )

    def midranks(df, col):
        vals = df.groupBy(col).agg(F.count("*").alias("t"))
        return bucketed_prefix_sums(vals, col, ["t"]).select(
            col,
            (
                2 * (1 + F.col("t_prefix")) + F.col("t") - 1
            ).alias("r2"),
        )

    xr = midranks(li, "x").withColumnRenamed("r2", "rx")
    yr = midranks(li, "y").withColumnRenamed("r2", "ry")
    ranked = (
        li.join(xr, "x")
        .join(yr, "y")
        .select(
            F.col("rx").cast("decimal(38,0)").alias("rx"),
            F.col("ry").cast("decimal(38,0)").alias("ry"),
        )
    )
    s = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    n_d = F.col("n").cast("double")
    num = n_d * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    den = F.sqrt(
        (
            n_d * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * (
            n_d * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return s.select(
        "n",
        (F.round(num / den, 6) + F.lit(0.0)).alias("spearman_rho"),
    )
