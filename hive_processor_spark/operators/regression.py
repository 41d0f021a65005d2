"""Closed-form regression operators — the "fit a cheap model inside the
engine" family (mirrors the analytics surface the reference exposes through
its SQL plane; reference ``src/processor.ts:57-89`` dispatches any such
registered computation, it implements none natively).

Ordinary least squares over grouped data has an exact closed form in the
five sufficient statistics (n, Σx, Σy, Σxy, Σx²) — all of them sums, so the
whole fit is ONE partial→final aggregation: map-side combine on every
executor, a |groups|-row shuffle, and a handful of scalar divisions after.
No iteration, no driver math, no collect. At 100 TB this is the textbook
"sufficient statistics, not data movement" pattern; the same shape extends
to covariance/correlation matrices and Welford-style moments.

Every sum goes through the ``functions/exact.py`` quantized discipline, so
the derived slope/intercept/r² are bit-identical across engines and at any
parallelism — an ML fit that hash-matches its DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_processor_spark.engine import register
from hive_processor_spark.functions.exact import dsum, sql_dsum
from hive_processor_spark.functions.orderstat import with_global_order
from hive_processor_spark.sources.tables import load_table, session_pin

#: Session pin for the exact daily-revenue spine ``(day, x)`` —
#: x = Σ floor(o_totalprice·100) as DECIMAL(38,0) per order day. Five
#: registered time-series tests share this identical frame
#: (``ts_ljung_box``, ``ts_arch_lm``, ``stats_durbin_watson``,
#: ``ts_cusum_squares``, ``ts_sample_entropy``); each re-ran the
#: orders-sized rollup per run while everything downstream is |days|-row
#: algebra (VERDICT r10 item 4 — the sweep doubling was the repeated
#: spine scan). Answer-shaped: one row per day, never orders-sized.
#: Lineage-backed; key, eviction and counters: ``tables.session_pin``.
def daily_revenue_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-pinned exact daily-revenue spine ``(day, x)``."""

    def build() -> DataFrame:
        orders = load_table(spark, sf_dir, "orders")
        return (
            orders.groupBy(F.col("o_orderdate").cast("date").alias("day"))
            .agg(
                F.sum(
                    F.floor(F.col("o_totalprice") * 100.0).cast(
                        "decimal(38,0)"
                    )
                ).alias("x")
            )
            .persist()
        )

    return session_pin(spark, sf_dir, "daily_revenue", build)


@register(
    "ml_linreg",
    f"""
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               {sql_dsum('l_quantity')} AS sx,
               {sql_dsum('l_extendedprice')} AS sy,
               {sql_dsum('l_quantity * l_extendedprice')} AS sxy,
               {sql_dsum('l_quantity * l_quantity')} AS sxx,
               {sql_dsum('l_extendedprice * l_extendedprice')} AS syy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
               AS intercept,
           ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s ORDER BY l_returnflag
    """,
)
def ml_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped OLS fit of extended price on quantity, one model per return
    flag: slope, intercept, and r² from the five quantized sufficient sums.
    The aggregation is the only distributed stage (partial→final, map-side
    combined); the algebra is post-aggregate scalar expressions over a
    3-row frame. Identical quantized sums on both engines make the derived
    doubles bit-equal — the differential hash proves the rewrite."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(x * y).alias("sxy"),
        dsum(x * x).alias("sxx"),
        dsum(y * y).alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx", "syy"))
    cov_n = n * sxy - sx * sy  # n²·cov(x,y)
    var_x = n * sxx - sx * sx  # n²·var(x)
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round((cov_n * cov_n) / (var_x * var_y), 6).alias("r2"),
    ).orderBy("l_returnflag")


@register(
    "ml_covariance",
    f"""
    WITH s AS (
        SELECT c_mktsegment,
               CAST(COUNT(*) AS DOUBLE) AS n,
               {sql_dsum('c_acctbal')} AS sx,
               {sql_dsum('CAST(c_nationkey AS DOUBLE)')} AS sy,
               {sql_dsum('c_acctbal * CAST(c_nationkey AS DOUBLE)')} AS sxy
        FROM customer GROUP BY c_mktsegment
    )
    SELECT c_mktsegment,
           CAST(n AS BIGINT) AS n,
           ROUND((sxy - sx * sy / n) / (n - 1), 6) AS cov_sample
    FROM s ORDER BY c_mktsegment
    """,
)
def ml_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped sample covariance from quantized sufficient sums — the same
    one-aggregation shape as :func:`ml_linreg` (Spark's built-in
    ``covar_samp`` is order-dependent on doubles, which is exactly what the
    exact-sum discipline exists to avoid)."""
    cust = load_table(spark, sf_dir, "customer")
    x = F.col("c_acctbal")
    y = F.col("c_nationkey").cast("double")
    s = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(x * y).alias("sxy"),
    )
    n, sx, sy, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxy"))
    return s.select(
        "c_mktsegment",
        n.cast("bigint").alias("n"),
        F.round((sxy - sx * sy / n) / (n - 1), 6).alias("cov_sample"),
    ).orderBy("c_mktsegment")


@register(
    "ml_autocorr",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 10000.0) AS HUGEINT)) AS HUGEINT)
                   AS x
        FROM orders GROUP BY 1
    ), pairs AS (
        SELECT x, LAG(x) OVER (ORDER BY day) AS y FROM daily
    ), s AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM pairs WHERE y IS NOT NULL
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS autocorr_lag1
    FROM s
    """,
)
def ml_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily revenue series — the first
    diagnostic of any forecasting pipeline (is tomorrow like today?).

    Exactness: daily revenue is a quantized integer; every Pearson moment
    (Σx, Σy, Σxy, Σx², Σy²) is summed exactly — 128-bit HUGEINT on the
    oracle, DECIMAL(38,0) in Spark, identical integers either way — and
    only the final correlation ratio touches doubles, with one fixed
    parenthesization on both engines. The lag pairing is a window over one
    row per day (the daily rollup is the only fact-table stage; the window
    frame is |days| rows, which stays tiny at any corpus scale)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 10000.0).cast("decimal(38,0)")
            ).alias("x")
        )
    )
    w = Window.orderBy("day")
    pairs = daily.select("x", F.lag("x").over(w).alias("y")).filter(
        F.col("y").isNotNull()
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return s.select(
        n.cast("bigint").alias("n_pairs"),
        F.round(
            (n * sxy - sx * sy).cast("double")
            / F.sqrt(
                (n * sxx - sx * sx).cast("double")
                * (n * syy - sy * sy).cast("double")
            ),
            6,
        ).alias("autocorr_lag1"),
    )


@register(
    "ml_logistic_score",
    """
    WITH feats AS (
        SELECT doc_id,
               CAST(LEN(LIST_FILTER(STRING_SPLIT(TRIM(text), ' '),
                                    w -> w <> '')) AS BIGINT) AS n_tokens,
               n_chars
        FROM documents
    ), z AS (
        SELECT doc_id, n_tokens,
               -3.0 + 0.9 * LN(1.0 + CAST(n_tokens AS DOUBLE))
                    - 0.2 * (CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                   AS z
        FROM feats WHERE n_tokens > 0
    )
    SELECT doc_id,
           ROUND(1.0 / (1.0 + EXP(-z)), 4) AS quality_score,
           CAST(CASE WHEN 1.0 / (1.0 + EXP(-z)) >= 0.5 THEN 1 ELSE 0 END
                AS INTEGER) AS keep
    FROM z
    ORDER BY doc_id
    """,
)
def ml_logistic_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight logistic quality classifier over cheap document
    features (log token count, chars-per-token) — the shape of every
    fasttext-style quality filter in an LLM data pipeline: train offline,
    score at corpus scale as a pure map-only expression pass.

    The linear term is a fixed left-associated chain over deterministic
    feature doubles, so both engines see the same z; the sigmoid's EXP may
    differ in the last ulp between libms, which the 4-decimal round
    absorbs (and the 0.5 keep-threshold sits far from any fixture score).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim(F.col("text")), " "), lambda w: w != F.lit(""))
    feats = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        "n_chars",
    ).filter(F.col("n_tokens") > 0)
    z = (
        F.lit(-3.0)
        + F.lit(0.9) * F.log(F.lit(1.0) + F.col("n_tokens").cast("double"))
        - F.lit(0.2)
        * (F.col("n_chars").cast("double") / F.col("n_tokens").cast("double"))
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z")))
    return (
        feats.select("doc_id", z.alias("z"))
        .select(
            "doc_id",
            F.round(p, 4).alias("quality_score"),
            F.when(p >= 0.5, 1).otherwise(0).alias("keep"),
        )
        .orderBy("doc_id")
    )


def _labeler(tag: str, base: int, boost: int):
    """Simulated binary annotator over ``documents``: votes 1 when the
    ``md5(tag || doc_id)`` slot (0..99) is under ``base``, raised by
    ``boost`` for documents of 300+ characters — the shared signal that
    makes two labelers agree more than chance."""
    slot = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(tag), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    thresh = F.lit(base) + F.when(F.col("n_chars") >= 300, boost).otherwise(0)
    return F.when(slot < thresh, 1).otherwise(0)


@register(
    "ml_cohens_kappa",
    """
    WITH labeled AS (
        SELECT CASE WHEN (('0x' || SUBSTRING(MD5('a' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                          % 100) < 55 + (CASE WHEN n_chars >= 300 THEN 20 ELSE 0 END)
                    THEN 1 ELSE 0 END AS ra,
               CASE WHEN (('0x' || SUBSTRING(MD5('b' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                          % 100) < 50 + (CASE WHEN n_chars >= 300 THEN 25 ELSE 0 END)
                    THEN 1 ELSE 0 END AS rb
        FROM documents
    ), c AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS DOUBLE) AS agree,
               CAST(SUM(ra) AS DOUBLE) AS pa1,
               CAST(SUM(rb) AS DOUBLE) AS pb1
        FROM labeled
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           ROUND(agree / n, 6) AS observed_agreement,
           ROUND((agree / n - ((pa1 / n) * (pb1 / n)
                               + (1.0 - pa1 / n) * (1.0 - pb1 / n)))
                 / (1.0 - ((pa1 / n) * (pb1 / n)
                           + (1.0 - pa1 / n) * (1.0 - pb1 / n))), 6) AS kappa
    FROM c
    """,
)
def ml_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement (Cohen's κ) between two simulated binary
    labelers — the labeling-QA gate every human-feedback pipeline computes
    before trusting annotations. The labelers are hash-derived with a
    shared signal (document length), so agreement exceeds chance and κ is
    meaningfully positive; everything is exact counts feeding one
    identically-parenthesized κ expression. One aggregation pass; at
    corpus scale this extends to per-annotator-pair grouping unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select(
        _labeler("a", 55, 20).alias("ra"), _labeler("b", 50, 25).alias("rb")
    )
    c = labeled.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum((F.col("ra") == F.col("rb")).cast("int")).cast("double").alias(
            "agree"
        ),
        F.sum("ra").cast("double").alias("pa1"),
        F.sum("rb").cast("double").alias("pb1"),
    )
    n, agree, pa1, pb1 = (F.col(c_) for c_ in ("n", "agree", "pa1", "pb1"))
    pe = (pa1 / n) * (pb1 / n) + (1.0 - pa1 / n) * (1.0 - pb1 / n)
    return c.select(
        n.cast("bigint").alias("n_docs"),
        F.round(agree / n, 6).alias("observed_agreement"),
        F.round((agree / n - pe) / (1.0 - pe), 6).alias("kappa"),
    )


@register(
    "ml_calibration_error",
    """
    WITH feats AS (
        SELECT doc_id, n_chars,
               CAST(LEN(LIST_FILTER(STRING_SPLIT(TRIM(text), ' '),
                                    w -> w <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ), z AS (
        SELECT doc_id, n_chars,
               -3.0 + 0.9 * LN(1.0 + CAST(n_tokens AS DOUBLE))
                    - 0.2 * (CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                   AS z
        FROM feats WHERE n_tokens > 0
    ), scored AS (
        SELECT ROUND(1.0 / (1.0 + EXP(-z)), 4) AS p,
               CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS y
        FROM z
    ), binned AS (
        SELECT LEAST(9, CAST(FLOOR(p * 10.0) AS INTEGER)) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS n_pos,
               CAST(SUM(CAST(FLOOR(p * 10000.0) AS BIGINT)) AS BIGINT) AS pq
        FROM scored GROUP BY bin
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           ROUND(SUM(ABS(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
                         - CAST(pq AS DOUBLE) / 10000.0 / CAST(n AS DOUBLE))
                     * CAST(n AS DOUBLE))
                 / CAST(SUM(n) AS DOUBLE), 6) AS ece
    FROM binned
    """,
)
def ml_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error of the logistic quality scorer against a
    length-derived pseudo-label: scores bucketed into 10 confidence bins,
    ECE = Σ |accuracy − mean-confidence|·(n/N) — the model-eval pass that
    decides whether scores can gate data by threshold. Per-bin confidence
    sums are floor-quantized; accuracies are exact ratios; ECE is one
    weighted fold over ≤10 bins. Mirrors ``ml_logistic_score``'s features
    so the two operators form a train-score-evaluate chain."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim(F.col("text")), " "), lambda w: w != F.lit(""))
    feats = docs.select(
        "doc_id", "n_chars", F.size(toks).cast("bigint").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    z = (
        F.lit(-3.0)
        + F.lit(0.9) * F.log(F.lit(1.0) + F.col("n_tokens").cast("double"))
        - F.lit(0.2)
        * (F.col("n_chars").cast("double") / F.col("n_tokens").cast("double"))
    )
    scored = feats.select(
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4).alias("p"),
        F.when(F.col("n_chars") >= 250, 1).otherwise(0).alias("y"),
    )
    binned = scored.groupBy(
        F.least(F.lit(9), F.floor(F.col("p") * 10.0).cast("int")).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(F.floor(F.col("p") * 10000.0).cast("long")).cast("long").alias("pq"),
    )
    acc = F.col("n_pos").cast("double") / F.col("n").cast("double")
    conf = F.col("pq").cast("double") / 10000.0 / F.col("n").cast("double")
    return binned.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_bins"),
        F.round(
            F.sum(F.abs(acc - conf) * F.col("n").cast("double"))
            / F.sum("n").cast("double"),
            6,
        ).alias("ece"),
    )


@register(
    "ml_survival_km",
    """
    WITH spans AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0,
               MAX(ts) AS t_last
        FROM events GROUP BY user_id
    ), conv AS (
        SELECT s.user_id,
               DATE_DIFF('day', s.t0,
                   COALESCE(p.tp, s.t_last)) AS dur,
               CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM spans s
        LEFT JOIN (
            SELECT e.user_id, MIN(e.ts) AS tp
            FROM events e JOIN spans s2
              ON e.user_id = s2.user_id AND e.event_type = 'purchase'
             AND e.ts > s2.t0
            GROUP BY e.user_id
        ) p ON p.user_id = s.user_id
        WHERE s.t0 IS NOT NULL
    ), times AS (
        SELECT dur, CAST(SUM(ev) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS leaving
        FROM conv GROUP BY dur
    ), risk AS (
        SELECT dur, d,
               SUM(leaving) OVER (ORDER BY dur DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
        FROM times
    )
    SELECT CAST(dur AS INTEGER) AS day, CAST(n_risk AS BIGINT) AS at_risk, d AS n_events,
           ROUND(EXP(SUM(CASE WHEN d > 0 THEN
                   CAST(FLOOR(LN(GREATEST(1.0 - CAST(d AS DOUBLE)
                                          / CAST(n_risk AS DOUBLE), 1e-12))
                              * 1e9) AS BIGINT) ELSE 0 END)
               OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / 1e9), 6) AS survival
    FROM risk
    WHERE d > 0
    ORDER BY day
    """,
)
def ml_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-first-purchase after first
    view (users without a purchase are right-censored at their last
    event) — the churn/conversion-lag analysis that respects censoring
    instead of dropping non-converters. The at-risk counts come from a
    reverse cumulative sum over the (tiny) distinct-duration frame; the
    product-limit estimator is exp of a running sum of 1e-9-quantized
    ln(max(1 − d/n, 1e-12)) terms (the clamp keeps the terminal
    everyone-converts step finite; it rounds to 0.0), so the curve is
    parallelism-stable. The only
    fact-scale stages are two per-user aggregations."""
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t0"),
        F.max("ts").alias("t_last"),
    ).filter(F.col("t0").isNotNull())
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .join(
            spans.select(F.col("user_id").alias("u2"), F.col("t0").alias("s_t0")),
            (F.col("user_id") == F.col("u2")) & (F.col("ts") > F.col("s_t0")),
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    conv = spans.join(purch, "user_id", "left").select(
        F.datediff(
            F.coalesce(F.col("tp"), F.col("t_last")).cast("date"),
            F.col("t0").cast("date"),
        ).alias("dur"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    times = conv.groupBy("dur").agg(
        F.sum("ev").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("leaving"),
    )
    w_rev = Window.orderBy(F.desc("dur")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = times.select(
        "dur", "d", F.sum("leaving").over(w_rev).alias("n_risk")
    )
    term = F.when(
        F.col("d") > 0,
        F.floor(
            F.log(
                F.greatest(
                    F.lit(1.0)
                    - F.col("d").cast("double") / F.col("n_risk").cast("double"),
                    F.lit(1e-12),
                )
            )
            * 1e9
        ).cast("long"),
    ).otherwise(0)
    w_fwd = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        risk.select(
            "dur",
            "d",
            "n_risk",
            F.round(F.exp(F.sum(term).over(w_fwd) / 1e9), 6).alias("survival"),
        )
        .filter(F.col("d") > 0)
        .select(
            F.col("dur").alias("day"),
            F.col("n_risk").alias("at_risk"),
            F.col("d").alias("n_events"),
            "survival",
        )
        .orderBy("day")
    )


@register(
    "ml_auc_roc",
    """
    WITH feats AS (
        SELECT doc_id, n_chars,
               CAST(LEN(LIST_FILTER(STRING_SPLIT(TRIM(text), ' '),
                                    w -> w <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ), scored AS (
        SELECT doc_id,
               ROUND(1.0 / (1.0 + EXP(-(-3.0
                   + 0.9 * LN(1.0 + CAST(n_tokens AS DOUBLE))
                   - 0.2 * (CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE))))), 4)
                   AS p,
               CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS y
        FROM feats WHERE n_tokens > 0
    ), ranked AS (
        SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY p, doc_id) AS BIGINT) AS r
        FROM scored
    ), s AS (
        SELECT CAST(SUM(y) AS BIGINT) AS np,
               CAST(COUNT(*) - SUM(y) AS BIGINT) AS nn,
               CAST(SUM(CASE WHEN y = 1 THEN r ELSE 0 END) AS BIGINT) AS rp
        FROM ranked
    )
    SELECT np AS n_pos, nn AS n_neg,
           ROUND(CAST(rp - np * (np + 1) / 2 AS DOUBLE)
                 / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)), 6) AS auc
    FROM s
    """,
)
def ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC-ROC of the logistic quality scorer against the length
    pseudo-label via the Mann–Whitney rank identity
    (Σ pos-ranks − n₊(n₊+1)/2) / (n₊·n₋) — with score ties broken by
    doc_id so the rank sum (and therefore the AUC) is exactly
    deterministic on both engines (a documented tie-broken variant of the
    midrank AUC). Completes the eval family with ``ml_calibration_error``;
    ranks come from the bucketed two-level machinery of
    ``functions/orderstat.py`` (round-6 window-audit fix — the scored
    frame grows with the corpus and measured 10x growth through one
    partition), integer arithmetic to the final division."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim(F.col("text")), " "), lambda w: w != F.lit(""))
    feats = docs.select(
        "doc_id", "n_chars", F.size(toks).cast("bigint").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    z = (
        F.lit(-3.0)
        + F.lit(0.9) * F.log(F.lit(1.0) + F.col("n_tokens").cast("double"))
        - F.lit(0.2)
        * (F.col("n_chars").cast("double") / F.col("n_tokens").cast("double"))
    )
    scored = feats.select(
        "doc_id",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4).alias("p"),
        F.when(F.col("n_chars") >= 250, 1).otherwise(0).alias("y"),
    )
    ranked = with_global_order(
        scored, "p", ["doc_id"], rank="r"
    ).select("y", "r")
    s = ranked.agg(
        F.sum("y").cast("long").alias("np"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("nn"),
        F.sum(F.when(F.col("y") == 1, F.col("r")).otherwise(0))
        .cast("long")
        .alias("rp"),
    )
    np_, nn_, rp_ = F.col("np"), F.col("nn"), F.col("rp")
    return s.select(
        np_.alias("n_pos"),
        nn_.alias("n_neg"),
        F.round(
            (rp_ - np_ * (np_ + 1) / 2).cast("double")
            / (np_.cast("double") * nn_.cast("double")),
            6,
        ).alias("auc"),
    )


_COV_COLS = ("l_quantity", "l_extendedprice", "l_discount")


@register(
    "ml_cov_matrix",
    f"""
    WITH s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               {sql_dsum('l_quantity')} AS s_0,
               {sql_dsum('l_extendedprice')} AS s_1,
               {sql_dsum('l_discount')} AS s_2,
               {sql_dsum('l_quantity * l_quantity')} AS p_0_0,
               {sql_dsum('l_quantity * l_extendedprice')} AS p_0_1,
               {sql_dsum('l_quantity * l_discount')} AS p_0_2,
               {sql_dsum('l_extendedprice * l_extendedprice')} AS p_1_1,
               {sql_dsum('l_extendedprice * l_discount')} AS p_1_2,
               {sql_dsum('l_discount * l_discount')} AS p_2_2
        FROM lineitem
    )
    SELECT x, y, ROUND((pxy - sx * sy / n) / (n - 1), 6) AS cov
    FROM s, (
        VALUES ('l_quantity', 'l_quantity'), ('l_quantity', 'l_extendedprice'),
               ('l_quantity', 'l_discount'),
               ('l_extendedprice', 'l_extendedprice'),
               ('l_extendedprice', 'l_discount'), ('l_discount', 'l_discount')
    ) AS v(x, y),
    LATERAL (
        SELECT CASE x WHEN 'l_quantity' THEN s_0
                      WHEN 'l_extendedprice' THEN s_1 ELSE s_2 END AS sx,
               CASE y WHEN 'l_quantity' THEN s_0
                      WHEN 'l_extendedprice' THEN s_1 ELSE s_2 END AS sy,
               CASE WHEN x = 'l_quantity' AND y = 'l_quantity' THEN p_0_0
                    WHEN x = 'l_quantity' AND y = 'l_extendedprice' THEN p_0_1
                    WHEN x = 'l_quantity' AND y = 'l_discount' THEN p_0_2
                    WHEN x = 'l_extendedprice' AND y = 'l_extendedprice' THEN p_1_1
                    WHEN x = 'l_extendedprice' AND y = 'l_discount' THEN p_1_2
                    ELSE p_2_2 END AS pxy
    ) m
    ORDER BY x, y
    """,
)
def ml_cov_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full sample-covariance matrix of three lineitem measures in ONE
    aggregation pass (upper triangle in long form) — the feature-
    preprocessing statistic (whitening, PCA input) computed the
    sufficient-statistics way: 3 sums + 6 product sums, all quantized, a
    constant-size reshape after. The matrix never touches the fact table
    twice; at 100 TB this is one partial→final pass regardless of how
    many measure pairs are requested."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = {c: F.col(c) for c in _COV_COLS}
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for i, ci in enumerate(_COV_COLS):
        aggs.append(dsum(cols[ci]).alias(f"s_{i}"))
    for i, ci in enumerate(_COV_COLS):
        for j, cj in enumerate(_COV_COLS):
            if j >= i:
                aggs.append(dsum(cols[ci] * cols[cj]).alias(f"p_{i}_{j}"))
    s = li.agg(*aggs)
    rows = []
    for i, ci in enumerate(_COV_COLS):
        for j, cj in enumerate(_COV_COLS):
            if j >= i:
                cov = F.round(
                    (F.col(f"p_{i}_{j}") - F.col(f"s_{i}") * F.col(f"s_{j}") / F.col("n"))
                    / (F.col("n") - 1),
                    6,
                )
                rows.append(
                    s.select(
                        F.lit(ci).alias("x"), F.lit(cj).alias("y"), cov.alias("cov")
                    )
                )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("x", "y")


@register(
    "ml_regression_metrics",
    f"""
    WITH s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               {sql_dsum('l_quantity')} AS sx,
               {sql_dsum('l_extendedprice')} AS sy,
               {sql_dsum('l_quantity * l_extendedprice')} AS sxy,
               {sql_dsum('l_quantity * l_quantity')} AS sxx,
               {sql_dsum('l_extendedprice * l_extendedprice')} AS syy
        FROM lineitem
    ), fit AS (
        SELECT n, sy, syy,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                   AS intercept
        FROM s
    ), res AS (
        SELECT f.n, f.slope, f.intercept,
               f.syy - f.sy * f.sy / f.n AS sst_n,
               {sql_dsum('ABS(l_extendedprice - (slope * l_quantity + intercept))', 2)}
                   AS s_abs,
               {sql_dsum('(l_extendedprice - (slope * l_quantity + intercept)) * (l_extendedprice - (slope * l_quantity + intercept))', 0)}
                   AS s_sq,
               {sql_dsum('ABS((l_extendedprice - (slope * l_quantity + intercept)) / l_extendedprice)', 8)}
                   AS s_ape
        FROM lineitem, fit f
        GROUP BY f.n, f.slope, f.intercept, f.syy, f.sy
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(slope, 6) AS slope,
           ROUND(intercept, 6) AS intercept,
           ROUND(s_abs / n, 6) AS mae,
           ROUND(SQRT(s_sq / n), 6) AS rmse,
           ROUND(100 * s_ape / n, 6) AS mape_pct,
           ROUND(1 - s_sq / sst_n, 6) AS r2
    FROM res
    """,
)
def ml_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression evaluation suite — MAE / RMSE / MAPE / R² of the global
    OLS fit (extended price on quantity): the residual-metrics pass every
    model-quality dashboard needs next to the fit itself. Two passes over
    the fact table: sufficient-statistics aggregation (slope/intercept in
    closed form), then the fitted scalars broadcast back via cross join
    for one residual aggregation — no per-row model join, no iteration.
    Residual sums are floor-quantized (2dp absolute, integer squares,
    1e-8 relative), so every metric is bit-stable at any parallelism.
    R² is derived as 1 − SSR/SST from the same quantized moments."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(x * y).alias("sxy"),
        dsum(x * x).alias("sxx"),
        dsum(y * y).alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = (
        F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx", "syy")
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    fit = s.select(
        "n",
        "sy",
        "syy",
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
    )
    resid = y - (F.col("slope") * x + F.col("intercept"))
    r = (
        li.crossJoin(F.broadcast(fit))
        .groupBy("n", "slope", "intercept", "syy", "sy")
        .agg(
            dsum(F.abs(resid), 2).alias("s_abs"),
            dsum(resid * resid, 0).alias("s_sq"),
            dsum(F.abs(resid / y), 8).alias("s_ape"),
        )
    )
    nn = F.col("n")
    return r.select(
        nn.cast("bigint").alias("n"),
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round(F.col("s_abs") / nn, 6).alias("mae"),
        F.round(F.sqrt(F.col("s_sq") / nn), 6).alias("rmse"),
        F.round(100 * F.col("s_ape") / nn, 6).alias("mape_pct"),
        F.round(
            1 - F.col("s_sq") / (F.col("syy") - F.col("sy") * F.col("sy") / nn), 6
        ).alias("r2"),
    )


@register(
    "ml_spearman",
    """
    WITH spend AS (
        SELECT o_custkey,
               SUM(CAST(FLOOR(o_totalprice * 100.0) AS DECIMAL(28,0)))
                   AS spend_q
        FROM orders GROUP BY o_custkey
    ),
    base AS (
        SELECT c.c_nationkey AS nation, c.c_acctbal, s.spend_q
        FROM customer c JOIN spend s ON s.o_custkey = c.c_custkey
    ),
    r AS (
        SELECT nation,
               2 * RANK() OVER (PARTITION BY nation ORDER BY c_acctbal)
                   + COUNT(*) OVER (PARTITION BY nation, c_acctbal) - 1
                   AS rx2,
               2 * RANK() OVER (PARTITION BY nation ORDER BY spend_q)
                   + COUNT(*) OVER (PARTITION BY nation, spend_q) - 1
                   AS ry2,
               COUNT(*) OVER (PARTITION BY nation) AS n
        FROM base
    ),
    s AS (
        SELECT nation, CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(rx2) AS DOUBLE) AS sx,
               CAST(SUM(ry2) AS DOUBLE) AS sy,
               CAST(SUM(CAST(rx2 AS DECIMAL(19,0)) * ry2) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(rx2 AS DECIMAL(19,0)) * rx2) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(ry2 AS DECIMAL(19,0)) * ry2) AS DOUBLE) AS syy
        FROM r GROUP BY nation
    )
    SELECT nation, n,
           ROUND((n * sxy - sx * sy)
                 / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
               AS rho_spearman
    FROM s
    WHERE n >= 10
    ORDER BY nation
    """,
)
def ml_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Spearman rank correlation between a customer's account
    balance and their lifetime spend — Pearson on tie-averaged ranks, the
    robust monotone-association measure that survives heavy tails where
    raw Pearson saturates. Ranks are computed with PARTITIONED windows
    (nation), so the sort never degenerates to a single partition at
    scale; the tie-average rank is carried as the INTEGER 2*avg_rank =
    2*min_rank + tie_size - 1, making every sufficient statistic an exact
    integer sum (cross products in DECIMAL(19,0)*x for overflow headroom).
    Spend is floor-quantized cents so ranking never depends on double
    summation order. Two shuffles: the spend aggregate and the rank
    window."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0).cast("decimal(28,0)")
        ).alias("spend_q")
    )
    base = cust.join(
        spend, cust.c_custkey == spend.o_custkey, "inner"
    ).select(F.col("c_nationkey").alias("nation"), "c_acctbal", "spend_q")

    def rank2(col: str):
        wr = Window.partitionBy("nation").orderBy(col)
        wt = Window.partitionBy("nation", col)
        return (
            2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1
        )

    r = base.select(
        "nation",
        rank2("c_acctbal").alias("rx2"),
        rank2("spend_q").alias("ry2"),
        F.count(F.lit(1)).over(Window.partitionBy("nation")).alias("n"),
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")
    s = r.groupBy("nation").agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("rx2").cast("double").alias("sx"),
        F.sum("ry2").cast("double").alias("sy"),
        F.sum(d19("rx2") * F.col("ry2")).cast("double").alias("sxy"),
        F.sum(d19("rx2") * F.col("rx2")).cast("double").alias("sxx"),
        F.sum(d19("ry2") * F.col("ry2")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    rho = (n * F.col("sxy") - sx * sy) / F.sqrt(
        (n * F.col("sxx") - sx * sx) * (n * F.col("syy") - sy * sy)
    )
    return (
        s.filter(n >= 10)
        .select("nation", "n", F.round(rho, 6).alias("rho_spearman"))
        .orderBy("nation")
    )


@register(
    "ts_ljung_box",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS HUGEINT))
                    AS HUGEINT) AS x
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
    ),
    st AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s FROM idx
    ),
    dev AS (
        SELECT rn, st.n AS n, (st.n * x - st.s) AS d FROM idx, st
    ),
    den AS (
        SELECT SUM(d * d) AS dd, MAX(n) AS n FROM dev
    ),
    num AS (
        SELECT k.k, SUM(a.d * b.d) AS nk
        FROM RANGE(1, 11) k(k)
        JOIN dev a ON TRUE
        JOIN dev b ON b.rn = a.rn - k.k
        GROUP BY k.k
    ),
    terms AS (
        SELECT num.k,
               CAST(FLOOR(
                   (CAST(nk AS DOUBLE) / CAST(dd AS DOUBLE))
                   * (CAST(nk AS DOUBLE) / CAST(dd AS DOUBLE))
                   / (CAST(den.n AS DOUBLE) - num.k) * 1e12) AS BIGINT)
                   AS tq
        FROM num, den
    )
    SELECT CAST(MAX(den.n) AS BIGINT) AS n_days,
           CAST(10 AS INT) AS n_lags,
           ROUND(CAST(MAX(den.n) AS DOUBLE)
                 * (CAST(MAX(den.n) AS DOUBLE) + 2.0)
                 * SUM(tq) / 1e12, 4) AS q_stat
    FROM terms, den
    """,
)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau statistic Q = n(n+2) * sum_k r_k^2/(n-k) over
    lags 1..10 of the daily revenue series — the standard "is there ANY
    serial structure left" white-noise test run on forecast residuals.
    Exactness discipline: with integer daily revenue x and S = sum(x),
    the lag-k autocorrelation numerator and denominator are computed on
    n*x_t - S (an INTEGER deviation — no rational mean ever touches the
    accumulators), so every moment is an exact 128-bit sum; each double
    term r_k^2/(n-k) is then floor-quantized at 1e-12 before the 10-term
    sum so cross-row double accumulation order cannot flip a bit. The
    lag pairing is one equi-join of the |days|-row deviation frame on
    rn-k = rn (10 lags exploded join-side); everything upstream is the
    daily rollup aggregate (session-pinned: :func:`daily_revenue_pinned`)."""
    daily = daily_revenue_pinned(spark, sf_dir)
    idx = daily.select(
        "x", F.row_number().over(Window.orderBy("day")).alias("rn")
    )
    st = idx.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("s"),
    )
    dev = idx.crossJoin(F.broadcast(st)).select(
        "rn", "n", (F.col("n") * F.col("x") - F.col("s")).alias("d")
    )
    den = dev.agg(
        F.sum(F.col("d") * F.col("d")).alias("dd"), F.max("n").alias("n")
    )
    a = dev.select(F.col("rn").alias("arn"), F.col("d").alias("ad"))
    b = dev.select(F.col("rn").alias("brn"), F.col("d").alias("bd"))
    ks = spark.range(1, 11).select(F.col("id").cast("int").alias("k"))
    num = (
        a.crossJoin(F.broadcast(ks))
        .join(b, F.col("brn") == F.col("arn") - F.col("k"))
        .groupBy("k")
        .agg(F.sum(F.col("ad") * F.col("bd")).alias("nk"))
    )
    rk = F.col("nk").cast("double") / F.col("dd").cast("double")
    terms = num.crossJoin(F.broadcast(den)).select(
        "k",
        F.floor(rk * rk / (F.col("n").cast("double") - F.col("k")) * 1e12)
        .cast("long")
        .alias("tq"),
        F.col("n"),
    )
    nd = F.max("n").cast("double")
    return terms.agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.lit(10).cast("int").alias("n_lags"),
        F.round(nd * (nd + 2.0) * F.sum("tq") / 1e12, 4).alias("q_stat"),
    )


@register(
    "ml_decision_stump",
    """
    WITH b AS (
        SELECT CAST(FLOOR(value) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase')
                    AS BIGINT) AS pos
        FROM events GROUP BY 1
    ), c AS (
        SELECT v, n, pos,
               SUM(n) OVER (ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS nl,
               SUM(pos) OVER (ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS pl,
               SUM(n) OVER () AS nt, SUM(pos) OVER () AS pt
        FROM b
    ), cand AS (
        -- split: predict positive when value >= v (left = below threshold)
        SELECT v AS threshold, COALESCE(nl, 0) AS nl, COALESCE(pl, 0) AS pl,
               nt, pt, nt - COALESCE(nl, 0) AS nr, pt - COALESCE(pl, 0) AS pr
        FROM c WHERE COALESCE(nl, 0) > 0 AND nt - COALESCE(nl, 0) > 0
    ), scored AS (
        SELECT threshold, nl, nr, pl, pr, nt,
               CAST(FLOOR((
                   (CAST(nl AS DOUBLE)
                    - (CAST(pl * pl AS DOUBLE)
                       + CAST((nl - pl) * (nl - pl) AS DOUBLE))
                      / CAST(nl AS DOUBLE))
                 + (CAST(nr AS DOUBLE)
                    - (CAST(pr * pr AS DOUBLE)
                       + CAST((nr - pr) * (nr - pr) AS DOUBLE))
                      / CAST(nr AS DOUBLE))
               ) / CAST(nt AS DOUBLE) * 1000000000.0) AS BIGINT) AS gini_q
        FROM cand
    )
    SELECT CAST(threshold AS DOUBLE) AS best_threshold,
           ROUND(gini_q / 1000000000.0, 6) AS gini,
           CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
           ROUND(CAST((nl - pl) + pr AS DOUBLE) / nt, 6) AS accuracy
    FROM scored ORDER BY gini_q, threshold LIMIT 1
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single-feature decision stump: the threshold on ``value``
    minimizing weighted Gini impurity for predicting a purchase event —
    the depth-1 tree fit, and the candidate-split kernel every
    distributed tree learner (XGBoost/LightGBM-style histogram split
    finding) evaluates per feature. Shape: ONE grouped count compresses
    the fact table to integer-valued histogram bins (shuffle ∝ distinct
    bins, never rows — exactly the histogram trick GBDT systems use),
    then cumulative window sums turn each bin boundary into a candidate
    split with exact integer left/right class counts; the Gini score is
    a fixed-form double quantized to nano-units so the argmin is an
    integer ORDER BY — bit-stable tie-breaking at any parallelism.
    The window runs on the tiny bin frame; at 100 TB only the first
    grouped count touches the data."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy(F.floor("value").cast("bigint").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(F.col("event_type") == "purchase").cast("bigint").alias("pos"),
    )
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = b.select(
        "v",
        F.coalesce(F.sum("n").over(wcum), F.lit(0)).alias("nl"),
        F.coalesce(F.sum("pos").over(wcum), F.lit(0)).alias("pl"),
        F.sum("n").over(wall).alias("nt"),
        F.sum("pos").over(wall).alias("pt"),
    )
    cand = c.filter((F.col("nl") > 0) & (F.col("nt") - F.col("nl") > 0)).select(
        F.col("v").alias("threshold"),
        "nl",
        "pl",
        "nt",
        (F.col("nt") - F.col("nl")).alias("nr"),
        (F.col("pt") - F.col("pl")).alias("pr"),
    )
    d = lambda col: col.cast("double")  # noqa: E731
    nl, pl, nr, pr, nt = (F.col(x) for x in ("nl", "pl", "nr", "pr", "nt"))
    gini = (
        (d(nl) - (d(pl * pl) + d((nl - pl) * (nl - pl))) / d(nl))
        + (d(nr) - (d(pr * pr) + d((nr - pr) * (nr - pr))) / d(nr))
    ) / d(nt)
    scored = cand.select(
        "threshold",
        "nl",
        "nr",
        "pl",
        "pr",
        "nt",
        F.floor(gini * 1000000000.0).cast("bigint").alias("gini_q"),
    )
    return (
        scored.orderBy("gini_q", "threshold")
        .limit(1)
        .select(
            F.col("threshold").cast("double").alias("best_threshold"),
            F.round(F.col("gini_q") / 1000000000.0, 6).alias("gini"),
            F.col("nl").cast("bigint").alias("n_left"),
            F.col("nr").cast("bigint").alias("n_right"),
            F.round(d((nl - pl) + pr) / nt, 6).alias("accuracy"),
        )
    )


@register(
    "ml_naive_bayes",
    """
    WITH train AS (
        SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0
    ), test AS (
        SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 1
    ), ttok AS (
        SELECT lang AS cls, UNNEST(STR_SPLIT(text, ' ')) AS tok FROM train
    ), counts AS (
        SELECT cls, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ttok GROUP BY 1, 2
    ), ctot AS (
        SELECT cls, CAST(SUM(cnt) AS BIGINT) AS tot FROM counts GROUP BY 1
    ), vocab AS (
        SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM ttok
    ), prior AS (
        SELECT lang AS cls,
               CAST(FLOOR(LN(CAST(COUNT(*) AS DOUBLE)
                             / (SELECT COUNT(*) FROM train)) * 1e6)
                    AS BIGINT) AS prior_q
        FROM train GROUP BY 1
    ), stok AS (
        SELECT doc_id, UNNEST(STR_SPLIT(text, ' ')) AS tok FROM test
    ), scoredtok AS (
        SELECT s.doc_id, ct.cls,
               CAST(FLOOR(LN(CAST(COALESCE(c.cnt, 0) + 1 AS DOUBLE)
                             / (ct.tot + vocab.v)) * 1e6) AS BIGINT) AS lp_q
        FROM stok s
        CROSS JOIN ctot ct CROSS JOIN vocab
        LEFT JOIN counts c ON c.cls = ct.cls AND c.tok = s.tok
    ), docscore AS (
        SELECT sc.doc_id, sc.cls,
               SUM(sc.lp_q) + MAX(p.prior_q) AS score_q
        FROM scoredtok sc JOIN prior p ON p.cls = sc.cls
        GROUP BY 1, 2
    ), pred AS (
        SELECT doc_id, cls AS predicted
        FROM (SELECT doc_id, cls,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY score_q DESC, cls) AS rn
              FROM docscore) t
        WHERE rn = 1
    )
    SELECT t.lang,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(COUNT(*) FILTER (WHERE p.predicted = t.lang) AS BIGINT)
               AS n_correct,
           ROUND(CAST(COUNT(*) FILTER (WHERE p.predicted = t.lang) AS DOUBLE)
                 / COUNT(*), 6) AS accuracy
    FROM test t JOIN pred p ON p.doc_id = t.doc_id
    GROUP BY 1 ORDER BY t.lang
    """,
)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes language classifier trained AND evaluated
    inside the engine: fit token likelihoods (+1 Laplace smoothing) and
    class priors on even doc_ids, classify the odd half, report per-class
    accuracy — train and inference as two aggregation passes, the way
    NB actually scales (the "model" is a counts table, never a driver
    object). Determinism: every log-probability is floor-quantized to
    integer micro-nats BEFORE the per-document sum, so scores are exact
    integers and the argmax (with class-name tie-break) is stable at any
    parallelism. Scale shape: the model build shuffles ∝ distinct
    (class, token); inference is test-tokens × |classes| (a 5× fan-out)
    joined against the counts table — hash join on token, broadcastable
    whenever the vocabulary fits, and the per-doc reduce is one grouped
    sum. OOV tokens smooth to 1/(tot+V) per class, the textbook rule."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    ttok = train.select(
        F.col("lang").alias("cls"), F.explode(F.split("text", " ")).alias("tok")
    )
    counts = ttok.groupBy("cls", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    ctot = counts.groupBy("cls").agg(F.sum("cnt").cast("bigint").alias("tot"))
    vocab = ttok.agg(F.countDistinct("tok").cast("bigint").alias("v"))
    n_train = train.count()
    prior = train.groupBy(F.col("lang").alias("cls")).agg(
        F.floor(
            F.ln(F.count(F.lit(1)).cast("double") / F.lit(n_train)) * 1e6
        )
        .cast("bigint")
        .alias("prior_q")
    )
    stok = test.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    scoredtok = (
        stok.crossJoin(F.broadcast(ctot))
        .crossJoin(F.broadcast(vocab))
        .join(
            counts.withColumnRenamed("cls", "ccls").withColumnRenamed(
                "tok", "ctok"
            ),
            (F.col("ccls") == F.col("cls")) & (F.col("ctok") == F.col("tok")),
            "left",
        )
        .select(
            "doc_id",
            "cls",
            F.floor(
                F.ln(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double")
                    / (F.col("tot") + F.col("v"))
                )
                * 1e6
            )
            .cast("bigint")
            .alias("lp_q"),
        )
    )
    docscore = (
        scoredtok.join(F.broadcast(prior), "cls")
        .groupBy("doc_id", "cls")
        .agg((F.sum("lp_q") + F.max("prior_q")).alias("score_q"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_q").desc(), F.col("cls")
    )
    pred = (
        docscore.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cls").alias("predicted"))
    )
    return (
        test.join(pred, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.count_if(F.col("predicted") == F.col("lang"))
            .cast("bigint")
            .alias("n_correct"),
            F.round(
                F.count_if(F.col("predicted") == F.col("lang")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("accuracy"),
        )
        .orderBy("lang")
    )


@register(
    "ml_kfold_cv",
    """
    WITH t AS (
        SELECT CAST((l_orderkey * 2654435761 + l_linenumber * 97)
                    % 4294967296 % 5 AS INT) AS fold,
               l_quantity AS x, l_extendedprice AS y
        FROM lineitem
    ), fs AS (
        SELECT fold, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(x * 1e4) AS BIGINT)) AS BIGINT) AS sx_q,
               CAST(SUM(CAST(FLOOR(y * 1e4) AS BIGINT)) AS BIGINT) AS sy_q,
               CAST(SUM(CAST(FLOOR(x * x * 1e4) AS BIGINT)) AS BIGINT)
                   AS sxx_q,
               CAST(SUM(CAST(FLOOR(x * y * 1e4) AS BIGINT)) AS BIGINT)
                   AS sxy_q,
               CAST(SUM(CAST(FLOOR(y * y * 1e2) AS HUGEINT)) AS HUGEINT)
                   AS syy_q
        FROM t GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(sx_q) AS BIGINT) AS sx_q,
               CAST(SUM(sy_q) AS BIGINT) AS sy_q,
               CAST(SUM(sxx_q) AS BIGINT) AS sxx_q,
               CAST(SUM(sxy_q) AS BIGINT) AS sxy_q,
               CAST(SUM(syy_q) AS HUGEINT) AS syy_q
        FROM fs
    ), folds AS (
        -- train stats = totals minus the held-out fold (mergeable
        -- sufficient statistics: no second scan)
        SELECT f.fold,
               CAST(t.n - f.n AS BIGINT) AS n,
               (t.sx_q - f.sx_q) / 1e4 AS sx,
               (t.sy_q - f.sy_q) / 1e4 AS sy,
               (t.sxx_q - f.sxx_q) / 1e4 AS sxx,
               (t.sxy_q - f.sxy_q) / 1e4 AS sxy,
               f.n AS n_test, f.sx_q / 1e4 AS tx, f.sy_q / 1e4 AS ty,
               f.sxx_q / 1e4 AS txx, f.sxy_q / 1e4 AS txy,
               CAST(f.syy_q AS DOUBLE) / 1e2 AS tyy
        FROM fs f CROSS JOIN tot t
    ), fit AS (
        SELECT fold, n_test,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                   AS intercept
        FROM folds
    )
    SELECT f.fold,
           CAST(f.n_test AS BIGINT) AS n_test,
           ROUND(ft.slope, 4) AS slope,
           ROUND(ft.intercept, 4) AS intercept,
           ROUND(SQRT(GREATEST(0.0,
                 (f.tyy
                  - 2 * ft.slope * f.txy - 2 * ft.intercept * f.ty
                  + ft.slope * ft.slope * f.txx
                  + 2 * ft.slope * ft.intercept * f.tx
                  + f.n_test * ft.intercept * ft.intercept)
                 / f.n_test)), 4) AS test_rmse
    FROM folds f JOIN fit ft ON ft.fold = f.fold
    ORDER BY f.fold
    """,
)
def ml_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation of the OLS fit price ~ quantity with
    hash-assigned folds — and ZERO re-scans: per-fold sufficient
    statistics are computed once, and each fold's TRAINING stats are
    total-minus-fold (sufficient statistics are mergeable, so
    leave-fold-out is subtraction, the same property that makes them
    map-side combinable). Held-out RMSE expands Σ(y−a−bx)² into pure
    sufficient-statistic algebra — no per-row residual pass either.
    All sums are floor-quantized exact integers; fits and RMSE are
    fixed-form. Shape at 100 TB: ONE aggregation pass over the fact
    table (shuffle: 5 rows), then 5-row algebra — this is how CV
    actually scales, vs the naive 5× rescan."""
    li = load_table(spark, sf_dir, "lineitem")
    fold = (
        (F.col("l_orderkey") * 2654435761 + F.col("l_linenumber") * 97)
        % 4294967296
        % 5
    ).cast("int")
    t = li.select(
        fold.alias("fold"),
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )

    def qi(c, s):
        return F.sum(F.floor(c * s).cast("long")).cast("long")

    fs = t.groupBy("fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        qi(F.col("x"), 1e4).alias("sx_q"),
        qi(F.col("y"), 1e4).alias("sy_q"),
        qi(F.col("x") * F.col("x"), 1e4).alias("sxx_q"),
        qi(F.col("x") * F.col("y"), 1e4).alias("sxy_q"),
        F.sum(F.floor(F.col("y") * F.col("y") * 1e2).cast("decimal(38,0)"))
        .alias("syy_q"),
    )
    tot = fs.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("sx_q").cast("long").alias("tsx"),
        F.sum("sy_q").cast("long").alias("tsy"),
        F.sum("sxx_q").cast("long").alias("tsxx"),
        F.sum("sxy_q").cast("long").alias("tsxy"),
    )
    folds = fs.crossJoin(F.broadcast(tot)).select(
        "fold",
        (F.col("tn") - F.col("n")).cast("bigint").alias("n"),
        ((F.col("tsx") - F.col("sx_q")) / 1e4).alias("sx"),
        ((F.col("tsy") - F.col("sy_q")) / 1e4).alias("sy"),
        ((F.col("tsxx") - F.col("sxx_q")) / 1e4).alias("sxx"),
        ((F.col("tsxy") - F.col("sxy_q")) / 1e4).alias("sxy"),
        F.col("n").alias("n_test"),
        (F.col("sx_q") / 1e4).alias("tx"),
        (F.col("sy_q") / 1e4).alias("ty"),
        (F.col("sxx_q") / 1e4).alias("txx"),
        (F.col("sxy_q") / 1e4).alias("txy"),
        (F.col("syy_q").cast("double") / 1e2).alias("tyy"),
    )
    n = F.col("n")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    fit = folds.select(
        "fold",
        "n_test",
        "tx",
        "ty",
        "txx",
        "txy",
        "tyy",
        slope.alias("slope"),
        intercept.alias("intercept"),
    )
    sse = (
        F.col("tyy")
        - 2 * F.col("slope") * F.col("txy")
        - 2 * F.col("intercept") * F.col("ty")
        + F.col("slope") * F.col("slope") * F.col("txx")
        + 2 * F.col("slope") * F.col("intercept") * F.col("tx")
        + F.col("n_test") * F.col("intercept") * F.col("intercept")
    )
    return fit.select(
        "fold",
        F.col("n_test").cast("bigint").alias("n_test"),
        F.round("slope", 4).alias("slope"),
        F.round("intercept", 4).alias("intercept"),
        F.round(
            F.sqrt(F.greatest(F.lit(0.0), sse / F.col("n_test"))), 4
        ).alias("test_rmse"),
    ).orderBy("fold")


_PERM_STATS_SQL = """
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x1) AS BIGINT) AS s1,
               CAST(SUM(x2) AS BIGINT) AS s2,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x1 * x1) AS BIGINT) AS s11,
               CAST(SUM(x2 * x2) AS BIGINT) AS s22,
               CAST(SUM(x1 * x2) AS BIGINT) AS s12,
               CAST(SUM(x1 * y) AS BIGINT) AS s1y,
               CAST(SUM(x2 * y) AS BIGINT) AS s2y,
               CAST(SUM(y * y) AS BIGINT) AS syy
"""

_PERM_SOLVE_SQL = """
        SELECT '{label}' AS model,
               CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n AS a11,
               CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n AS a22,
               CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n AS a12,
               CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * sy / n AS b1,
               CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * sy / n AS b2,
               CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS sst
        FROM {src}
"""


@register(
    "ml_permutation_importance",
    f"""
    WITH base AS (
        SELECT CAST(LEN(STR_SPLIT(text, ' ')) AS BIGINT) AS x1,
               CAST(doc_id % 7 AS BIGINT) AS x2,
               n_chars AS y,
               ROW_NUMBER() OVER (ORDER BY doc_id) AS rk,
               ROW_NUMBER() OVER (
                   ORDER BY (doc_id * 2654435761) % 4294967296, doc_id)
                   AS rh
        FROM documents
    ), perm AS (
        SELECT a.x1, a.x2, a.y, b.x1 AS x1p, b.x2 AS x2p
        FROM base a JOIN base b ON b.rh = a.rk
    ), s_base AS ({_PERM_STATS_SQL} FROM (SELECT x1, x2, y FROM perm)),
    s_p1 AS ({_PERM_STATS_SQL} FROM (SELECT x1p AS x1, x2, y FROM perm)),
    s_p2 AS ({_PERM_STATS_SQL} FROM (SELECT x1, x2p AS x2, y FROM perm)),
    solved AS (
        {_PERM_SOLVE_SQL.format(label="base", src="s_base")}
        UNION ALL
        {_PERM_SOLVE_SQL.format(label="permute_words", src="s_p1")}
        UNION ALL
        {_PERM_SOLVE_SQL.format(label="permute_noise", src="s_p2")}
    ), r2s AS (
        SELECT model,
               ((b1 * a22 - b2 * a12) * b1 + (b2 * a11 - b1 * a12) * b2)
               / (a11 * a22 - a12 * a12) / sst AS r2
        FROM solved
    )
    SELECT model, ROUND(r2, 6) AS r2,
           ROUND((SELECT r2 FROM r2s WHERE model = 'base') - r2, 6) + 0.0
               AS importance
    FROM r2s ORDER BY model
    """,
)
def ml_permutation_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation feature importance for the two-feature OLS
    n_chars ~ word_count + noise (doc_id mod 7): refit with each
    feature column DETERMINISTICALLY permuted — rows re-paired by
    joining the row-number-by-key against the row-number-by-Knuth-hash,
    a fixed engine-independent shuffle with no RNG — and report the R²
    drop. Word count genuinely determines document length, the noise
    feature doesn't; permutation importance must separate them (and the
    test pins that it does). All features here are exact integers so
    every sufficient statistic is an exact integer sum; the 2×2
    normal-equation solve and R² are fixed-form algebra — hash-stable
    at any parallelism. Shape: two window ranks + one self-join on rank
    build the permuted pairing (two sorts — what a distributed
    permutation honestly costs), then ONE aggregation pass supplies all
    three models: a permuted column has the identical multiset, so its
    marginal moments (Σx, Σx²) equal the originals' and only the four
    cross-moments involving a permuted column need their own sums —
    14 sums in one map-side-combined pass instead of three aggregations
    each re-deriving the rank join (measured 3.1 → ~1.2 s at sf0.1).
    At 100 TB the rank join is a range-partitioned sort-merge join and
    the single stats pass is unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    # round-6 window-audit fix: both permutation ranks via the bucketed
    # two-level machinery (the old global row_numbers pushed every
    # document through one partition)
    base0 = docs.select(
        F.size(F.split("text", " ")).cast("bigint").alias("x1"),
        (F.col("doc_id") % 7).cast("bigint").alias("x2"),
        F.col("n_chars").alias("y"),
        F.col("doc_id"),
        ((F.col("doc_id") * 2654435761) % 4294967296).alias("h"),
    )
    base = with_global_order(
        with_global_order(base0, "doc_id", rank="rk"),
        "h",
        ["doc_id"],
        rank="rh",
    )
    a = base.select("x1", "x2", "y", "rk")
    b = base.select(
        F.col("x1").alias("x1p"), F.col("x2").alias("x2p"), F.col("rh")
    )
    perm = a.join(b, a["rk"] == b["rh"]).select("x1", "x2", "y", "x1p", "x2p")

    x1, x2, y = F.col("x1"), F.col("x2"), F.col("y")
    x1p, x2p = F.col("x1p"), F.col("x2p")
    s = perm.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x1).cast("bigint").alias("s1"),
        F.sum(x2).cast("bigint").alias("s2"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(x1 * x1).cast("bigint").alias("s11"),
        F.sum(x2 * x2).cast("bigint").alias("s22"),
        F.sum(x1 * x2).cast("bigint").alias("s12"),
        F.sum(x1 * y).cast("bigint").alias("s1y"),
        F.sum(x2 * y).cast("bigint").alias("s2y"),
        F.sum(y * y).cast("bigint").alias("syy"),
        # cross-moments that actually change under each permutation —
        # the permuted column's own Σx / Σx² equal the originals' by the
        # multiset identity, so no other sums are needed
        F.sum(x1p * x2).cast("bigint").alias("s12w"),
        F.sum(x1p * y).cast("bigint").alias("s1yw"),
        F.sum(x1 * x2p).cast("bigint").alias("s12n"),
        F.sum(x2p * y).cast("bigint").alias("s2yn"),
    ).localCheckpoint(eager=True)

    n = F.col("n")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    frames = [
        ("base", "s12", "s1y", "s2y"),
        ("permute_words", "s12w", "s1yw", "s2y"),
        ("permute_noise", "s12n", "s1y", "s2yn"),
    ]
    solved = None
    for label, c12, c1y, c2y in frames:
        row = s.select(
            F.lit(label).alias("model"),
            (d("s11") - d("s1") * F.col("s1") / n).alias("a11"),
            (d("s22") - d("s2") * F.col("s2") / n).alias("a22"),
            (d(c12) - d("s1") * F.col("s2") / n).alias("a12"),
            (d(c1y) - d("s1") * F.col("sy") / n).alias("b1"),
            (d(c2y) - d("s2") * F.col("sy") / n).alias("b2"),
            (d("syy") - d("sy") * F.col("sy") / n).alias("sst"),
        )
        solved = row if solved is None else solved.unionAll(row)
    r2 = (
        (
            (F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12"))
            * F.col("b1")
            + (F.col("b2") * F.col("a11") - F.col("b1") * F.col("a12"))
            * F.col("b2")
        )
        / (F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12"))
        / F.col("sst")
    )
    r2s = solved.select("model", r2.alias("r2"))
    base_r2 = r2s.filter(F.col("model") == "base").select(
        F.col("r2").alias("base_r2")
    )
    return (
        r2s.crossJoin(F.broadcast(base_r2))
        .select(
            "model",
            F.round("r2", 6).alias("r2"),
            (F.round(F.col("base_r2") - F.col("r2"), 6) + F.lit(0.0)).alias(
                "importance"
            ),
        )
        .orderBy("model")
    )


@register(
    "ml_learning_curve",
    """
    WITH t AS (
        SELECT doc_id,
               CAST(LEN(STR_SPLIT(text, ' ')) AS BIGINT) AS x,
               n_chars AS y,
               CAST((doc_id * 2654435761) % 4294967296 % 10 AS INT) AS bkt,
               CAST(doc_id % 5 = 4 AS INT) AS holdout
        FROM documents
    ), bs AS (
        SELECT bkt, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM t WHERE holdout = 0 GROUP BY 1
    ), sizes AS (SELECT UNNEST([2, 4, 6, 8, 10]) AS k),
    cum AS (
        SELECT s.k,
               CAST(SUM(b.n) AS BIGINT) AS n,
               CAST(SUM(b.sx) AS BIGINT) AS sx,
               CAST(SUM(b.sy) AS BIGINT) AS sy,
               CAST(SUM(b.sxx) AS BIGINT) AS sxx,
               CAST(SUM(b.sxy) AS BIGINT) AS sxy
        FROM bs b JOIN sizes s ON b.bkt < s.k
        GROUP BY s.k
    ), fit AS (
        SELECT k, n,
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS b,
               (CAST(sy AS DOUBLE)
                - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * sx) / n AS a
        FROM cum
    ), ho AS (
        SELECT f.k, f.n, f.a, f.b,
               CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(SUM(CAST(FLOOR(POW(t.y - f.a - f.b * t.x, 2.0) * 1e4)
                             AS BIGINT)) AS BIGINT) AS sse_q
        FROM t CROSS JOIN fit f
        WHERE t.holdout = 1
        GROUP BY f.k, f.n, f.a, f.b
    )
    SELECT CAST(k AS INT) AS n_buckets,
           CAST(n AS BIGINT) AS n_train,
           CAST(n_test AS BIGINT) AS n_test,
           ROUND(b, 6) AS slope,
           ROUND(a, 4) AS intercept,
           ROUND(SQRT(CAST(sse_q AS DOUBLE) / 1e4 / n_test), 4)
               AS holdout_rmse
    FROM ho ORDER BY n_buckets
    """,
)
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve WITHOUT rescans: the n_chars ~ word_count fit
    trained on nested 20/40/60/80/100% hash-bucket subsets, each
    evaluated on a fixed holdout — and every training fit comes from
    CUMULATIVE sums of per-bucket sufficient statistics (computed once;
    subset k is `bkt < k`, so bigger subsets strictly contain smaller
    ones, the property a real learning curve needs). One aggregation
    pass builds 10 bucket rows; the 5 fits are 5-row algebra; the
    holdout RMSE pass broadcasts 5 fitted lines over the holdout split
    with quantized squared-error sums. The diminishing-returns read —
    "will more data still buy accuracy" — at the cost of ONE scan plus
    one holdout pass, at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("x"),
        F.col("n_chars").alias("y"),
        ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) % 10)
        .cast("int")
        .alias("bkt"),
        (F.col("doc_id") % 5 == 4).cast("int").alias("holdout"),
    )
    bs = (
        t.filter(F.col("holdout") == 0)
        .groupBy("bkt")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        )
    )
    sizes = spark.createDataFrame([(2,), (4,), (6,), (8,), (10,)], "k: int")
    cum = (
        bs.join(F.broadcast(sizes), bs["bkt"] < sizes["k"])
        .groupBy("k")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("sx").cast("bigint").alias("sx"),
            F.sum("sy").cast("bigint").alias("sy"),
            F.sum("sxx").cast("bigint").alias("sxx"),
            F.sum("sxy").cast("bigint").alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    b = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    )
    fit = cum.select(
        "k",
        "n",
        b.alias("b"),
        ((F.col("sy").cast("double") - b * F.col("sx")) / F.col("n")).alias(
            "a"
        ),
    )
    ho = (
        t.filter(F.col("holdout") == 1)
        .crossJoin(F.broadcast(fit))
        .groupBy("k", "n", "a", "b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                F.floor(
                    F.pow(
                        F.col("y") - F.col("a") - F.col("b") * F.col("x"),
                        2.0,
                    )
                    * 1e4
                ).cast("long")
            )
            .cast("bigint")
            .alias("sse_q"),
        )
    )
    return ho.select(
        F.col("k").cast("int").alias("n_buckets"),
        F.col("n").cast("bigint").alias("n_train"),
        F.col("n_test").cast("bigint").alias("n_test"),
        F.round("b", 6).alias("slope"),
        F.round("a", 4).alias("intercept"),
        F.round(
            F.sqrt(F.col("sse_q").cast("double") / 1e4 / F.col("n_test")), 4
        ).alias("holdout_rmse"),
    ).orderBy("n_buckets")


@register(
    "ml_linear_attribution",
    """
    WITH t AS (
        SELECT doc_id,
               CAST(LEN(STR_SPLIT(text, ' ')) AS BIGINT) AS x1,
               CAST(doc_id % 7 AS BIGINT) AS x2,
               n_chars AS y
        FROM documents
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x1 * x1) AS BIGINT) AS s11,
               CAST(SUM(x2 * x2) AS BIGINT) AS s22,
               CAST(SUM(x1 * x2) AS BIGINT) AS s12,
               CAST(SUM(x1 * y) AS BIGINT) AS s1y,
               CAST(SUM(x2 * y) AS BIGINT) AS s2y
        FROM t
    ), fit AS (
        SELECT n, CAST(s1 AS DOUBLE) / n AS m1, CAST(s2 AS DOUBLE) / n AS m2,
               CAST(sy AS DOUBLE) / n AS my,
               ((CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * sy / n)
                * (CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n)
                - (CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * sy / n)
                  * (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n))
               / ((CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                  * (CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n)
                  - POW(CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n,
                        2.0)) AS b1,
               ((CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * sy / n)
                * (CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                - (CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * sy / n)
                  * (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n))
               / ((CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                  * (CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n)
                  - POW(CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n,
                        2.0)) AS b2
        FROM s
    ), attributed AS (
        SELECT t.doc_id,
               ROUND(fit.my + fit.b1 * (t.x1 - fit.m1)
                     + fit.b2 * (t.x2 - fit.m2), 4) AS prediction,
               ROUND(fit.my, 4) AS baseline,
               ROUND(fit.b1 * (t.x1 - fit.m1), 4) AS contrib_words,
               ROUND(fit.b2 * (t.x2 - fit.m2), 4) AS contrib_noise,
               t.y AS actual
        FROM t CROSS JOIN fit
    )
    SELECT * FROM attributed ORDER BY doc_id LIMIT 25
    """,
)
def ml_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-feature attribution for a linear model — for OLS the
    Shapley decomposition is closed-form: prediction = ȳ (baseline)
    + Σⱼ bⱼ(xⱼ − x̄ⱼ), so each feature's contribution is its
    coefficient times its deviation from the mean, and contributions
    sum EXACTLY to prediction − baseline (the identity the test pins).
    Fit the two-feature model (word count + noise) from exact integer
    sufficient statistics, broadcast the 1-row fit, decompose the
    first 25 docs — the explainability surface (SHAP for linear
    models) with zero sampling. One aggregation + one broadcast
    map pass at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("x1"),
        (F.col("doc_id") % 7).cast("bigint").alias("x2"),
        F.col("n_chars").alias("y"),
    )
    s = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("s12"),
        F.sum(F.col("x1") * F.col("y")).cast("bigint").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("bigint").alias("s2y"),
    )
    nd = F.col("n").cast("double")
    a11 = F.col("s11").cast("double") - F.col("s1").cast("double") * F.col("s1") / nd
    a22 = F.col("s22").cast("double") - F.col("s2").cast("double") * F.col("s2") / nd
    a12 = F.col("s12").cast("double") - F.col("s1").cast("double") * F.col("s2") / nd
    b1v = F.col("s1y").cast("double") - F.col("s1").cast("double") * F.col("sy") / nd
    b2v = F.col("s2y").cast("double") - F.col("s2").cast("double") * F.col("sy") / nd
    det = a11 * a22 - F.pow(a12, 2.0)
    fit = s.select(
        (F.col("s1").cast("double") / nd).alias("m1"),
        (F.col("s2").cast("double") / nd).alias("m2"),
        (F.col("sy").cast("double") / nd).alias("my"),
        ((b1v * a22 - b2v * a12) / det).alias("b1"),
        ((b2v * a11 - b1v * a12) / det).alias("b2"),
    )
    attributed = t.crossJoin(F.broadcast(fit)).select(
        "doc_id",
        F.round(
            F.col("my")
            + F.col("b1") * (F.col("x1") - F.col("m1"))
            + F.col("b2") * (F.col("x2") - F.col("m2")),
            4,
        ).alias("prediction"),
        F.round("my", 4).alias("baseline"),
        F.round(F.col("b1") * (F.col("x1") - F.col("m1")), 4).alias(
            "contrib_words"
        ),
        F.round(F.col("b2") * (F.col("x2") - F.col("m2")), 4).alias(
            "contrib_noise"
        ),
        F.col("y").alias("actual"),
    )
    return attributed.orderBy("doc_id").limit(25)


@register(
    "ml_conformal_interval",
    """
    WITH t AS (
        SELECT doc_id,
               CAST(LEN(STR_SPLIT(text, ' ')) AS BIGINT) AS x,
               n_chars AS y,
               CAST(doc_id % 2 AS INT) AS split
        FROM documents
    ), s AS (
        -- fit on the calibration half (even ids)
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM t WHERE split = 0
    ), fit AS (
        SELECT (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS b,
               (CAST(sy AS DOUBLE)
                - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * sx) / n AS a
        FROM s
    ), cal AS (
        SELECT CAST(FLOOR(ABS(t.y - fit.a - fit.b * t.x) * 1e4) AS BIGINT)
                   AS r_q
        FROM t CROSS JOIN fit WHERE t.split = 0
    ), qhat AS (
        SELECT r_q AS q_quant, n FROM (
            SELECT r_q, ROW_NUMBER() OVER (ORDER BY r_q) AS rn,
                   COUNT(*) OVER () AS n
            FROM cal
        ) z WHERE rn = CAST(CEIL(0.9 * (n + 1)) AS BIGINT)
    ), test AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(COUNT(*) FILTER (
                   WHERE CAST(FLOOR(ABS(t.y - fit.a - fit.b * t.x) * 1e4)
                              AS BIGINT) <= qhat.q_quant) AS BIGINT)
                   AS covered
        FROM t CROSS JOIN fit CROSS JOIN qhat
        WHERE t.split = 1
        GROUP BY qhat.q_quant
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM qhat) AS n_calibration,
           test.n_test,
           ROUND((SELECT q_quant FROM qhat) / 1e4, 4) AS interval_halfwidth,
           ROUND(CAST(test.covered AS DOUBLE) / test.n_test, 6)
               AS test_coverage
    FROM test
    """,
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the n_chars ~ word_count
    model at 90% nominal coverage: fit on the calibration half, take
    the ⌈0.9(n+1)⌉-th smallest absolute calibration residual as the
    interval half-width q̂, and report REALIZED coverage on the held
    half — the distribution-free uncertainty quantification with a
    finite-sample guarantee (coverage ≥ 90% in expectation, no
    normality assumed; the test pins realized coverage near nominal).
    Residuals are floor-quantized so the order statistic is an integer
    selection; the fit is exact sufficient statistics. One aggregation,
    one rank window on the calibration residuals, one broadcast
    coverage pass — conformal inference at warehouse scale."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("x"),
        F.col("n_chars").alias("y"),
        (F.col("doc_id") % 2).cast("int").alias("split"),
    )
    cal_half = t.filter(F.col("split") == 0)
    s = cal_half.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    b = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    )
    fit = s.select(
        b.alias("b"),
        ((F.col("sy").cast("double") - b * F.col("sx")) / F.col("n")).alias(
            "a"
        ),
    )
    resid_q = F.floor(
        F.abs(F.col("y") - F.col("a") - F.col("b") * F.col("x")) * 1e4
    ).cast("long")
    cal = cal_half.crossJoin(F.broadcast(fit)).select(resid_q.alias("r_q"))
    # round-6 window-audit fix: the q-hat order statistic reads off the
    # residual-histogram bucketed two-level cumulative, never a raw-row
    # global row_number
    hist = cal.groupBy("r_q").agg(F.count(F.lit(1)).cast("long").alias("c"))
    ncal = hist.agg(F.sum("c").cast("long").alias("n"))
    qhat = (
        with_global_order(hist, "r_q", cumsums={"cc": "c"})
        .crossJoin(F.broadcast(ncal))
        .filter(F.col("cc") >= F.ceil(0.9 * (F.col("n") + 1)).cast("bigint"))
        .agg(F.min("r_q").alias("q_quant"), F.max("n").alias("n_cal"))
    )
    test = (
        t.filter(F.col("split") == 1)
        .crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(qhat))
        .groupBy("q_quant", "n_cal")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.count_if(resid_q <= F.col("q_quant"))
            .cast("bigint")
            .alias("covered"),
        )
    )
    return test.select(
        F.col("n_cal").cast("bigint").alias("n_calibration"),
        "n_test",
        F.round(F.col("q_quant") / 1e4, 4).alias("interval_halfwidth"),
        F.round(
            F.col("covered").cast("double") / F.col("n_test"), 6
        ).alias("test_coverage"),
    )


@register(
    "ml_lda_probe",
    """
    WITH t AS (
        SELECT label,
               CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT)
                   AS f1,
               CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 1e6) AS BIGINT)
                   AS f2
        FROM embeddings WHERE label IN (0, 1)
    ), g AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(f1) AS BIGINT) AS s1, CAST(SUM(f2) AS BIGINT) AS s2,
               CAST(SUM(f1 * f1) AS BIGINT) AS s11,
               CAST(SUM(f2 * f2) AS BIGINT) AS s22,
               CAST(SUM(f1 * f2) AS BIGINT) AS s12
        FROM t GROUP BY 1
    ), wide AS (
        SELECT MAX(CASE WHEN label = 0 THEN n END) AS n0,
               MAX(CASE WHEN label = 1 THEN n END) AS n1,
               MAX(CASE WHEN label = 0 THEN CAST(s1 AS DOUBLE) / n END) AS m01,
               MAX(CASE WHEN label = 0 THEN CAST(s2 AS DOUBLE) / n END) AS m02,
               MAX(CASE WHEN label = 1 THEN CAST(s1 AS DOUBLE) / n END) AS m11,
               MAX(CASE WHEN label = 1 THEN CAST(s2 AS DOUBLE) / n END) AS m12,
               SUM(CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) AS w11,
               SUM(CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n) AS w22,
               SUM(CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n) AS w12
        FROM g
    ), fisher AS (
        -- w = Sw^-1 (m1 - m0), 2x2 closed form
        SELECT *,
               (w22 * (m11 - m01) - w12 * (m12 - m02))
               / (w11 * w22 - w12 * w12) AS wa,
               (w11 * (m12 - m02) - w12 * (m11 - m01))
               / (w11 * w22 - w12 * w12) AS wb
        FROM wide
    ), scored AS (
        SELECT t.label,
               f.wa * t.f1 + f.wb * t.f2 AS proj,
               f.wa * (f.m01 + f.m11) / 2.0
               + f.wb * (f.m02 + f.m12) / 2.0 AS thresh,
               CAST(f.wa * (f.m11 - f.m01) + f.wb * (f.m12 - f.m02)
                    >= 0 AS INT) AS pos_is_1
        FROM t CROSS JOIN fisher f
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE label = 1) AS BIGINT) AS n_class1,
           ROUND(CAST(COUNT(*) FILTER (
                 WHERE (CASE WHEN pos_is_1 = 1
                             THEN CAST(proj >= thresh AS INT)
                             ELSE CAST(proj < thresh AS INT) END) = label)
                 AS DOUBLE) / COUNT(*), 6) AS lda_accuracy
    FROM scored
    """,
)
def ml_lda_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher linear-discriminant probe on the first two embedding
    dimensions for classes 0 vs 1: the 2×2 within-class scatter
    inverts in closed form, giving w = S_w⁻¹(μ₁−μ₀) and a midpoint
    threshold with zero iteration — the linear-probe methodology that
    asks "is this information LINEARLY decodable from these features"
    (here: near-chance accuracy is the correct answer for isotropic
    synthetic embeddings, and the test pins that). Features are
    micro-quantized integers so every scatter moment is exact; the
    probe and its accuracy are fixed-form. One grouped pass + a 1-row
    broadcast scoring pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    t = emb.filter(F.col("label").isin(0, 1)).select(
        "label",
        F.floor(F.element_at("embedding", 1).cast("double") * 1e6)
        .cast("long")
        .alias("f1"),
        F.floor(F.element_at("embedding", 2).cast("double") * 1e6)
        .cast("long")
        .alias("f2"),
    )
    g = t.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("f1").cast("bigint").alias("s1"),
        F.sum("f2").cast("bigint").alias("s2"),
        F.sum(F.col("f1") * F.col("f1")).cast("bigint").alias("s11"),
        F.sum(F.col("f2") * F.col("f2")).cast("bigint").alias("s22"),
        F.sum(F.col("f1") * F.col("f2")).cast("bigint").alias("s12"),
    )

    def pick(lbl, expr):
        return F.max(F.when(F.col("label") == lbl, expr))

    nd = F.col("n").cast("double")
    wide = g.agg(
        pick(0, F.col("n")).alias("n0"),
        pick(1, F.col("n")).alias("n1"),
        pick(0, F.col("s1").cast("double") / nd).alias("m01"),
        pick(0, F.col("s2").cast("double") / nd).alias("m02"),
        pick(1, F.col("s1").cast("double") / nd).alias("m11"),
        pick(1, F.col("s2").cast("double") / nd).alias("m12"),
        F.sum(
            F.col("s11").cast("double") - F.col("s1").cast("double") * F.col("s1") / nd
        ).alias("w11"),
        F.sum(
            F.col("s22").cast("double") - F.col("s2").cast("double") * F.col("s2") / nd
        ).alias("w22"),
        F.sum(
            F.col("s12").cast("double") - F.col("s1").cast("double") * F.col("s2") / nd
        ).alias("w12"),
    )
    det = F.col("w11") * F.col("w22") - F.col("w12") * F.col("w12")
    fisher = wide.select(
        "*",
        (
            (F.col("w22") * (F.col("m11") - F.col("m01"))
             - F.col("w12") * (F.col("m12") - F.col("m02")))
            / det
        ).alias("wa"),
        (
            (F.col("w11") * (F.col("m12") - F.col("m02"))
             - F.col("w12") * (F.col("m11") - F.col("m01")))
            / det
        ).alias("wb"),
    )
    scored = t.crossJoin(F.broadcast(fisher)).select(
        "label",
        (F.col("wa") * F.col("f1") + F.col("wb") * F.col("f2")).alias("proj"),
        (
            F.col("wa") * (F.col("m01") + F.col("m11")) / 2.0
            + F.col("wb") * (F.col("m02") + F.col("m12")) / 2.0
        ).alias("thresh"),
        (
            F.col("wa") * (F.col("m11") - F.col("m01"))
            + F.col("wb") * (F.col("m12") - F.col("m02"))
            >= 0
        )
        .cast("int")
        .alias("pos_is_1"),
    )
    pred = F.when(
        F.col("pos_is_1") == 1, (F.col("proj") >= F.col("thresh")).cast("int")
    ).otherwise((F.col("proj") < F.col("thresh")).cast("int"))
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(F.col("label") == 1).cast("bigint").alias("n_class1"),
        F.round(
            F.count_if(pred == F.col("label")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("lda_accuracy"),
    )


@register(
    "ml_ridge_path",
    f"""
    WITH s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               {sql_dsum('l_quantity')} AS sq,
               {sql_dsum('l_discount')} AS sd,
               {sql_dsum('l_extendedprice')} AS sy,
               {sql_dsum('l_quantity * l_quantity')} AS sqq,
               {sql_dsum('l_quantity * l_discount')} AS sqd,
               {sql_dsum('l_discount * l_discount')} AS sdd,
               {sql_dsum('l_quantity * l_extendedprice')} AS sqy,
               {sql_dsum('l_discount * l_extendedprice')} AS sdy,
               {sql_dsum('l_extendedprice * l_extendedprice')} AS syy
        FROM lineitem
    ), c AS (
        SELECT n,
               sqq - sq * sq / n AS cqq,
               sqd - sq * sd / n AS cqd,
               sdd - sd * sd / n AS cdd,
               sqy - sq * sy / n AS cqy,
               sdy - sd * sy / n AS cdy,
               syy - sy * sy / n AS cyy,
               sq / n AS mq, sd / n AS md, sy / n AS my
        FROM s
    ), lam AS (
        SELECT UNNEST([0.0, 1000.0, 100000.0]) AS lambda
    )
    SELECT lam.lambda,
           ROUND(((cdd + lam.lambda) * cqy - cqd * cdy)
                 / ((cqq + lam.lambda) * (cdd + lam.lambda) - cqd * cqd), 6)
               AS beta_qty,
           ROUND(((cqq + lam.lambda) * cdy - cqd * cqy)
                 / ((cqq + lam.lambda) * (cdd + lam.lambda) - cqd * cqd), 6)
               AS beta_disc,
           ROUND(my
                 - ((cdd + lam.lambda) * cqy - cqd * cdy)
                   / ((cqq + lam.lambda) * (cdd + lam.lambda) - cqd * cqd) * mq
                 - ((cqq + lam.lambda) * cdy - cqd * cqy)
                   / ((cqq + lam.lambda) * (cdd + lam.lambda) - cqd * cqd) * md,
                 4) AS intercept,
           ROUND((cyy
                  - 2 * (((cdd + lam.lambda) * cqy - cqd * cdy)
                         / ((cqq + lam.lambda) * (cdd + lam.lambda)
                            - cqd * cqd)) * cqy
                  - 2 * (((cqq + lam.lambda) * cdy - cqd * cqy)
                         / ((cqq + lam.lambda) * (cdd + lam.lambda)
                            - cqd * cqd)) * cdy
                  + (((cdd + lam.lambda) * cqy - cqd * cdy)
                     / ((cqq + lam.lambda) * (cdd + lam.lambda) - cqd * cqd))
                    * (((cdd + lam.lambda) * cqy - cqd * cdy)
                       / ((cqq + lam.lambda) * (cdd + lam.lambda) - cqd * cqd))
                    * cqq
                  + 2 * (((cdd + lam.lambda) * cqy - cqd * cdy)
                         / ((cqq + lam.lambda) * (cdd + lam.lambda)
                            - cqd * cqd))
                      * (((cqq + lam.lambda) * cdy - cqd * cqy)
                         / ((cqq + lam.lambda) * (cdd + lam.lambda)
                            - cqd * cqd)) * cqd
                  + (((cqq + lam.lambda) * cdy - cqd * cqy)
                     / ((cqq + lam.lambda) * (cdd + lam.lambda) - cqd * cqd))
                    * (((cqq + lam.lambda) * cdy - cqd * cqy)
                       / ((cqq + lam.lambda) * (cdd + lam.lambda) - cqd * cqd))
                    * cdd) / n, 4) AS train_mse
    FROM c CROSS JOIN lam
    ORDER BY lam.lambda
    """,
)
def ml_ridge_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge-regression regularization path: extended price on (quantity,
    discount) at λ ∈ {0, 10³, 10⁵}, solved in closed form from the
    centered 2×2 normal equations (XᵀX + λI)β = Xᵀy — λ = 0 recovers
    OLS, so the path shows the coefficient shrinkage and the bias/
    variance trade a tuner reads. Everything flows from ONE pass of
    quantized sufficient statistics (the ``ml_linreg``/``stats_vif``
    discipline); the per-λ solve and train-MSE (SSE/n via the quadratic
    form Syy − 2βᵀSxy + βᵀSβ) are identically-parenthesized scalar
    algebra replicated per grid row — no second scan, any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    q, dd, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    s = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum(q).alias("sq"),
        dsum(dd).alias("sd"),
        dsum(y).alias("sy"),
        dsum(q * q).alias("sqq"),
        dsum(q * dd).alias("sqd"),
        dsum(dd * dd).alias("sdd"),
        dsum(q * y).alias("sqy"),
        dsum(dd * y).alias("sdy"),
        dsum(y * y).alias("syy"),
    )
    n = F.col("n")
    c = s.select(
        n,
        (F.col("sqq") - F.col("sq") * F.col("sq") / n).alias("cqq"),
        (F.col("sqd") - F.col("sq") * F.col("sd") / n).alias("cqd"),
        (F.col("sdd") - F.col("sd") * F.col("sd") / n).alias("cdd"),
        (F.col("sqy") - F.col("sq") * F.col("sy") / n).alias("cqy"),
        (F.col("sdy") - F.col("sd") * F.col("sy") / n).alias("cdy"),
        (F.col("syy") - F.col("sy") * F.col("sy") / n).alias("cyy"),
        (F.col("sq") / n).alias("mq"),
        (F.col("sd") / n).alias("md"),
        (F.col("sy") / n).alias("my"),
    )
    lam = spark.createDataFrame(
        [(0.0,), (1000.0,), (100000.0,)], ["lambda"]
    )
    t = c.crossJoin(F.broadcast(lam))
    l_ = F.col("lambda")
    det = (F.col("cqq") + l_) * (F.col("cdd") + l_) - F.col("cqd") * F.col("cqd")
    bq = ((F.col("cdd") + l_) * F.col("cqy") - F.col("cqd") * F.col("cdy")) / det
    bd = ((F.col("cqq") + l_) * F.col("cdy") - F.col("cqd") * F.col("cqy")) / det
    sse = (
        F.col("cyy")
        - 2 * bq * F.col("cqy")
        - 2 * bd * F.col("cdy")
        + bq * bq * F.col("cqq")
        + 2 * bq * bd * F.col("cqd")
        + bd * bd * F.col("cdd")
    )
    return t.select(
        l_.alias("lambda"),
        F.round(bq, 6).alias("beta_qty"),
        F.round(bd, 6).alias("beta_disc"),
        F.round(
            F.col("my") - bq * F.col("mq") - bd * F.col("md"), 4
        ).alias("intercept"),
        F.round(sse / n, 4).alias("train_mse"),
    ).orderBy("lambda")


#: Isotonic-calibration score buckets (bounded so the closed-form
#: minimax evaluation is O(B^3) over a broadcastable frame).
_ISO_B = 50


@register(
    "ml_isotonic_calibration",
    f"""
    WITH feats AS (
        SELECT n_chars,
               CAST(LEN(LIST_FILTER(STRING_SPLIT(TRIM(text), ' '),
                                    w -> w <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ), z AS (
        SELECT n_chars,
               -3.0 + 0.9 * LN(1.0 + CAST(n_tokens AS DOUBLE))
                    - 0.2 * (CAST(n_chars AS DOUBLE)
                             / CAST(n_tokens AS DOUBLE)) AS z
        FROM feats WHERE n_tokens > 0
    ), scored AS (
        SELECT ROUND(1.0 / (1.0 + EXP(-z)), 4) AS p,
               CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS y
        FROM z
    ), bucket AS (
        SELECT LEAST({_ISO_B - 1}, CAST(FLOOR(p * {_ISO_B}.0) AS INTEGER))
                   AS b,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS wy,
               CAST(SUM(CAST(FLOOR(p * 10000.0) AS BIGINT)) AS BIGINT) AS pq
        FROM scored GROUP BY b
    ), pref AS (
        SELECT b, n, wy, pq,
               SUM(n) OVER (ORDER BY b) AS cw,
               SUM(wy) OVER (ORDER BY b) AS cy
        FROM bucket
    ), pairs AS (
        SELECT j.b AS jb, k.b AS kb,
               (k.cy - (j.cy - j.wy))
                   / CAST(k.cw - (j.cw - j.n) AS DOUBLE) AS seg_avg
        FROM pref j JOIN pref k ON j.b <= k.b
    ), mins AS (
        SELECT i.b AS ib, p.jb, MIN(p.seg_avg) AS m
        FROM bucket i JOIN pairs p ON p.jb <= i.b AND p.kb >= i.b
        GROUP BY 1, 2
    ), fit AS (
        SELECT ib, MAX(m) AS iso FROM mins GROUP BY ib
    )
    SELECT CAST(bk.b AS BIGINT) AS bucket, bk.n,
           ROUND(bk.pq / 10000.0 / bk.n, 6) AS conf,
           ROUND(bk.wy / CAST(bk.n AS DOUBLE), 6) AS raw_rate,
           ROUND(f.iso, 6) AS iso_rate
    FROM bucket bk JOIN fit f ON f.ib = bk.b
    ORDER BY bucket
    """,
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAVA) calibration of the logistic quality scorer
    (mirrors ``ml_logistic_score``/``ml_calibration_error``'s features,
    completing the train–score–evaluate–CALIBRATE chain): the weighted
    monotone L2 fit over score buckets, computed via the minimax CLOSED
    FORM ŷ_i = max_{{j≤i}} min_{{k≥i}} avg(y, bucket j..k) (Ayer et al.
    '55) instead of the sequential pool-adjacent-violators loop — no
    iteration, so both engines evaluate the identical O(B³) join
    algebra over exact integer prefix sums (B = 50 buckets; ~2·10⁴
    tiny broadcast rows). Output: per-bucket mean confidence, raw
    empirical rate, and the monotone isotonic rate a serving stack
    would actually threshold on.

    Scale: raw docs reduce to ≤B rows in one partial/final aggregate;
    everything after is broadcast algebra on a B-row frame — the
    minimax form trades a driver-side sequential PAVA for distributable
    joins, the right trade when B is fixed and N is 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim(F.col("text")), " "), lambda w: w != F.lit(""))
    feats = docs.select(
        "n_chars", F.size(toks).cast("bigint").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    z = (
        F.lit(-3.0)
        + F.lit(0.9) * F.log(F.lit(1.0) + F.col("n_tokens").cast("double"))
        - F.lit(0.2)
        * (F.col("n_chars").cast("double") / F.col("n_tokens").cast("double"))
    )
    scored = feats.select(
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4).alias("p"),
        F.when(F.col("n_chars") >= 250, 1).otherwise(0).alias("y"),
    )
    bucket = scored.groupBy(
        F.least(
            F.lit(_ISO_B - 1), F.floor(F.col("p") * _ISO_B).cast("int")
        ).alias("b")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("wy"),
        F.sum(F.floor(F.col("p") * 10000.0).cast("bigint"))
        .cast("bigint")
        .alias("pq"),
    )
    wp = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    pref = bucket.select(
        "b",
        "n",
        "wy",
        "pq",
        F.sum("n").over(wp).alias("cw"),
        F.sum("wy").over(wp).alias("cy"),
    )
    j = pref.select(
        F.col("b").alias("jb"),
        (F.col("cw") - F.col("n")).alias("jpcw"),
        (F.col("cy") - F.col("wy")).alias("jpcy"),
    )
    k = pref.select(
        F.col("b").alias("kb"),
        F.col("cw").alias("kcw"),
        F.col("cy").alias("kcy"),
    )
    pairs = j.join(F.broadcast(k), F.col("jb") <= F.col("kb")).select(
        "jb",
        "kb",
        (
            (F.col("kcy") - F.col("jpcy"))
            / (F.col("kcw") - F.col("jpcw")).cast("double")
        ).alias("seg_avg"),
    )
    ivals = bucket.select(F.col("b").alias("ib"))
    mins = (
        ivals.join(
            F.broadcast(pairs),
            (F.col("jb") <= F.col("ib")) & (F.col("kb") >= F.col("ib")),
        )
        .groupBy("ib", "jb")
        .agg(F.min("seg_avg").alias("m"))
    )
    fit = mins.groupBy("ib").agg(F.max("m").alias("iso"))
    return (
        bucket.join(F.broadcast(fit), F.col("ib") == F.col("b"))
        .select(
            F.col("b").cast("bigint").alias("bucket"),
            "n",
            F.round(F.col("pq") / 10000.0 / F.col("n"), 6).alias("conf"),
            F.round(F.col("wy") / F.col("n").cast("double"), 6).alias(
                "raw_rate"
            ),
            F.round(F.col("iso"), 6).alias("iso_rate"),
        )
        .orderBy("bucket")
    )


def _gbm_round_sql(r: int) -> str:
    """One unrolled boosting round (see ml_gradient_boost_stumps):
    prefix sums over the 50-row quantity frame, argmax-gain split,
    floored half-learning-rate leaf updates."""
    return f"""
    pre{r} AS (
        SELECT x, n, sy, pred,
               SUM(n) OVER w AS cn,
               SUM(sy - n * pred) OVER w AS crs
        FROM g{r}
        WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ), t{r} AS (
        SELECT cn AS nn, crs AS rst FROM pre{r}
        WHERE cn = (SELECT SUM(n) FROM g{r})
    ), best{r} AS (
        SELECT p.x AS s, p.cn, p.crs, t.nn, t.rst,
               (CAST(p.crs AS DOUBLE) * p.crs) / p.cn
               + (CAST(t.rst - p.crs AS DOUBLE) * (t.rst - p.crs))
                 / (t.nn - p.cn) AS gain
        FROM pre{r} p CROSS JOIN t{r} t
        WHERE p.cn < t.nn
        ORDER BY gain DESC, p.x LIMIT 1
    ), lv{r} AS (
        SELECT s, cn, nn, gain, crs, rst,
               CAST(FLOOR(crs / (2.0 * cn)) AS BIGINT) AS vl,
               CAST(FLOOR((rst - crs) / (2.0 * (nn - cn))) AS BIGINT) AS vr
        FROM best{r}
    ), g{r + 1} AS (
        SELECT g.x, g.n, g.sy,
               g.pred + CASE WHEN g.x <= l.s THEN l.vl ELSE l.vr END AS pred
        FROM g{r} g CROSS JOIN lv{r} l
    )"""


def _gbm_publish_sql(r: int) -> str:
    """Published row for one boosting round: counts as BIGINT, leaves as
    exact integer cents over 100, and the gain half-up-rounded to 2
    decimals of gain/10000 ENTIRELY in integer space (ADVICE r10): the
    gain is the exact rational N/D with
    N = crs²·(nn−cn) + (rst−crs)²·cn and D = cn·(nn−cn)·10⁴, and
    half-up(N/D, 2) = (200·N + D) // (2·D) — no double ever carries the
    rounding decision, so Spark and DuckDB agree at every .xx5
    representation boundary and at any scale factor (ROUND-on-double
    disagreed on ~10% of doubles ≥ 1e13)."""
    num = (
        f"(CAST(crs AS HUGEINT) * crs * (nn - cn)"
        f" + CAST(rst - crs AS HUGEINT) * (rst - crs) * cn)"
    )
    den = "(CAST(cn AS HUGEINT) * (nn - cn) * 10000)"
    return f"""
        SELECT {r} AS round_no, s AS split_x,
               CAST(cn AS BIGINT) AS n_left,
               CAST(nn - cn AS BIGINT) AS n_right,
               CAST(vl AS DOUBLE) / 100.0 AS leaf_left,
               CAST(vr AS DOUBLE) / 100.0 AS leaf_right,
               CAST((200 * {num} + {den}) // (2 * {den}) AS DOUBLE)
                   / 100.0 AS gain_usd2
        FROM lv{r}
    """


@register(
    "ml_gradient_boost_stumps",
    f"""
    WITH g AS (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT))
                    AS BIGINT) AS sy
        FROM lineitem GROUP BY 1
    ), tot0 AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(sy) AS BIGINT) AS syy
        FROM g
    ), g1 AS (
        SELECT x, n, sy,
               (SELECT CAST(FLOOR(syy / CAST(nn AS DOUBLE)) AS BIGINT)
                FROM tot0) AS pred
        FROM g
    ),{_gbm_round_sql(1)},{_gbm_round_sql(2)},{_gbm_round_sql(3)}
    SELECT * FROM (
        {" UNION ALL ".join(_gbm_publish_sql(r) for r in (1, 2, 3))}
    ) ORDER BY round_no
    """,
)
def ml_gradient_boost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of gradient boosting with depth-1 regression stumps
    (Friedman '01) on quantity → revenue, as BOUNDED-UNROLL algebra
    over sufficient statistics: the corpus reduces once to a ≤50-row
    (quantity, count, Σcents) frame, and every boosting round — split
    search via prefix sums, argmax gain, leaf fit — runs on that frame
    alone. The carried model state (per-quantity prediction) is
    FLOOR-QUANTIZED to integer cents after each half-learning-rate leaf
    update, so residual sums stay exact BIGINTs across rounds — no
    accumulated float drift, both engines agree bit-for-bit; doubles
    appear only inside each round's gain ranking (one cast-square-
    divide per candidate split, identically parenthesized).

    Scale: one partial/final aggregate over 100 TB, then O(rounds ·
    |grid|) broadcast algebra — the classic histogram-boosting
    decomposition (LightGBM's) where the data-sized pass is the
    sufficient-stats build, not the round loop."""
    import math

    li = load_table(spark, sf_dir, "lineitem")
    # The ONE data-sized pass: partial/final aggregate to the ≤50-row
    # (quantity, count, Σcents) grid — l_quantity's domain bounds the
    # frame at ANY corpus size, so collecting it is O(domain) driver
    # state (the embed_pca_top Gram precedent), and the 3-round split
    # search runs as exact integer algebra on the driver instead of ~12
    # serialized micro-jobs of 50-row windows (the round-10 rewrite:
    # measured 2.5 → ~0.6 s at sf0.1; this is LightGBM's decomposition —
    # workers build histograms, the split search is cheap local math).
    grid = sorted(
        (r["x"], r["n"], r["sy"])
        for r in li.groupBy(F.col("l_quantity").cast("bigint").alias("x"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.floor(F.col("l_extendedprice") * 100.0).cast("bigint"))
            .cast("bigint")
            .alias("sy"),
        )
        .collect()
    )
    nn = sum(n for _, n, _ in grid)
    syy = sum(sy for _, _, sy in grid)
    pred = {x: math.floor(syy / float(nn)) for x, _, _ in grid}

    def usd2(num: int, den: int) -> float:
        # Half-up to 2 decimals of the EXACT rational num/den, decided in
        # integer space (ADVICE r10 — Decimal-on-float vs ROUND-on-double
        # disagreed at .xx5 representation boundaries and for values
        # >= ~1e13): floor((200·num + den)/(2·den)) is half-up for the
        # non-negative rationals published here; the final /100.0 is one
        # correctly-rounded double conversion, identical in both engines.
        return ((200 * num + den) // (2 * den)) / 100.0

    rows = []
    for r in (1, 2, 3):
        # prefix sums of count and integer residual in quantity order
        cn, crs, prefix = 0, 0, []
        for x, n, sy in grid:
            cn += n
            crs += sy - n * pred[x]
            prefix.append((x, cn, crs))
        rst = prefix[-1][2]
        # argmax gain, ties to the smallest split point — exact doubles,
        # identically parenthesized to the SQL twin
        best = None
        for x, cn_i, crs_i in prefix:
            if cn_i >= nn:
                continue
            gain = (float(crs_i) * crs_i) / cn_i + (
                float(rst - crs_i) * (rst - crs_i)
            ) / (nn - cn_i)
            if best is None or gain > best[0]:
                best = (gain, x, cn_i, crs_i)
        gain, s, cn_b, crs_b = best
        vl = math.floor(crs_b / (2.0 * cn_b))
        vr = math.floor((rst - crs_b) / (2.0 * (nn - cn_b)))
        # published gain: the exact rational crs²/cn + (rst−crs)²/(nn−cn)
        # over 10⁴, half-up in integer space (the double `gain` above is
        # ranking-only, identically parenthesized to the SQL twin)
        g_num = crs_b * crs_b * (nn - cn_b) + (rst - crs_b) ** 2 * cn_b
        g_den = cn_b * (nn - cn_b) * 10000
        rows.append(
            (r, s, cn_b, nn - cn_b, vl / 100.0, vr / 100.0, usd2(g_num, g_den))
        )
        for x in pred:
            pred[x] += vl if x <= s else vr
    return spark.createDataFrame(
        rows,
        "round_no int, split_x bigint, n_left bigint, n_right bigint,"
        " leaf_left double, leaf_right double, gain_usd2 double",
    ).orderBy("round_no")


@register(
    "ml_survival_rmst",
    """
    WITH spans AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0,
               MAX(ts) AS t_last
        FROM events GROUP BY user_id
    ), conv AS (
        SELECT s.user_id,
               DATE_DIFF('day', s.t0,
                   COALESCE(p.tp, s.t_last)) AS dur,
               CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM spans s
        LEFT JOIN (
            SELECT e.user_id, MIN(e.ts) AS tp
            FROM events e JOIN spans s2
              ON e.user_id = s2.user_id AND e.event_type = 'purchase'
             AND e.ts > s2.t0
            GROUP BY e.user_id
        ) p ON p.user_id = s.user_id
        WHERE s.t0 IS NOT NULL
    ), times AS (
        SELECT dur, CAST(SUM(ev) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS leaving
        FROM conv GROUP BY dur
    ), risk AS (
        SELECT dur, d,
               SUM(leaving) OVER (ORDER BY dur DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
        FROM times
    ), curve AS (
        SELECT dur,
               EXP(SUM(CASE WHEN d > 0 THEN
                       CAST(FLOOR(LN(GREATEST(1.0 - CAST(d AS DOUBLE)
                                              / CAST(n_risk AS DOUBLE),
                                              1e-12))
                                  * 1e9) AS BIGINT) ELSE 0 END)
                   OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
                   / 1e9) AS s_after,
               LEAD(dur) OVER (ORDER BY dur) AS dur_next
        FROM risk
        WHERE d > 0
    ), pieces AS (
        SELECT
            CAST(SUM(CASE WHEN dur < 30 THEN
                CAST(FLOOR(s_after
                           * (LEAST(COALESCE(dur_next, 30), 30) - dur)
                           * 1e9) AS BIGINT) ELSE 0 END) AS BIGINT)
                AS tail_q,
            MIN(dur) AS first_event_day
        FROM curve
    )
    SELECT CAST(30 AS BIGINT) AS tau_days,
           ROUND(LEAST(first_event_day, 30) + tail_q / 1e9, 4)
               AS rmst_days,
           ROUND(30 - (LEAST(first_event_day, 30) + tail_q / 1e9), 4)
               AS expected_days_lost,
           CAST(first_event_day AS BIGINT) AS first_event_day
    FROM pieces
    """,
)
def ml_survival_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time (Royston & Parmar '13) to τ = 30
    days over the same time-to-first-purchase KM curve as
    ``ml_survival_km``: RMST = ∫₀^τ S(t)dt — the area under the step
    curve, i.e. "expected purchase-free days in the first month" — the
    estimand regulators now prefer over hazard ratios because it needs
    NO proportional-hazards assumption and reads in days. The integral
    is the exact step sum S(tᵢ)·(min(tᵢ₊₁,τ)−tᵢ) plus the S=1 lead-in
    to the first event day, every piece floor-quantized at 1e-9 on the
    SAME quantized-ln survival fold as the KM operator (the two are
    consistent by construction).

    Scale: identical posture to ``ml_survival_km`` — fact-scale work
    is two per-user aggregations; the curve algebra is O(distinct
    days)."""
    ev = load_table(spark, sf_dir, "events")
    spans = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
                "t0"
            ),
            F.max("ts").alias("t_last"),
        )
        .filter(F.col("t0").isNotNull())
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .join(
            spans.select(
                F.col("user_id").alias("u2"), F.col("t0").alias("s_t0")
            ),
            (F.col("user_id") == F.col("u2")) & (F.col("ts") > F.col("s_t0")),
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    conv = spans.join(purch, "user_id", "left").select(
        F.datediff(
            F.coalesce(F.col("tp"), F.col("t_last")).cast("date"),
            F.col("t0").cast("date"),
        ).alias("dur"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    times = conv.groupBy("dur").agg(
        F.sum("ev").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("leaving"),
    )
    w_rev = Window.orderBy(F.desc("dur")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = times.select(
        "dur", "d", F.sum("leaving").over(w_rev).alias("n_risk")
    )
    term = F.when(
        F.col("d") > 0,
        F.floor(
            F.log(
                F.greatest(
                    F.lit(1.0)
                    - F.col("d").cast("double") / F.col("n_risk").cast("double"),
                    F.lit(1e-12),
                )
            )
            * 1e9
        ).cast("long"),
    ).otherwise(0)
    w_fwd = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = (
        risk.filter(F.col("d") > 0)
        .select(
            "dur",
            F.exp(F.sum(term).over(w_fwd) / 1e9).alias("s_after"),
            F.lead("dur").over(Window.orderBy("dur")).alias("dur_next"),
        )
    )
    pieces = curve.agg(
        F.sum(
            F.when(
                F.col("dur") < 30,
                F.floor(
                    F.col("s_after")
                    * (
                        F.least(
                            F.coalesce(F.col("dur_next"), F.lit(30)),
                            F.lit(30),
                        )
                        - F.col("dur")
                    )
                    * 1e9
                ).cast("long"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("tail_q"),
        F.min("dur").alias("first_event_day"),
    )
    rmst = F.least(F.col("first_event_day"), F.lit(30)) + F.col("tail_q") / 1e9
    return pieces.select(
        F.lit(30).cast("long").alias("tau_days"),
        F.round(rmst, 4).alias("rmst_days"),
        F.round(30 - rmst, 4).alias("expected_days_lost"),
        F.col("first_event_day").cast("long").alias("first_event_day"),
    )


@register(
    "ts_arch_lm",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS HUGEINT))
                    AS HUGEINT) AS x
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
    ),
    st AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s FROM idx
    ),
    z AS (
        SELECT rn,
               (CAST(st.n * x - st.s AS DOUBLE) / CAST(st.s AS DOUBLE))
               * (CAST(st.n * x - st.s AS DOUBLE) / CAST(st.s AS DOUBLE))
                   AS z
        FROM idx, st
    ),
    tri AS (
        SELECT a.z AS y, b.z AS x1, c.z AS x2
        FROM z a JOIN z b ON b.rn = a.rn - 1
                 JOIN z c ON c.rn = a.rn - 2
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(CAST(FLOOR(y  * 1e12) AS BIGINT)) AS BIGINT) AS sy,
               CAST(SUM(CAST(FLOOR(x1 * 1e12) AS BIGINT)) AS BIGINT) AS s1,
               CAST(SUM(CAST(FLOOR(x2 * 1e12) AS BIGINT)) AS BIGINT) AS s2,
               CAST(SUM(CAST(FLOOR(y  * y  * 1e12) AS BIGINT)) AS BIGINT) AS syy,
               CAST(SUM(CAST(FLOOR(x1 * x1 * 1e12) AS BIGINT)) AS BIGINT) AS s11,
               CAST(SUM(CAST(FLOOR(x2 * x2 * 1e12) AS BIGINT)) AS BIGINT) AS s22,
               CAST(SUM(CAST(FLOOR(x1 * x2 * 1e12) AS BIGINT)) AS BIGINT) AS s12,
               CAST(SUM(CAST(FLOOR(y  * x1 * 1e12) AS BIGINT)) AS BIGINT) AS sy1,
               CAST(SUM(CAST(FLOOR(y  * x2 * 1e12) AS BIGINT)) AS BIGINT) AS sy2
        FROM tri
    )
    SELECT m AS n_obs, CAST(2 AS INT) AS n_lags,
           ROUND(((sy1 / 1e12 - (sy / 1e12) * (s1 / 1e12) / m)
                  * (s22 / 1e12 - (s2 / 1e12) * (s2 / 1e12) / m)
                  - (sy2 / 1e12 - (sy / 1e12) * (s2 / 1e12) / m)
                  * (s12 / 1e12 - (s1 / 1e12) * (s2 / 1e12) / m))
                 / ((s11 / 1e12 - (s1 / 1e12) * (s1 / 1e12) / m)
                    * (s22 / 1e12 - (s2 / 1e12) * (s2 / 1e12) / m)
                    - (s12 / 1e12 - (s1 / 1e12) * (s2 / 1e12) / m)
                    * (s12 / 1e12 - (s1 / 1e12) * (s2 / 1e12) / m))
                 * (sy1 / 1e12 - (sy / 1e12) * (s1 / 1e12) / m)
                 / (syy / 1e12 - (sy / 1e12) * (sy / 1e12) / m)
                 + ((sy2 / 1e12 - (sy / 1e12) * (s2 / 1e12) / m)
                    * (s11 / 1e12 - (s1 / 1e12) * (s1 / 1e12) / m)
                    - (sy1 / 1e12 - (sy / 1e12) * (s1 / 1e12) / m)
                    * (s12 / 1e12 - (s1 / 1e12) * (s2 / 1e12) / m))
                 / ((s11 / 1e12 - (s1 / 1e12) * (s1 / 1e12) / m)
                    * (s22 / 1e12 - (s2 / 1e12) * (s2 / 1e12) / m)
                    - (s12 / 1e12 - (s1 / 1e12) * (s2 / 1e12) / m)
                    * (s12 / 1e12 - (s1 / 1e12) * (s2 / 1e12) / m))
                 * (sy2 / 1e12 - (sy / 1e12) * (s2 / 1e12) / m)
                 / (syy / 1e12 - (sy / 1e12) * (sy / 1e12) / m), 6)
               AS r2,
           ROUND(m * (((sy1 / 1e12 - (sy / 1e12) * (s1 / 1e12) / m)
                  * (s22 / 1e12 - (s2 / 1e12) * (s2 / 1e12) / m)
                  - (sy2 / 1e12 - (sy / 1e12) * (s2 / 1e12) / m)
                  * (s12 / 1e12 - (s1 / 1e12) * (s2 / 1e12) / m))
                 / ((s11 / 1e12 - (s1 / 1e12) * (s1 / 1e12) / m)
                    * (s22 / 1e12 - (s2 / 1e12) * (s2 / 1e12) / m)
                    - (s12 / 1e12 - (s1 / 1e12) * (s2 / 1e12) / m)
                    * (s12 / 1e12 - (s1 / 1e12) * (s2 / 1e12) / m))
                 * (sy1 / 1e12 - (sy / 1e12) * (s1 / 1e12) / m)
                 / (syy / 1e12 - (sy / 1e12) * (sy / 1e12) / m)
                 + ((sy2 / 1e12 - (sy / 1e12) * (s2 / 1e12) / m)
                    * (s11 / 1e12 - (s1 / 1e12) * (s1 / 1e12) / m)
                    - (sy1 / 1e12 - (sy / 1e12) * (s1 / 1e12) / m)
                    * (s12 / 1e12 - (s1 / 1e12) * (s2 / 1e12) / m))
                 / ((s11 / 1e12 - (s1 / 1e12) * (s1 / 1e12) / m)
                    * (s22 / 1e12 - (s2 / 1e12) * (s2 / 1e12) / m)
                    - (s12 / 1e12 - (s1 / 1e12) * (s2 / 1e12) / m)
                    * (s12 / 1e12 - (s1 / 1e12) * (s2 / 1e12) / m))
                 * (sy2 / 1e12 - (sy / 1e12) * (s2 / 1e12) / m)
                 / (syy / 1e12 - (sy / 1e12) * (sy / 1e12) / m)), 4)
               AS lm_stat
    FROM mom
    """,
)
def ts_arch_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle's ARCH LM test (lags p = 2) on the daily-revenue series: does
    today's squared deviation depend on yesterday's — volatility
    clustering the white-noise portmanteau (``ts_ljung_box``, which tests
    LEVELS) cannot see? z_t = ((n·x_t − S)/S)² is the squared relative
    deviation (numerator exact 128-bit integer, one correctly-rounded
    cast); OLS of z_t on (1, z_{t−1}, z_{t−2}) via the closed-form
    2-regressor normal equations, R² = (b₁·c_{y1} + b₂·c_{y2})/c_{yy},
    LM = m·R² ~ χ²₂ under no-ARCH. Every cross-row moment is a per-row
    double product floor-quantized at 1e-12 then summed as int64 — the
    accumulation order cannot flip a bit (``ts_ljung_box`` fold
    discipline); the lag triple is two equi-joins of the |days|-row
    deviation frame on rn−1/rn−2.

    Scale: daily rollup aggregate, two metadata-sized equi-joins, one
    partial→final moment fold — nothing grows faster than |days|. The
    spine is session-pinned (:func:`daily_revenue_pinned`, round-11)."""
    daily = daily_revenue_pinned(spark, sf_dir)
    idx = daily.select(
        "x", F.row_number().over(Window.orderBy("day")).alias("rn")
    )
    st = idx.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("s"),
    )
    dvn = (F.col("n") * F.col("x") - F.col("s")).cast("double") / F.col(
        "s"
    ).cast("double")
    zf = idx.crossJoin(F.broadcast(st)).select(
        "rn", (dvn * dvn).alias("z")
    )
    a = zf.select(F.col("rn").alias("arn"), F.col("z").alias("y"))
    b = zf.select(F.col("rn").alias("brn"), F.col("z").alias("x1"))
    c = zf.select(F.col("rn").alias("crn"), F.col("z").alias("x2"))
    tri = a.join(b, F.col("brn") == F.col("arn") - 1).join(
        c, F.col("crn") == F.col("arn") - 2
    )
    q = lambda e: F.sum(F.floor(e * 1e12).cast("long")).cast("long")
    y, x1, x2 = F.col("y"), F.col("x1"), F.col("x2")
    mom = tri.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        q(y).alias("sy"),
        q(x1).alias("s1"),
        q(x2).alias("s2"),
        q(y * y).alias("syy"),
        q(x1 * x1).alias("s11"),
        q(x2 * x2).alias("s22"),
        q(x1 * x2).alias("s12"),
        q(y * x1).alias("sy1"),
        q(y * x2).alias("sy2"),
    )
    m = F.col("m")
    de = lambda col: F.col(col) / 1e12
    c11 = de("s11") - de("s1") * de("s1") / m
    c22 = de("s22") - de("s2") * de("s2") / m
    c12 = de("s12") - de("s1") * de("s2") / m
    cy1 = de("sy1") - de("sy") * de("s1") / m
    cy2 = de("sy2") - de("sy") * de("s2") / m
    cyy = de("syy") - de("sy") * de("sy") / m
    det = c11 * c22 - c12 * c12
    r2 = (cy1 * c22 - cy2 * c12) / det * cy1 / cyy + (
        cy2 * c11 - cy1 * c12
    ) / det * cy2 / cyy
    return mom.select(
        m.alias("n_obs"),
        F.lit(2).cast("int").alias("n_lags"),
        F.round(r2, 6).alias("r2"),
        F.round(m * r2, 4).alias("lm_stat"),
    )


@register(
    "ml_hosmer_lemeshow",
    """
    WITH feats AS (
        SELECT n_chars,
               CAST(LEN(LIST_FILTER(STRING_SPLIT(TRIM(text), ' '),
                                    w -> w <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ), scored AS (
        SELECT LEAST(0.9999, GREATEST(0.0001,
                   ROUND(1.0 / (1.0 + EXP(
                       -(-3.0 + 0.9 * LN(1.0 + CAST(n_tokens AS DOUBLE))
                         - 0.2 * (CAST(n_chars AS DOUBLE)
                                  / CAST(n_tokens AS DOUBLE))))), 4))) AS p,
               CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS y
        FROM feats WHERE n_tokens > 0
    ), pts AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(y) AS BIGINT) AS pos,
               CAST(COUNT(*) AS BIGINT)
                   * CAST(ROUND(p * 10000.0) AS BIGINT) AS pq
        FROM scored GROUP BY p
    ), cum AS (
        SELECT cnt, pos, pq,
               SUM(cnt) OVER (ORDER BY p
                   ROWS UNBOUNDED PRECEDING) AS cum_cnt,
               SUM(cnt) OVER () AS n
        FROM pts
    ), dec AS (
        SELECT LEAST(9, CAST(FLOOR((cum_cnt - cnt) * 10.0 / n) AS BIGINT))
                   AS decile,
               CAST(SUM(cnt) AS BIGINT) AS n_g,
               CAST(SUM(pos) AS BIGINT) AS o1,
               CAST(SUM(pq) AS BIGINT) AS e1q
        FROM cum GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(COUNT(*) - 2 AS BIGINT) AS df,
           CAST(SUM(n_g) AS BIGINT) AS n_docs,
           ROUND(SUM((CAST(o1 AS DOUBLE) - e1q / 10000.0)
                     * (CAST(o1 AS DOUBLE) - e1q / 10000.0)
                     / ((e1q / 10000.0)
                        * (1.0 - e1q / 10000.0 / CAST(n_g AS DOUBLE)))),
                 4) AS hl_chi2
    FROM dec
    """,
)
def ml_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer–Lemeshow goodness-of-fit for the logistic quality scorer
    (``ml_logistic_score`` / ``ml_calibration_error`` features): decile
    the scored population, then χ² = Σ (O₁−E₁)²/(E₁(1−E₁/n_g)) ~ χ²₈ —
    the classical calibration TEST to go with the ECE POINT estimate.
    Deciles are tie-stable and engine-independent: scores collapse to
    their (4-decimal) distinct values first, and each distinct score is
    assigned floor(10·rows_before/N) — a whole tie class lands in one
    decile, so no engine's row order can flip a boundary. E₁ per decile is
    an exact integer micro-sum (count × round(p·10⁴)); the χ² fold is ≤10
    rows of double algebra.

    Scale: one groupBy ∝ distinct scores (≤10⁴ cells after rounding),
    the shared bucketed cumulative, a 10-row epilogue. The decile pass
    never sorts rows, only the distinct-score frame."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.col("text")), " "), lambda w: w != F.lit("")
    )
    feats = docs.select(
        "n_chars", F.size(toks).cast("bigint").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    z = (
        F.lit(-3.0)
        + F.lit(0.9) * F.log(F.lit(1.0) + F.col("n_tokens").cast("double"))
        - F.lit(0.2)
        * (F.col("n_chars").cast("double") / F.col("n_tokens").cast("double"))
    )
    scored = feats.select(
        F.least(
            F.lit(0.9999),
            F.greatest(
                F.lit(0.0001),
                F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4),
            ),
        ).alias("p"),
        F.when(F.col("n_chars") >= 250, 1).otherwise(0).alias("y"),
    )
    pts = scored.groupBy("p").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
        (
            F.count(F.lit(1))
            * F.round(F.first("p") * 10000.0).cast("long")
        ).alias("pq"),
    )
    tot = pts.agg(F.sum("cnt").alias("n"))
    cum = with_global_order(pts, "p", cumsums={"cum_cnt": "cnt"}).crossJoin(
        F.broadcast(tot)
    )
    dec = cum.groupBy(
        F.least(
            F.lit(9).cast("long"),
            F.floor(
                (F.col("cum_cnt") - F.col("cnt")) * 10.0 / F.col("n")
            ).cast("long"),
        ).alias("decile")
    ).agg(
        F.sum("cnt").cast("long").alias("n_g"),
        F.sum("pos").cast("long").alias("o1"),
        F.sum("pq").cast("long").alias("e1q"),
    )
    e1 = F.col("e1q") / 10000.0
    o1 = F.col("o1").cast("double")
    term = (o1 - e1) * (o1 - e1) / (
        e1 * (F.lit(1.0) - e1 / F.col("n_g").cast("double"))
    )
    return dec.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        (F.count(F.lit(1)) - 2).cast("long").alias("df"),
        F.sum("n_g").cast("long").alias("n_docs"),
        F.round(F.sum(term), 4).alias("hl_chi2"),
    )


@register(
    "stats_durbin_watson",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS HUGEINT))
                    AS HUGEINT) AS x
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
    ),
    st AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s FROM idx
    ),
    u AS (
        SELECT rn,
               CAST(st.n * x - st.s AS DOUBLE) / CAST(st.s AS DOUBLE) AS u
        FROM idx, st
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(rn) AS BIGINT) AS st_,
               CAST(SUM(rn * rn) AS BIGINT) AS stt,
               CAST(SUM(CAST(FLOOR(u * 1e12) AS BIGINT)) AS BIGINT) AS suq,
               CAST(SUM(CAST(FLOOR(u * rn * 1e6) AS BIGINT)) AS BIGINT)
                   AS sutq
        FROM u
    ),
    fit AS (
        SELECT m,
               (m * (sutq / 1e6) - st_ * (suq / 1e12))
               / (CAST(m AS DOUBLE) * stt - CAST(st_ AS DOUBLE) * st_) AS b,
               ((suq / 1e12)
                - (m * (sutq / 1e6) - st_ * (suq / 1e12))
                  / (CAST(m AS DOUBLE) * stt - CAST(st_ AS DOUBLE) * st_)
                  * st_) / m AS a
        FROM mom
    ),
    resid AS (
        SELECT u.rn, u.u - fit.a - fit.b * u.rn AS e FROM u, fit
    ),
    pair AS (
        SELECT CAST(SUM(CAST(FLOOR(c.e * c.e * 1e12) AS BIGINT)) AS BIGINT)
                   AS ssq,
               CAST(SUM(CAST(FLOOR((c.e - p.e) * (c.e - p.e) * 1e12)
                             AS BIGINT)) AS BIGINT) AS dsq,
               CAST(COUNT(p.rn) AS BIGINT) AS n_pairs
        FROM resid c LEFT JOIN resid p ON p.rn = c.rn - 1
    )
    SELECT (SELECT m FROM mom) AS n_obs, n_pairs,
           ROUND((dsq / 1e12) / (ssq / 1e12), 6) AS dw_stat,
           ROUND(1.0 - (dsq / 1e12) / (ssq / 1e12) / 2.0, 6) AS rho_approx
    FROM pair
    """,
)
def stats_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson first-order autocorrelation test on the residuals of
    the daily-revenue-vs-time OLS trend: DW = Σ(e_t−e_{t−1})²/Σe_t² ∈
    [0,4], 2 = no autocorrelation, with the textbook ρ ≈ 1 − DW/2 —
    the residual diagnostic ``ts_dickey_fuller``/``ts_ljung_box`` assume
    you already ran. Deviations are the dimensionless (n·x_t − S)/S over
    exact integer cents (``ts_arch_lm`` discipline); the slope/intercept
    come from floor-quantized moment sums (u at 1e-12, u·t at 1e-6 — rn
    reaches ~10³ so the product still fits int64 headroom); residual
    squares and lag-diff squares are per-row quantized at 1e-12, so both
    engines fold identical integers in any order.

    Scale: one orders-sized daily rollup; everything after is |days|-row
    frames — a moment fold, one broadcast of the 1-row fit, and a
    metadata-sized rn−1 equi-join. The spine is session-pinned
    (:func:`daily_revenue_pinned`, round-11)."""
    daily = daily_revenue_pinned(spark, sf_dir)
    idx = daily.select(
        "x", F.row_number().over(Window.orderBy("day")).alias("rn")
    )
    st = idx.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("s"),
    )
    u = idx.crossJoin(F.broadcast(st)).select(
        "rn",
        (
            (F.col("n") * F.col("x") - F.col("s")).cast("double")
            / F.col("s").cast("double")
        ).alias("u"),
    )
    mom = u.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("rn").cast("long").alias("st_"),
        F.sum(F.col("rn") * F.col("rn")).cast("long").alias("stt"),
        F.sum(F.floor(F.col("u") * 1e12).cast("long"))
        .cast("long")
        .alias("suq"),
        F.sum(F.floor(F.col("u") * F.col("rn") * 1e6).cast("long"))
        .cast("long")
        .alias("sutq"),
    )
    m = F.col("m")
    su = F.col("suq") / 1e12
    sut = F.col("sutq") / 1e6
    b = (m * sut - F.col("st_") * su) / (
        m.cast("double") * F.col("stt")
        - F.col("st_").cast("double") * F.col("st_")
    )
    fit = mom.select(
        m.alias("m"),
        b.alias("b"),
        ((su - b * F.col("st_")) / m).alias("a"),
    )
    resid = u.crossJoin(F.broadcast(fit)).select(
        "rn",
        "m",
        (F.col("u") - F.col("a") - F.col("b") * F.col("rn")).alias("e"),
    )
    cur = resid.select("rn", "m", F.col("e").alias("ec"))
    prv = resid.select(F.col("rn").alias("prn"), F.col("e").alias("ep"))
    pair = cur.join(prv, F.col("prn") == F.col("rn") - 1, "left")
    agg = pair.agg(
        F.max("m").alias("n_obs"),
        F.count("prn").cast("long").alias("n_pairs"),
        F.sum(F.floor(F.col("ec") * F.col("ec") * 1e12).cast("long"))
        .cast("long")
        .alias("ssq"),
        F.sum(
            F.floor(
                (F.col("ec") - F.col("ep"))
                * (F.col("ec") - F.col("ep"))
                * 1e12
            ).cast("long")
        )
        .cast("long")
        .alias("dsq"),
    )
    dw = (F.col("dsq") / 1e12) / (F.col("ssq") / 1e12)
    return agg.select(
        "n_obs",
        "n_pairs",
        F.round(dw, 6).alias("dw_stat"),
        F.round(F.lit(1.0) - dw / 2.0, 6).alias("rho_approx"),
    )


@register(
    "ml_youden_j",
    """
    WITH feats AS (
        SELECT n_chars,
               CAST(LEN(LIST_FILTER(STRING_SPLIT(TRIM(text), ' '),
                                    w -> w <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ), scored AS (
        SELECT ROUND(1.0 / (1.0 + EXP(-(-3.0
                   + 0.9 * LN(1.0 + CAST(n_tokens AS DOUBLE))
                   - 0.2 * (CAST(n_chars AS DOUBLE)
                            / CAST(n_tokens AS DOUBLE))))), 4) AS p,
               CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS y
        FROM feats WHERE n_tokens > 0
    ), pts AS (
        SELECT p, CAST(SUM(y) AS BIGINT) AS pos,
               CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
        FROM scored GROUP BY p
    ), cum AS (
        SELECT p,
               SUM(pos) OVER (ORDER BY p DESC
                   ROWS UNBOUNDED PRECEDING) AS tp,
               SUM(neg) OVER (ORDER BY p DESC
                   ROWS UNBOUNDED PRECEDING) AS fp,
               SUM(pos) OVER () AS np, SUM(neg) OVER () AS nn
        FROM pts
    )
    SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
           p AS threshold,
           ROUND(CAST(tp AS DOUBLE) / np, 6) AS sensitivity,
           ROUND(1.0 - CAST(fp AS DOUBLE) / nn, 6) AS specificity,
           ROUND(CAST(tp AS DOUBLE) / np - CAST(fp AS DOUBLE) / nn, 6)
               AS youden_j
    FROM cum
    ORDER BY CAST(tp AS DOUBLE) / np - CAST(fp AS DOUBLE) / nn DESC,
             p ASC
    LIMIT 1
    """,
)
def ml_youden_j(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Youden's J optimal operating point for the logistic quality scorer:
    sweep every distinct score as the gate threshold (predict positive at
    p ≥ τ), J(τ) = TPR − FPR, report the maximizing τ with its
    sensitivity/specificity — the quality-gate threshold you'd actually
    deploy, where ``ml_auc_roc`` only says the ranking is good and
    ``ml_threshold_sweep_cost`` needs a cost matrix. TP/FP curves are
    descending-order cumulative integer counts over the distinct-score
    frame (bucketed two-level cumulative, no single-partition rank); ties
    in J break toward the smaller τ (the more sensitive gate),
    deterministically on both engines.

    Scale: groupBy ∝ distinct scores (≤10⁴ cells at 4-decimal rounding)
    no matter the corpus size; the sweep itself is the cumulative plus a
    TakeOrdered(1)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.col("text")), " "), lambda w: w != F.lit("")
    )
    feats = docs.select(
        "n_chars", F.size(toks).cast("bigint").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    z = (
        F.lit(-3.0)
        + F.lit(0.9) * F.log(F.lit(1.0) + F.col("n_tokens").cast("double"))
        - F.lit(0.2)
        * (F.col("n_chars").cast("double") / F.col("n_tokens").cast("double"))
    )
    scored = feats.select(
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4).alias("p"),
        F.when(F.col("n_chars") >= 250, 1).otherwise(0).alias("y"),
    )
    pts = scored.groupBy("p").agg(
        F.sum("y").cast("long").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("neg"),
    )
    tot = pts.agg(
        F.sum("pos").cast("long").alias("np"),
        F.sum("neg").cast("long").alias("nn"),
    )
    cum = with_global_order(
        pts, "p", cumsums={"tp": "pos", "fp": "neg"}, desc=True
    ).crossJoin(F.broadcast(tot))
    tpr = F.col("tp").cast("double") / F.col("np")
    fpr = F.col("fp").cast("double") / F.col("nn")
    return (
        cum.select(
            F.col("np").alias("n_pos"),
            F.col("nn").alias("n_neg"),
            F.col("p").alias("threshold"),
            F.round(tpr, 6).alias("sensitivity"),
            F.round(F.lit(1.0) - fpr, 6).alias("specificity"),
            F.round(tpr - fpr, 6).alias("youden_j"),
            (tpr - fpr).alias("_j_raw"),
        )
        .orderBy(F.col("_j_raw").desc(), F.col("threshold").asc())
        .limit(1)
        .drop("_j_raw")
    )


@register(
    "ts_cusum_squares",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS HUGEINT))
                    AS HUGEINT) AS x
        FROM orders GROUP BY 1
    ),
    st AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s FROM daily
    ),
    u AS (
        SELECT day,
               ROW_NUMBER() OVER (ORDER BY day) AS rn,
               CAST(FLOOR((CAST(st.n * x - st.s AS DOUBLE)
                           / CAST(st.s AS DOUBLE))
                          * (CAST(st.n * x - st.s AS DOUBLE)
                             / CAST(st.s AS DOUBLE)) * 1e12) AS BIGINT)
                   AS u2q
        FROM daily, st
    ),
    cum AS (
        SELECT day, rn,
               SUM(u2q) OVER (ORDER BY rn ROWS UNBOUNDED PRECEDING)
                   AS c,
               SUM(u2q) OVER () AS tot,
               COUNT(*) OVER () AS n
        FROM u
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           STRFTIME(day, '%Y-%m-%d') AS worst_day,
           CAST(rn AS BIGINT) AS worst_rank,
           ROUND(ABS(CAST(c AS DOUBLE) / tot
                     - CAST(rn AS DOUBLE) / n), 6) AS cusum_sq_stat,
           ROUND(SQRT(CAST(n AS DOUBLE) / 2.0)
                 * ABS(CAST(c AS DOUBLE) / tot
                       - CAST(rn AS DOUBLE) / n), 4) AS scaled_stat
    FROM cum
    ORDER BY ABS(CAST(c AS DOUBLE) / tot - CAST(rn AS DOUBLE) / n) DESC,
             day ASC
    LIMIT 1
    """,
)
def ts_cusum_squares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM-of-squares variance-stability scan (Brown–Durbin–Evans
    flavor) over the daily-revenue deviations: s_t = Σ_{i≤t}u²/Σu²
    should hug the diagonal t/n under constant variance; the statistic is
    the worst excursion max_t |s_t − t/n| with its date — the
    VOLATILITY-regime counterpart to the mean-shift hunters
    (``ts_pettitt``, ``ts_changepoint``): a variance break bulges this
    curve while leaving mean-CUSUM flat. Deviations are the dimensionless
    (n·x_t − S)/S over exact cents; u² is per-row floor-quantized at
    1e-12, so the cumulative and the total are exact integer folds and
    every s_t is one double division. √(n/2)·stat ships as the
    Kolmogorov-scaled reading (the large-n null is a Brownian bridge).

    Scale: one orders-sized daily rollup, then |days|-row frames through
    the bucketed cumulative and a TakeOrdered(1). The spine is
    session-pinned (:func:`daily_revenue_pinned`, round-11)."""
    daily = daily_revenue_pinned(spark, sf_dir)
    st = daily.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("s"),
    )
    dv = (F.col("n") * F.col("x") - F.col("s")).cast("double") / F.col(
        "s"
    ).cast("double")
    u = daily.crossJoin(F.broadcast(st)).select(
        "day", F.floor(dv * dv * 1e12).cast("long").alias("u2q")
    )
    cum = with_global_order(
        u, F.col("day").cast("timestamp").cast("long"),
        rank="rn", cumsums={"c": "u2q"},
    )
    tot = u.agg(
        F.sum("u2q").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    dev = F.abs(
        F.col("c").cast("double") / F.col("tot")
        - F.col("rn").cast("double") / F.col("n")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.col("n").alias("n_days"),
            F.date_format("day", "yyyy-MM-dd").alias("worst_day"),
            F.col("rn").cast("long").alias("worst_rank"),
            F.round(dev, 6).alias("cusum_sq_stat"),
            F.round(
                F.sqrt(F.col("n").cast("double") / 2.0) * dev, 4
            ).alias("scaled_stat"),
            dev.alias("_dev"),
        )
        .orderBy(F.col("_dev").desc(), F.col("worst_day").asc())
        .limit(1)
        .drop("_dev")
    )


@register(
    "ml_kappa_adjusted",
    """
    WITH labeled AS (
        SELECT CASE WHEN (('0x' || SUBSTRING(MD5('a' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                          % 100) < 55 + (CASE WHEN n_chars >= 300 THEN 20 ELSE 0 END)
                    THEN 1 ELSE 0 END AS ra,
               CASE WHEN (('0x' || SUBSTRING(MD5('b' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                          % 100) < 50 + (CASE WHEN n_chars >= 300 THEN 25 ELSE 0 END)
                    THEN 1 ELSE 0 END AS rb
        FROM documents
    ), c AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(SUM(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(SUM(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS cc,
               CAST(SUM(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS d
        FROM labeled
    )
    SELECT n AS n_docs,
           ROUND(CAST(a + d AS DOUBLE) / n, 6) AS observed_agreement,
           ROUND(2.0 * (a + d) / n - 1.0, 6) AS pabak,
           ROUND(ABS(CAST(a AS DOUBLE) - d) / n, 6) AS prevalence_index,
           ROUND(ABS(CAST(b AS DOUBLE) - cc) / n, 6) AS bias_index,
           ROUND(CAST(b + cc AS DOUBLE) / n, 6) AS disagreement_rate
    FROM c
    """,
)
def ml_kappa_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byrt–Bishop–Carlin kappa adjuncts for the same two simulated
    labelers as ``ml_cohens_kappa`` — the diagnostics that explain WHY a
    κ is low: PABAK = 2p_o − 1 (what κ becomes with balanced prevalence
    and no marginal bias — a gap between PABAK and κ means the paradox,
    not the labelers), the prevalence index |a−d|/n (skew of the
    agreed-on class) and bias index |b−c|/n (systematic disagreement
    direction between annotators). All five outputs are exact-count
    ratios off one 2×2 confusion fold; with κ alone an annotation
    pipeline routinely rejects good labelers on skewed corpora.

    Scale: one map-side-combined aggregation over documents — the same
    single pass as ``ml_cohens_kappa``, counting the four cells instead
    of two margins."""
    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select(
        _labeler("a", 55, 20).alias("ra"), _labeler("b", 50, 25).alias("rb")
    )
    ra, rb = F.col("ra"), F.col("rb")
    c = labeled.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(((ra == 1) & (rb == 1)).cast("int")).cast("long").alias("a"),
        F.sum(((ra == 1) & (rb == 0)).cast("int")).cast("long").alias("b"),
        F.sum(((ra == 0) & (rb == 1)).cast("int")).cast("long").alias("cc"),
        F.sum(((ra == 0) & (rb == 0)).cast("int")).cast("long").alias("d"),
    )
    n = F.col("n").cast("double")
    a, b, cc, d = (F.col(x).cast("double") for x in ("a", "b", "cc", "d"))
    return c.select(
        F.col("n").alias("n_docs"),
        F.round((a + d) / n, 6).alias("observed_agreement"),
        F.round(F.lit(2.0) * (a + d) / n - 1.0, 6).alias("pabak"),
        F.round(F.abs(a - d) / n, 6).alias("prevalence_index"),
        F.round(F.abs(b - cc) / n, 6).alias("bias_index"),
        F.round((b + cc) / n, 6).alias("disagreement_rate"),
    )


@register(
    "ts_sample_entropy",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS HUGEINT))
                    AS HUGEINT) AS x
        FROM orders GROUP BY 1
    ),
    st AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s FROM daily
    ),
    u AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) AS rn,
               CAST(st.n * x - st.s AS DOUBLE) / CAST(st.s AS DOUBLE) AS u
        FROM daily, st
    ),
    sd AS (
        SELECT SQRT(SUM(CAST(FLOOR(u * u * 1e12) AS BIGINT)) / 1e12
                    / COUNT(*)) * 0.2 AS r
        FROM u
    ),
    tpl AS (
        SELECT a.rn, a.u AS u0, b.u AS u1, c.u AS u2
        FROM u a JOIN u b ON b.rn = a.rn + 1
                 JOIN u c ON c.rn = a.rn + 2
    ),
    keyed AS (
        SELECT rn, u0, u1, u2,
               CAST(FLOOR(u0 / sd.r) AS BIGINT) AS b
        FROM tpl, sd
    ),
    probes AS (
        SELECT rn, u0, u1, u2, b + d AS bk
        FROM keyed, UNNEST([-1, 0, 1]) AS t(d)
    ),
    pairs AS (
        SELECT p.u0 AS a0, p.u1 AS a1, p.u2 AS a2,
               k.u0 AS b0, k.u1 AS b1, k.u2 AS b2
        FROM probes p JOIN keyed k ON k.b = p.bk AND k.rn > p.rn, sd
        WHERE ABS(p.u0 - k.u0) <= sd.r AND ABS(p.u1 - k.u1) <= sd.r
    ),
    cnt AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS b_cnt,
               CAST(COUNT(*) FILTER (
                   WHERE ABS(a2 - b2) <= (SELECT r FROM sd)) AS BIGINT)
                   AS a_cnt
        FROM pairs
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tpl) AS n_templates,
           ROUND((SELECT r FROM sd), 8) AS tolerance_r,
           b_cnt AS m2_matches, a_cnt AS m3_matches,
           ROUND(-LN(CAST(a_cnt AS DOUBLE) / b_cnt), 6) AS sampen
    FROM cnt
    """,
)
def ts_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy (Richman–Moorman, m = 2, r = 0.2σ) of the daily
    revenue series: −ln(A/B) where B counts template pairs of length 2
    and A of length 3 agreeing within Chebyshev tolerance r — the
    regularity gauge that drops for predictable/periodic series and rises
    toward ln-of-nothing for white noise; complements the symbolic
    ``ts_permutation_entropy`` (ordinal patterns) with a metric,
    amplitude-aware reading. The naive O(n²) template comparison becomes
    a banded candidate join: templates hash to ⌊u₀/r⌋ buckets, each
    probes its three neighbor buckets (a first-coordinate match forces
    |Δu₀| ≤ r, i.e. adjacent buckets — lossless), and only candidates
    pay the full predicate; rn> keeps each unordered pair once.
    Deviations are the dimensionless exact-cents form; r derives from the
    quantized second moment, so both engines compare identical doubles
    and A, B are exact integers.

    Scale: the template frame is |days|-sized (two rn-equi-joins); the
    banded join is the ``join_range_binned`` shape — candidates ∝
    occupied-bucket collisions, never the n² grid. The spine is
    session-pinned (:func:`daily_revenue_pinned`, round-11)."""
    daily = daily_revenue_pinned(spark, sf_dir)
    st = daily.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("s"),
    )
    u = (
        daily.crossJoin(F.broadcast(st))
        .select(
            "day",
            (
                (F.col("n") * F.col("x") - F.col("s")).cast("double")
                / F.col("s").cast("double")
            ).alias("u"),
        )
        .select(
            F.row_number().over(Window.orderBy("day")).alias("rn"), "u"
        )
    )
    sd = u.agg(
        (
            F.sqrt(
                F.sum(F.floor(F.col("u") * F.col("u") * 1e12).cast("long"))
                / 1e12
                / F.count(F.lit(1))
            )
            * 0.2
        ).alias("r")
    )
    a = u.select(F.col("rn"), F.col("u").alias("u0"))
    b = u.select((F.col("rn") - 1).alias("rn"), F.col("u").alias("u1"))
    c = u.select((F.col("rn") - 2).alias("rn"), F.col("u").alias("u2"))
    tpl = a.join(b, "rn").join(c, "rn")
    keyed = tpl.crossJoin(F.broadcast(sd)).select(
        "rn",
        "u0",
        "u1",
        "u2",
        "r",
        F.floor(F.col("u0") / F.col("r")).cast("long").alias("b"),
    )
    probes = keyed.select(
        F.col("rn").alias("prn"),
        F.col("u0").alias("a0"),
        F.col("u1").alias("a1"),
        F.col("u2").alias("a2"),
        F.explode(
            F.array(F.col("b") - 1, F.col("b"), F.col("b") + 1)
        ).alias("bk"),
    )
    pairs = probes.join(
        keyed, (F.col("b") == F.col("bk")) & (F.col("rn") > F.col("prn"))
    ).filter(
        (F.abs(F.col("a0") - F.col("u0")) <= F.col("r"))
        & (F.abs(F.col("a1") - F.col("u1")) <= F.col("r"))
    )
    cnt = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("b_cnt"),
        F.count_if(F.abs(F.col("a2") - F.col("u2")) <= F.col("r"))
        .cast("long")
        .alias("a_cnt"),
    )
    ntpl = tpl.agg(F.count(F.lit(1)).cast("long").alias("n_templates"))
    return (
        cnt.crossJoin(F.broadcast(ntpl))
        .crossJoin(F.broadcast(sd))
        .select(
            "n_templates",
            F.round(F.col("r"), 8).alias("tolerance_r"),
            F.col("b_cnt").alias("m2_matches"),
            F.col("a_cnt").alias("m3_matches"),
            F.round(
                -F.log(F.col("a_cnt").cast("double") / F.col("b_cnt")), 6
            ).alias("sampen"),
        )
    )


@register(
    "ml_survival_na",
    """
    WITH spans AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0,
               MAX(ts) AS t_last
        FROM events GROUP BY user_id
    ), conv AS (
        SELECT s.user_id,
               DATE_DIFF('day', s.t0,
                   COALESCE(p.tp, s.t_last)) AS dur,
               CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM spans s
        LEFT JOIN (
            SELECT e.user_id, MIN(e.ts) AS tp
            FROM events e JOIN spans s2
              ON e.user_id = s2.user_id AND e.event_type = 'purchase'
             AND e.ts > s2.t0
            GROUP BY e.user_id
        ) p ON p.user_id = s.user_id
        WHERE s.t0 IS NOT NULL
    ), times AS (
        SELECT dur, CAST(SUM(ev) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS leaving
        FROM conv GROUP BY dur
    ), risk AS (
        SELECT dur, d,
               SUM(leaving) OVER (ORDER BY dur DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
        FROM times
    )
    SELECT CAST(dur AS INTEGER) AS day, CAST(n_risk AS BIGINT) AS at_risk,
           d AS n_events,
           ROUND(SUM(CAST(FLOOR(CAST(d AS DOUBLE) / n_risk * 1e9) AS BIGINT))
                 OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) / 1e9, 6) AS cum_hazard,
           ROUND(SUM(CAST(FLOOR(CAST(d AS DOUBLE) * (n_risk - d)
                                / (CAST(n_risk AS DOUBLE) * n_risk * n_risk)
                                * 1e12) AS BIGINT))
                 OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) / 1e12, 8) AS hazard_var
    FROM risk
    WHERE d > 0
    ORDER BY day
    """,
)
def ml_survival_na(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator on the same
    time-to-first-purchase framing as ``ml_survival_km`` —
    H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ with the Klein-survey variance
    Σ dᵢ(nᵢ−dᵢ)/nᵢ³. H is what hazard-based models (Cox, Aalen
    additive) actually estimate; exp(−H) is the Fleming–Harrington
    survival alternative to KM's product-limit, and the two diverge
    exactly where risk sets get small — carrying both makes that
    divergence observable. Per-time terms floor-quantize (1e-9 hazard,
    1e-12 variance) before the running sums, so both curves are
    parallelism-stable.

    Scale: identical to KM — two fact-scale per-user aggregations;
    every window runs on the bounded distinct-duration day frame."""
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t0"),
        F.max("ts").alias("t_last"),
    ).filter(F.col("t0").isNotNull())
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .join(
            spans.select(
                F.col("user_id").alias("u2"), F.col("t0").alias("s_t0")
            ),
            (F.col("user_id") == F.col("u2")) & (F.col("ts") > F.col("s_t0")),
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    conv = spans.join(purch, "user_id", "left").select(
        F.datediff(
            F.coalesce(F.col("tp"), F.col("t_last")).cast("date"),
            F.col("t0").cast("date"),
        ).alias("dur"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    times = conv.groupBy("dur").agg(
        F.sum("ev").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("leaving"),
    )
    w_rev = Window.orderBy(F.desc("dur")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = times.select(
        "dur", "d", F.sum("leaving").over(w_rev).alias("n_risk")
    )
    hz = F.floor(
        F.col("d").cast("double") / F.col("n_risk") * 1e9
    ).cast("long")
    vz = F.floor(
        F.col("d").cast("double")
        * (F.col("n_risk") - F.col("d"))
        / (
            F.col("n_risk").cast("double")
            * F.col("n_risk")
            * F.col("n_risk")
        )
        * 1e12
    ).cast("long")
    w_fwd = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        risk.select(
            F.col("dur").cast("int").alias("day"),
            F.col("n_risk").cast("long").alias("at_risk"),
            F.col("d").alias("n_events"),
            F.round(F.sum(hz).over(w_fwd) / 1e9, 6).alias("cum_hazard"),
            F.round(F.sum(vz).over(w_fwd) / 1e12, 8).alias("hazard_var"),
            F.col("d").alias("_d"),
        )
        .filter(F.col("_d") > 0)
        .drop("_d")
        .orderBy("day")
    )


@register(
    "ml_survival_cif",
    """
    WITH spans AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0,
               MAX(ts) AS t_last
        FROM events GROUP BY user_id
    ), first_ev AS (
        SELECT e.user_id, MIN(e.ts) AS tf
        FROM events e JOIN spans s2
          ON e.user_id = s2.user_id
         AND e.event_type IN ('purchase', 'click')
         AND e.ts > s2.t0
        GROUP BY e.user_id
    ), typed AS (
        SELECT f.user_id, f.tf,
               MIN(e.event_type) AS etype
        FROM first_ev f JOIN events e
          ON e.user_id = f.user_id AND e.ts = f.tf
         AND e.event_type IN ('purchase', 'click')
        GROUP BY f.user_id, f.tf
    ), conv AS (
        SELECT s.user_id,
               DATE_DIFF('day', s.t0, COALESCE(t.tf, s.t_last)) AS dur,
               CASE WHEN t.etype = 'purchase' THEN 1 ELSE 0 END AS dp,
               CASE WHEN t.etype = 'click' THEN 1 ELSE 0 END AS dc
        FROM spans s LEFT JOIN typed t ON t.user_id = s.user_id
        WHERE s.t0 IS NOT NULL
    ), times AS (
        SELECT dur, CAST(SUM(dp) AS BIGINT) AS dp,
               CAST(SUM(dc) AS BIGINT) AS dc,
               CAST(COUNT(*) AS BIGINT) AS leaving
        FROM conv GROUP BY dur
    ), risk AS (
        SELECT dur, dp, dc,
               SUM(leaving) OVER (ORDER BY dur DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS n_risk
        FROM times
    ), surv AS (
        SELECT dur, dp, dc, n_risk,
               COALESCE(SUM(CASE WHEN dp + dc > 0 THEN
                   CAST(FLOOR(LN(GREATEST(1.0
                       - CAST(dp + dc AS DOUBLE) / n_risk, 1e-12)) * 1e9)
                       AS BIGINT) ELSE 0 END)
                   OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS lnq_prev
        FROM risk
    ), terms AS (
        SELECT dur, dp, dc, n_risk,
               CAST(FLOOR(EXP(lnq_prev / 1e9)
                          * (CAST(dp AS DOUBLE) / n_risk) * 1e9)
                    AS BIGINT) AS tp_,
               CAST(FLOOR(EXP(lnq_prev / 1e9)
                          * (CAST(dc AS DOUBLE) / n_risk) * 1e9)
                    AS BIGINT) AS tc_
        FROM surv
    )
    SELECT CAST(dur AS INTEGER) AS day, CAST(n_risk AS BIGINT) AS at_risk,
           dp AS n_purchase, dc AS n_click,
           ROUND(SUM(tp_) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) / 1e9, 6) AS cif_purchase,
           ROUND(SUM(tc_) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) / 1e9, 6) AS cif_click
    FROM terms
    WHERE dp + dc > 0
    ORDER BY day
    """,
)
def ml_survival_cif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen–Johansen cumulative-incidence functions under COMPETING
    RISKS: after the first view, a user's first conversion is either a
    purchase or a click — whichever fires first removes them from risk
    for the other. CIF_k(t) = Σ_{tᵢ≤t} Ŝ(tᵢ₋)·d_{k,i}/nᵢ with Ŝ the
    all-cause Kaplan–Meier — the estimator 1−KM-per-cause gets WRONG
    (it over-counts by treating the competing event as censoring; the
    CIFs here sum with the survivor to exactly 1 in the limit).
    Ŝ(t−) comes from the exp of a lagged running sum of 1e-9-quantized
    ln(1 − d/n) terms, per-time increments floor-quantize at 1e-9, so
    both curves are parallelism-stable and engine-exact. First-event
    type ties on the same timestamp break deterministically (MIN over
    the type string — 'click' < 'purchase', documented).

    Scale: two fact-scale per-user aggregations (same shape as
    ``ml_survival_km``); all windows run on the bounded
    distinct-duration day frame. Output: one row per event day with
    both CIFs."""
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t0"),
        F.max("ts").alias("t_last"),
    ).filter(F.col("t0").isNotNull())
    cand = ev.filter(F.col("event_type").isin("purchase", "click")).join(
        spans.select(F.col("user_id").alias("u2"), F.col("t0").alias("s_t0")),
        (F.col("user_id") == F.col("u2")) & (F.col("ts") > F.col("s_t0")),
    )
    first_ev = cand.groupBy("user_id").agg(F.min("ts").alias("tf"))
    typed = (
        cand.join(
            first_ev.select(
                F.col("user_id").alias("u3"), F.col("tf")
            ),
            (F.col("user_id") == F.col("u3")) & (F.col("ts") == F.col("tf")),
        )
        .groupBy("user_id", "tf")
        .agg(F.min("event_type").alias("etype"))
    )
    conv = spans.join(typed, "user_id", "left").select(
        F.datediff(
            F.coalesce(F.col("tf"), F.col("t_last")).cast("date"),
            F.col("t0").cast("date"),
        ).alias("dur"),
        F.when(F.col("etype") == "purchase", 1).otherwise(0).alias("dp"),
        F.when(F.col("etype") == "click", 1).otherwise(0).alias("dc"),
    )
    times = conv.groupBy("dur").agg(
        F.sum("dp").cast("long").alias("dp"),
        F.sum("dc").cast("long").alias("dc"),
        F.count(F.lit(1)).cast("long").alias("leaving"),
    )
    w_rev = Window.orderBy(F.desc("dur")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = times.select(
        "dur", "dp", "dc", F.sum("leaving").over(w_rev).alias("n_risk")
    )
    d_all = F.col("dp") + F.col("dc")
    lnterm = F.when(
        d_all > 0,
        F.floor(
            F.log(
                F.greatest(
                    F.lit(1.0) - d_all.cast("double") / F.col("n_risk"),
                    F.lit(1e-12),
                )
            )
            * 1e9
        ).cast("long"),
    ).otherwise(F.lit(0))
    w_prev = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, -1
    )
    surv = risk.select(
        "dur",
        "dp",
        "dc",
        "n_risk",
        F.coalesce(F.sum(lnterm).over(w_prev), F.lit(0)).alias("lnq_prev"),
    )
    s_prev = F.exp(F.col("lnq_prev") / 1e9)
    terms = surv.select(
        "dur",
        "dp",
        "dc",
        "n_risk",
        F.floor(
            s_prev * (F.col("dp").cast("double") / F.col("n_risk")) * 1e9
        )
        .cast("long")
        .alias("tp_"),
        F.floor(
            s_prev * (F.col("dc").cast("double") / F.col("n_risk")) * 1e9
        )
        .cast("long")
        .alias("tc_"),
    )
    w_fwd = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        terms.select(
            F.col("dur").cast("int").alias("day"),
            F.col("n_risk").cast("long").alias("at_risk"),
            F.col("dp").alias("n_purchase"),
            F.col("dc").alias("n_click"),
            F.round(F.sum("tp_").over(w_fwd) / 1e9, 6).alias(
                "cif_purchase"
            ),
            F.round(F.sum("tc_").over(w_fwd) / 1e9, 6).alias("cif_click"),
            (F.col("dp") + F.col("dc")).alias("_d"),
        )
        .filter(F.col("_d") > 0)
        .drop("_d")
        .orderBy("day")
    )
