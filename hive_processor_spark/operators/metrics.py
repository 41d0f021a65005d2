"""Model-quality metrics and nonparametric statistical tests — the
"evaluate a model / compare two populations inside the engine" family
(dispatched through the same registry surface the reference exposes via
``Processor.call``, reference ``src/processor.ts:57-89``; the reference
implements none of these natively — its SQL plane would run them in
Postgres, here they are native Spark plans).

Every metric reduces to counting and closed-form algebra over one or two
aggregation passes, so the distributed shape is always partial→final
aggregation (map-side combined) with at most a tiny broadcast join back —
no iteration, no driver math. Determinism discipline: counts and ranks are
exact integers; every data-dependent double sum goes through the
``functions/exact.py`` floor-quantization so results hash-match DuckDB at
any parallelism (the precision/recall/NDCG/KS numbers you publish must not
change when AQE re-plans the shuffle).

Label convention on the synthetic ``events`` table: a ``purchase`` row is a
positive outcome, ``value`` (scaled) is the model score — the fixture's
stand-in for a scored eval set.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_processor_spark.engine import register
from hive_processor_spark.functions.exact import dsum, sql_dsum
from hive_processor_spark.functions.normdist import (
    norm_cdf,
    norm_ppf,
    sql_norm_cdf,
    sql_norm_ppf,
)
from hive_processor_spark.functions.orderstat import (
    grouped_order_statistics,
    with_global_order,
)
from hive_processor_spark.sources.tables import load_table


@register(
    "ml_confusion_matrix",
    """
    WITH s AS (
        SELECT (event_type = 'purchase') AS y,
               (value >= 100.0) AS pred
        FROM events
    )
    SELECT CAST(COUNT(*) FILTER (WHERE y AND pred) AS BIGINT) AS tp,
           CAST(COUNT(*) FILTER (WHERE NOT y AND pred) AS BIGINT) AS fp,
           CAST(COUNT(*) FILTER (WHERE y AND NOT pred) AS BIGINT) AS fn,
           CAST(COUNT(*) FILTER (WHERE NOT y AND NOT pred) AS BIGINT) AS tn,
           ROUND(CAST(COUNT(*) FILTER (WHERE y AND pred) AS DOUBLE)
                 / NULLIF(COUNT(*) FILTER (WHERE pred), 0), 6) AS precision,
           ROUND(CAST(COUNT(*) FILTER (WHERE y AND pred) AS DOUBLE)
                 / NULLIF(COUNT(*) FILTER (WHERE y), 0), 6) AS recall,
           ROUND(CAST(2 * COUNT(*) FILTER (WHERE y AND pred) AS DOUBLE)
                 / NULLIF(2 * COUNT(*) FILTER (WHERE y AND pred)
                          + COUNT(*) FILTER (WHERE NOT y AND pred)
                          + COUNT(*) FILTER (WHERE y AND NOT pred), 0), 6)
               AS f1,
           ROUND(CAST(COUNT(*) FILTER (WHERE y = pred) AS DOUBLE)
                 / COUNT(*), 6) AS accuracy
    FROM s
    """,
)
def ml_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-classifier confusion matrix + derived metrics in ONE
    conditional-count aggregation (y = purchase, decision threshold
    value ≥ 100): tp/fp/fn/tn, precision, recall, F1, accuracy. All eight
    outputs are ratios of exact integer counts — bit-stable anywhere. At
    100 TB this is a single partial→final count pass over the eval set;
    nothing shuffles but eight longs per partition."""
    ev = load_table(spark, sf_dir, "events")
    y = F.col("event_type") == "purchase"
    pred = F.col("value") >= 100.0
    cnt = lambda c: F.count_if(c)  # noqa: E731
    s = ev.agg(
        cnt(y & pred).alias("tp"),
        cnt(~y & pred).alias("fp"),
        cnt(y & ~pred).alias("fn"),
        cnt(~y & ~pred).alias("tn"),
        cnt(y == pred).alias("ok"),
        F.count(F.lit(1)).alias("n"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    d = lambda c: c.cast("double")  # noqa: E731
    return s.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(d(tp) / F.nullif(d(tp + fp), F.lit(0.0)), 6).alias("precision"),
        F.round(d(tp) / F.nullif(d(tp + fn), F.lit(0.0)), 6).alias("recall"),
        F.round(
            d(F.lit(2) * tp) / F.nullif(d(F.lit(2) * tp + fp + fn), F.lit(0.0)), 6
        ).alias("f1"),
        F.round(d(F.col("ok")) / d(F.col("n")), 6).alias("accuracy"),
    )


@register(
    "ml_pr_curve",
    """
    WITH b AS (
        SELECT LEAST(CAST(FLOOR(value / 50.0) AS BIGINT), 9) AS bucket,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                   AS pos,
               CAST(COUNT(*) FILTER (WHERE event_type <> 'purchase') AS BIGINT)
                   AS neg
        FROM events GROUP BY 1
    ), spine AS (
        SELECT UNNEST(RANGE(0, 10)) AS bucket
    ), dense AS (
        SELECT s.bucket, COALESCE(b.pos, 0) AS pos, COALESCE(b.neg, 0) AS neg
        FROM spine s LEFT JOIN b ON b.bucket = s.bucket
    ), cum AS (
        SELECT bucket,
               SUM(pos) OVER (ORDER BY bucket DESC) AS tp,
               SUM(neg) OVER (ORDER BY bucket DESC) AS fp,
               SUM(pos) OVER () AS all_pos
        FROM dense
    )
    SELECT CAST(bucket * 50 AS DOUBLE) AS threshold,
           CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0), 6) AS precision,
           ROUND(CAST(tp AS DOUBLE) / NULLIF(all_pos, 0), 6) AS recall
    FROM cum ORDER BY threshold
    """,
)
def ml_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall curve at ten score thresholds (0, 50, … 450).
    The heavy stage is ONE bucketed conditional count (10-row result);
    the curve itself is a descending cumulative window over that 10-row
    frame joined to a dense threshold spine — at 100 TB the window costs
    nothing because it runs after the reduction, the standard way to get a
    full PR curve in one pass instead of re-scanning per threshold."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 50.0).cast("bigint"), F.lit(9))
    b = ev.groupBy(bucket.alias("bucket")).agg(
        F.count_if(F.col("event_type") == "purchase").alias("pos"),
        F.count_if(F.col("event_type") != "purchase").alias("neg"),
    )
    spine = spark.range(10).select(F.col("id").alias("bucket"))
    dense = (
        spine.join(F.broadcast(b), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("pos", F.lit(0)).alias("pos"),
            F.coalesce("neg", F.lit(0)).alias("neg"),
        )
    )
    w = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = dense.select(
        "bucket",
        F.sum("pos").over(w).alias("tp"),
        F.sum("neg").over(w).alias("fp"),
        F.sum("pos").over(wall).alias("all_pos"),
    )
    tp, fp = F.col("tp"), F.col("fp")
    return cum.select(
        (F.col("bucket") * 50).cast("double").alias("threshold"),
        tp.alias("tp"),
        fp.alias("fp"),
        F.round(
            tp.cast("double") / F.nullif((tp + fp).cast("double"), F.lit(0.0)), 6
        ).alias("precision"),
        F.round(
            tp.cast("double") / F.nullif(F.col("all_pos").cast("double"), F.lit(0.0)),
            6,
        ).alias("recall"),
    ).orderBy("threshold")


@register(
    "ml_ndcg",
    f"""
    WITH rel AS (
        SELECT user_id, event_id, value,
               CASE event_type WHEN 'purchase' THEN 3 WHEN 'click' THEN 2
                    WHEN 'view' THEN 1 ELSE 0 END AS rel
        FROM events
    ), ranked AS (
        SELECT user_id, rel,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY value DESC, event_id) AS pos,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY rel DESC, event_id) AS ideal_pos
        FROM rel
    ), terms AS (
        SELECT user_id,
               SUM(CASE WHEN pos <= 10 THEN CAST(FLOOR(1000000.0 *
                   (POW(2.0, rel) - 1.0) / LOG2(CAST(pos + 1 AS DOUBLE)))
                   AS BIGINT) ELSE 0 END) AS dcg_q,
               SUM(CASE WHEN ideal_pos <= 10 THEN CAST(FLOOR(1000000.0 *
                   (POW(2.0, rel) - 1.0) / LOG2(CAST(ideal_pos + 1 AS DOUBLE)))
                   AS BIGINT) ELSE 0 END) AS idcg_q
        FROM ranked GROUP BY user_id
    ), per_user AS (
        SELECT user_id,
               ROUND(CAST(dcg_q AS DOUBLE) / idcg_q, 6) AS ndcg
        FROM terms WHERE idcg_q > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND({sql_dsum('ndcg', 6)} / COUNT(*), 6) AS avg_ndcg_at_10
    FROM per_user
    """,
)
def ml_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the score-ranked event list per user (relevance grades:
    purchase 3 > click 2 > view 1 > other 0), averaged over users.

    Exactness: each DCG term ``(2^rel − 1)/log2(pos+1)`` is
    floor-quantized to integer millionths BEFORE the per-user sum, so the
    user's DCG/IDCG are exact integers and their ratio is one deterministic
    double division; the corpus average then runs through the same
    quantized-sum discipline. Two windows + one groupBy, all partitioned by
    user — the natural key distribution, no skew, no driver math."""
    ev = load_table(spark, sf_dir, "events")
    rel = ev.select(
        "user_id",
        "event_id",
        "value",
        F.when(F.col("event_type") == "purchase", 3)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "view", 1)
        .otherwise(0)
        .alias("rel"),
    )
    w_pred = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    w_ideal = Window.partitionBy("user_id").orderBy(F.desc("rel"), "event_id")
    ranked = rel.select(
        "user_id",
        "rel",
        F.row_number().over(w_pred).alias("pos"),
        F.row_number().over(w_ideal).alias("ideal_pos"),
    )

    def term_q(pos_col: str):
        gain = F.pow(F.lit(2.0), F.col("rel")) - F.lit(1.0)
        disc = F.log2((F.col(pos_col) + 1).cast("double"))
        return F.when(
            F.col(pos_col) <= 10,
            F.floor(F.lit(1000000.0) * gain / disc).cast("bigint"),
        ).otherwise(F.lit(0))

    terms = ranked.groupBy("user_id").agg(
        F.sum(term_q("pos")).alias("dcg_q"),
        F.sum(term_q("ideal_pos")).alias("idcg_q"),
    )
    per_user = terms.filter(F.col("idcg_q") > 0).select(
        "user_id",
        F.round(F.col("dcg_q").cast("double") / F.col("idcg_q"), 6).alias("ndcg"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(dsum("ndcg", 6) / F.count(F.lit(1)), 6).alias("avg_ndcg_at_10"),
    )


@register(
    "stats_ks_test",
    """
    WITH pts AS (
        SELECT value,
               CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS na,
               CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS nb
        FROM events WHERE event_type IN ('click', 'view')
        GROUP BY value
    ), cum AS (
        SELECT SUM(na) OVER (ORDER BY value) AS ca,
               SUM(nb) OVER (ORDER BY value) AS cb,
               SUM(na) OVER () AS ta, SUM(nb) OVER () AS tb
        FROM pts
    )
    SELECT CAST(MAX(ta) AS BIGINT) AS n_a,
           CAST(MAX(tb) AS BIGINT) AS n_b,
           ROUND(MAX(ABS(CAST(ca AS DOUBLE) / ta - CAST(cb AS DOUBLE) / tb)), 6)
               AS ks_d,
           ROUND(MAX(ABS(CAST(ca AS DOUBLE) / ta - CAST(cb AS DOUBLE) / tb))
                 * SQRT(CAST(MAX(ta) * MAX(tb) AS DOUBLE)
                        / (MAX(ta) + MAX(tb))), 6) AS ks_stat
    FROM cum
    """,
)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the ``click`` and
    ``view`` value distributions: D = max |F̂_a(x) − F̂_b(x)| over the
    pooled support, plus the scaled statistic D·√(n_a·n_b/(n_a+n_b)).

    Shape: group once BY VALUE (shuffle ∝ distinct values, the same
    integer-histogram trick as the exact-median operators), bucketed
    two-level cumulatives over that reduced frame (round-6 window-audit
    fix — the distinct-value frame grows until the value domain
    saturates), one max. Every ECDF value is an exact integer ratio, so
    D is deterministic to the last bit."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    pts = ev.groupBy("value").agg(
        F.count_if(F.col("event_type") == "click").alias("na"),
        F.count_if(F.col("event_type") == "view").alias("nb"),
    )
    tot = pts.agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb")
    )
    cum = with_global_order(
        pts, "value", cumsums={"ca": "na", "cb": "nb"}
    ).crossJoin(F.broadcast(tot))
    diff = F.abs(
        F.col("ca").cast("double") / F.col("ta")
        - F.col("cb").cast("double") / F.col("tb")
    )
    return cum.agg(
        F.max("ta").alias("n_a"),
        F.max("tb").alias("n_b"),
        F.round(F.max(diff), 6).alias("ks_d"),
        F.round(
            F.max(diff)
            * F.sqrt(
                (F.max("ta") * F.max("tb")).cast("double")
                / (F.max("ta") + F.max("tb"))
            ),
            6,
        ).alias("ks_stat"),
    )


@register(
    "stats_mann_whitney",
    """
    WITH pts AS (
        SELECT value,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                   AS na,
               CAST(COUNT(*) AS BIGINT) AS t
        FROM events WHERE event_type IN ('purchase', 'view')
        GROUP BY value
    ), rk AS (
        SELECT na, t,
               COALESCE(SUM(t) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        FROM pts
    ), s AS (
        SELECT SUM(na * (below + (t + 1) / 2.0)) AS r1,
               SUM(na) AS n1, SUM(t) - SUM(na) AS n2, SUM(t) AS n,
               SUM(t * t * t - t) AS tie3
        FROM rk
    )
    SELECT CAST(n1 AS BIGINT) AS n_a,
           CAST(n2 AS BIGINT) AS n_b,
           ROUND(r1 - n1 * (n1 + 1) / 2.0, 1) AS u_stat,
           ROUND(((r1 - n1 * (n1 + 1) / 2.0) - n1 * n2 / 2.0)
                 / SQRT(CAST(n1 AS DOUBLE) * n2 / 12.0
                        * ((n + 1) - CAST(tie3 AS DOUBLE) / (n * (n - 1)))), 6)
               AS z_score
    FROM s
    """,
)
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (rank-sum) test comparing ``purchase`` vs ``view``
    values, with the tie-corrected normal approximation z-score.

    Average ranks come from the grouped-by-value layout: rank(v) =
    (#smaller) + (ties+1)/2 — half-integers, exact in doubles — so R₁, U,
    and the tie term Σ(t³−t) are all exact; the only irrational op is the
    final √ of the variance. Same scale shape as the KS test: one shuffle
    ∝ distinct values, then the bucketed two-level cumulative over the
    reduced frame (round-6 window-audit fix)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    pts = ev.groupBy("value").agg(
        F.count_if(F.col("event_type") == "purchase").alias("na"),
        F.count(F.lit(1)).alias("t"),
    )
    rk = with_global_order(pts, "value", cumsums={"ct": "t"}).select(
        "na", "t", (F.col("ct") - F.col("t")).alias("below")
    )
    s = rk.agg(
        F.sum(
            F.col("na") * (F.col("below") + (F.col("t") + 1) / F.lit(2.0))
        ).alias("r1"),
        F.sum("na").alias("n1"),
        (F.sum("t") - F.sum("na")).alias("n2"),
        F.sum("t").alias("n"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie3"),
    )
    n1, n2, n = F.col("n1"), F.col("n2"), F.col("n")
    u = F.col("r1") - n1 * (n1 + 1) / F.lit(2.0)
    sigma = F.sqrt(
        n1.cast("double") * n2 / F.lit(12.0)
        * ((n + 1) - F.col("tie3").cast("double") / (n * (n - 1)))
    )
    return s.select(
        n1.cast("bigint").alias("n_a"),
        n2.cast("bigint").alias("n_b"),
        F.round(u, 1).alias("u_stat"),
        F.round((u - n1 * n2 / F.lit(2.0)) / sigma, 6).alias("z_score"),
    )


@register(
    "agg_winsorized_mean",
    f"""
    WITH q AS (
        SELECT c_mktsegment,
               QUANTILE_CONT(c_acctbal, 0.05) AS lo,
               QUANTILE_CONT(c_acctbal, 0.95) AS hi
        FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND({sql_dsum('LEAST(GREATEST(c_acctbal, lo), hi)')} / COUNT(*), 4)
               AS winsorized_mean,
           ROUND({sql_dsum('c_acctbal')} / COUNT(*), 4) AS raw_mean
    FROM customer c JOIN q ON q.c_mktsegment = c.c_mktsegment
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean (clip at the 5th/95th percentile, then average) per
    market segment, next to the raw mean — the robust-location estimator
    that, unlike the trimmed mean, keeps n constant by clamping outliers
    instead of dropping them. Two passes: an exact-percentile aggregate
    per segment (5 rows, broadcast back) and one quantized-sum average of
    the clipped column. At 100 TB the percentile pass is the same
    distributed exact-percentile machinery as ``agg_percentile``; the
    clip+mean pass is map-only before its final aggregation."""
    cust = load_table(spark, sf_dir, "customer")
    q = cust.groupBy("c_mktsegment").agg(
        F.percentile("c_acctbal", F.lit(0.05)).alias("lo"),
        F.percentile("c_acctbal", F.lit(0.95)).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("c_acctbal"), F.col("lo")), F.col("hi"))
    return (
        cust.join(F.broadcast(q), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(dsum(clipped) / F.count(F.lit(1)), 4).alias("winsorized_mean"),
            F.round(dsum("c_acctbal") / F.count(F.lit(1)), 4).alias("raw_mean"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "agg_theil_index",
    f"""
    WITH mu AS (
        SELECT c_mktsegment,
               {sql_dsum('c_acctbal')} / COUNT(*) AS mean_bal,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM customer WHERE c_acctbal > 0 GROUP BY c_mktsegment
    )
    SELECT c.c_mktsegment, n,
           ROUND(CAST(SUM(CAST(FLOOR(1000000.0 * (c_acctbal / mean_bal)
                     * LN(c_acctbal / mean_bal)) AS BIGINT)) AS DOUBLE)
                 / 1000000.0 / n, 6) AS theil_t
    FROM customer c JOIN mu ON mu.c_mktsegment = c.c_mktsegment
    WHERE c_acctbal > 0
    GROUP BY c.c_mktsegment, n
    ORDER BY c.c_mktsegment
    """,
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of positive account balances per segment:
    T = (1/n)·Σ (x/μ)·ln(x/μ) — the entropy-based complement to the Gini
    coefficient already in the registry (``agg_gini``), decomposable
    across subgroups, which is why large-corpus audits prefer it. Two
    aggregation passes (exact mean, then quantized term sum against the
    broadcast means); per-row terms are floor-quantized to millionths so
    the Σ is order-independent."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    mu = cust.groupBy("c_mktsegment").agg(
        (dsum("c_acctbal") / F.count(F.lit(1))).alias("mean_bal"),
        F.count(F.lit(1)).alias("n"),
    )
    ratio = F.col("c_acctbal") / F.col("mean_bal")
    term_q = F.floor(F.lit(1000000.0) * ratio * F.log(ratio)).cast("bigint")
    return (
        cust.join(F.broadcast(mu), "c_mktsegment")
        .groupBy("c_mktsegment", "n")
        .agg(
            F.round(
                F.sum(term_q).cast("double") / F.lit(1000000.0) / F.col("n").cast("double"),
                6,
            ).alias("theil_t")
        )
        .select("c_mktsegment", "n", "theil_t")
        .orderBy("c_mktsegment")
    )


@register(
    "ts_cross_correlation",
    """
    WITH daily AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
               CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS c,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS p
        FROM events GROUP BY 1
    ), lags AS (
        SELECT UNNEST(RANGE(0, 8)) AS lag
    ), j AS (
        SELECT lag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(a.c) AS DOUBLE) AS sx, CAST(SUM(b.p) AS DOUBLE) AS sy,
               CAST(SUM(a.c * b.p) AS DOUBLE) AS sxy,
               CAST(SUM(a.c * a.c) AS DOUBLE) AS sxx,
               CAST(SUM(b.p * b.p) AS DOUBLE) AS syy
        FROM lags
        JOIN daily a ON TRUE
        JOIN daily b ON b.day = a.day + CAST(lag AS INTEGER)
        GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_days,
           ROUND((n * sxy - sx * sy)
                 / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r
    FROM j ORDER BY lag
    """,
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the daily click series and the
    daily purchase series (does click volume lead purchases?): Pearson r
    of (clicks on day d, purchases on day d+lag) for lags 0…7.

    The events table reduces to ONE row per day first (partial→final
    conditional counts — the only stage that sees the raw data), and the
    lag scan is a broadcast-joined 8×|days| self-join over that daily
    frame with r computed from exact integer sufficient sums. The same
    plan at 100 TB still shuffles only the daily rollup."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.count_if(F.col("event_type") == "click").alias("c"),
        F.count_if(F.col("event_type") == "purchase").alias("p"),
    )
    lags = spark.range(8).select(F.col("id").cast("int").alias("lag"))
    a = daily.alias("a").crossJoin(F.broadcast(lags))
    b = daily.select(
        F.col("day").alias("b_day"), F.col("p").alias("b_p")
    ).alias("b")
    j = (
        a.join(b, F.col("b_day") == F.date_add(F.col("a.day"), F.col("lag")))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("a.c").cast("double").alias("sx"),
            F.sum("b_p").cast("double").alias("sy"),
            F.sum(F.col("a.c") * F.col("b_p")).cast("double").alias("sxy"),
            F.sum(F.col("a.c") * F.col("a.c")).cast("double").alias("sxx"),
            F.sum(F.col("b_p") * F.col("b_p")).cast("double").alias("syy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return j.select(
        F.col("lag").cast("bigint").alias("lag"),
        n.cast("bigint").alias("n_days"),
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r"),
    ).orderBy("lag")

@register(
    "stats_anova_oneway",
    f"""
    WITH gtot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               {sql_dsum('c_acctbal')} AS s,
               {sql_dsum('c_acctbal * c_acctbal')} AS ss
        FROM customer
    ), g AS (
        SELECT c_mktsegment,
               CAST(COUNT(*) AS DOUBLE) AS ni,
               {sql_dsum('c_acctbal')} AS si,
               {sql_dsum('c_acctbal * c_acctbal')} AS ssi
        FROM customer GROUP BY c_mktsegment
    ), red AS (
        SELECT COUNT(*) AS k,
               SUM(CAST(FLOOR((ssi - si * si / ni) * 10000.0)
                        AS DECIMAL(28,0))) AS ssw_q
        FROM g
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           n,
           ROUND((ss - s * s / n) - CAST(ssw_q AS DOUBLE) / 10000.0, 4)
               AS ss_between,
           ROUND(CAST(ssw_q AS DOUBLE) / 10000.0, 4) AS ss_within,
           ROUND((((ss - s * s / n) - CAST(ssw_q AS DOUBLE) / 10000.0)
                  / (k - 1))
                 / ((CAST(ssw_q AS DOUBLE) / 10000.0) / (n - k)), 6)
               AS f_stat
    FROM red CROSS JOIN gtot
    """,
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic for account balance across market
    segments — does the group mean differ anywhere? Completes the
    engine's hypothesis-test family (t-test, χ², KS, Mann–Whitney, runs
    test already registered). Sufficient-statistics shape: one grouped
    pass collects (nᵢ, Σx, Σx²) per segment through the quantized-sum
    discipline; SSB/SSW/F are scalar algebra over the k-row frame. At
    100 TB: one partial→final aggregate, five rows shuffled.

    Determinism (round-4 fix, caught by the sf0.1 standing gate): the
    k-row reduction used to ``SUM`` five DOUBLE group terms, whose
    accumulation order differs between engines — ``ss_between`` drifted
    one ulp across a ROUND(…, 4) boundary at sf0.1. Now the grand totals
    (n, Σx, Σx²) come from one exact global quantized sum, and the
    per-group SSW terms are floor-quantized at 1e-4 and summed in an
    exact DECIMAL accumulator — no cross-row double addition anywhere."""
    cust = load_table(spark, sf_dir, "customer")
    x = F.col("c_acctbal")
    glob = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum(x).alias("s"),
        dsum(x * x).alias("ss"),
    )
    g = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("double").alias("ni"),
        dsum(x).alias("si"),
        dsum(x * x).alias("ssi"),
    )
    red = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(
            F.floor(
                (F.col("ssi") - F.col("si") * F.col("si") / F.col("ni"))
                * 10000.0
            ).cast("decimal(28,0)")
        ).alias("ssw_q"),
    )
    t = red.crossJoin(F.broadcast(glob))
    k, n, s, ss = (F.col(c) for c in ("k", "n", "s", "ss"))
    ssw = F.col("ssw_q").cast("double") / 10000.0
    sst = ss - s * s / n
    return t.select(
        k.cast("bigint").alias("k_groups"),
        n.alias("n"),
        F.round(sst - ssw, 4).alias("ss_between"),
        F.round(ssw, 4).alias("ss_within"),
        F.round(((sst - ssw) / (k - 1)) / (ssw / (n - k)), 6).alias("f_stat"),
    )


@register(
    "ml_lift_deciles",
    """
    WITH scored AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               NTILE(10) OVER (ORDER BY value DESC, event_id) AS decile
        FROM events
    ), d AS (
        SELECT decile,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS conv
        FROM scored GROUP BY decile
    ), c AS (
        SELECT decile, n, conv,
               SUM(conv) OVER (ORDER BY decile) AS cum_conv,
               SUM(n) OVER (ORDER BY decile) AS cum_n,
               SUM(conv) OVER () AS tot_conv, SUM(n) OVER () AS tot_n
        FROM d
    )
    SELECT decile, n, conv,
           ROUND(CAST(conv AS DOUBLE) / n, 6) AS conv_rate,
           ROUND(CAST(cum_conv AS DOUBLE) / tot_conv, 6) AS cum_gain,
           ROUND((CAST(conv AS DOUBLE) / n)
                 / (CAST(tot_conv AS DOUBLE) / tot_n), 6) AS lift
    FROM c ORDER BY decile
    """,
)
def ml_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift/gains table by score decile — the model-evaluation report a
    targeting campaign reads: conversion rate, cumulative gain, and lift
    vs the base rate for each tenth of the score-ranked population. NTILE
    is deterministic because the order chain (value DESC, event_id) is
    unique; all metrics are ratios of exact counts. The tile assignment
    is distributed (round-6 window-audit fix): bucketed two-level rank
    plus NTILE arithmetic (functions/orderstat.py) — no single-partition
    sort of the event stream; the per-decile rollup after it is ten
    rows."""
    from hive_processor_spark.functions.orderstat import ntile_expr

    ev = load_table(spark, sf_dir, "events")
    tot = ev.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    ranked = with_global_order(
        ev.select("value", "event_id", "event_type"),
        "value",
        ["event_id"],
        rank="r",
        desc=True,
    )
    scored = ranked.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        ntile_expr(F.col("r"), F.col("n_all"), 10)
        .cast("bigint")
        .alias("decile"),
    )
    d = scored.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("conv")
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    c = d.select(
        "decile",
        "n",
        "conv",
        F.sum("conv").over(w_cum).alias("cum_conv"),
        F.sum("conv").over(w_all).alias("tot_conv"),
        F.sum("n").over(w_all).alias("tot_n"),
    )
    conv_rate = F.col("conv").cast("double") / F.col("n")
    base_rate = F.col("tot_conv").cast("double") / F.col("tot_n")
    return c.select(
        "decile",
        "n",
        "conv",
        F.round(conv_rate, 6).alias("conv_rate"),
        F.round(F.col("cum_conv").cast("double") / F.col("tot_conv"), 6).alias(
            "cum_gain"
        ),
        F.round(conv_rate / base_rate, 6).alias("lift"),
    ).orderBy("decile")

@register(
    "ml_psi_stability",
    """
    WITH b AS (
        SELECT LEAST(CAST(FLOOR(value / 50.0) AS BIGINT), 9) AS bucket,
               CAST(COUNT(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS na,
               CAST(COUNT(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS nb
        FROM events GROUP BY 1
    ), p AS (
        SELECT bucket,
               GREATEST(CAST(na AS DOUBLE) / SUM(na) OVER (), 1e-6) AS pa,
               GREATEST(CAST(nb AS DOUBLE) / SUM(nb) OVER (), 1e-6) AS pb
        FROM b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           ROUND(CAST(SUM(CAST(FLOOR(1000000000.0 * (pa - pb) * LN(pa / pb))
                     AS BIGINT)) AS DOUBLE) / 1000000000.0, 6) AS psi
    FROM p
    """,
)
def ml_psi_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the score distributions of two
    user cohorts (even vs odd user_id — the fixture's stand-in for
    reference vs current window): Σ (p_a − p_b)·ln(p_a/p_b) over ten
    fixed score buckets, the drift gate every deployed-model monitor
    evaluates (PSI > 0.25 → investigate). One bucketed conditional count
    is the only stage that sees data; zero-share buckets floor at 1e-6 on
    both engines and each term is nano-quantized before the 10-term
    sum."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 50.0).cast("bigint"), F.lit(9))
    b = ev.groupBy(bucket.alias("bucket")).agg(
        F.count_if(F.col("user_id") % 2 == 0).alias("na"),
        F.count_if(F.col("user_id") % 2 == 1).alias("nb"),
    )
    wall = Window.partitionBy()
    p = b.select(
        "bucket",
        F.greatest(
            F.col("na").cast("double") / F.sum("na").over(wall), F.lit(1e-6)
        ).alias("pa"),
        F.greatest(
            F.col("nb").cast("double") / F.sum("nb").over(wall), F.lit(1e-6)
        ).alias("pb"),
    )
    term = F.floor(
        F.lit(1000000000.0)
        * (F.col("pa") - F.col("pb"))
        * F.log(F.col("pa") / F.col("pb"))
    ).cast("bigint")
    return p.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(F.sum(term).cast("double") / F.lit(1000000000.0), 6).alias("psi"),
    )


@register(
    "ml_brier_score",
    f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND({sql_dsum(
               "(LEAST(value / 500.0, 1.0) - "
               "CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END) * "
               "(LEAST(value / 500.0, 1.0) - "
               "CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END)", 6)}
               / COUNT(*), 6) AS brier
    FROM events
    """,
)
def ml_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the value-derived probability forecast (p =
    value/500 clipped to 1) against the purchase outcome — the proper
    scoring rule that complements the calibration-error operator. One
    quantized-sum pass; the squared errors are floor-quantized to
    micros, so the corpus mean is bit-stable at any parallelism."""
    ev = load_table(spark, sf_dir, "events")
    p = F.least(F.col("value") / 500.0, F.lit(1.0))
    y = F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0)
    err2 = (p - y) * (p - y)
    return ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(dsum(err2, 6) / F.count(F.lit(1)), 6).alias("brier"),
    )

@register(
    "ml_information_value",
    """
    WITH b AS (
        SELECT LEAST(CAST(FLOOR(value / 50.0) AS BIGINT), 9) AS bucket,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                   AS good,
               CAST(COUNT(*) FILTER (WHERE event_type <> 'purchase') AS BIGINT)
                   AS bad
        FROM events GROUP BY 1
    ), p AS (
        SELECT bucket,
               GREATEST(CAST(good AS DOUBLE) / SUM(good) OVER (), 1e-6) AS pg,
               GREATEST(CAST(bad AS DOUBLE) / SUM(bad) OVER (), 1e-6) AS pb
        FROM b
    )
    SELECT bucket,
           ROUND(CAST(FLOOR(1000000000.0 * LN(pg / pb)) AS BIGINT)
                 / 1000000000.0, 6) AS woe,
           ROUND(CAST(FLOOR(1000000000.0 * (pg - pb) * LN(pg / pb)) AS BIGINT)
                 / 1000000000.0, 6) AS iv_term,
           ROUND(SUM(CAST(FLOOR(1000000000.0 * (pg - pb) * LN(pg / pb))
                 AS BIGINT)) OVER () / 1000000000.0, 6) AS iv_total
    FROM p ORDER BY bucket
    """,
)
def ml_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence and information value of the score feature
    against the purchase outcome, per bucket plus the IV total — the
    credit-scoring feature-screening standard (IV < 0.02 useless,
    > 0.3 strong). Same single-pass bucketed-count shape as the PSI
    operator; WoE/IV terms nano-quantized so the windowed total is
    order-independent."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 50.0).cast("bigint"), F.lit(9))
    b = ev.groupBy(bucket.alias("bucket")).agg(
        F.count_if(F.col("event_type") == "purchase").alias("good"),
        F.count_if(F.col("event_type") != "purchase").alias("bad"),
    )
    wall = Window.partitionBy()
    p = b.select(
        "bucket",
        F.greatest(
            F.col("good").cast("double") / F.sum("good").over(wall), F.lit(1e-6)
        ).alias("pg"),
        F.greatest(
            F.col("bad").cast("double") / F.sum("bad").over(wall), F.lit(1e-6)
        ).alias("pb"),
    )
    woe = F.log(F.col("pg") / F.col("pb"))
    term_q = F.floor(F.lit(1000000000.0) * (F.col("pg") - F.col("pb")) * woe).cast(
        "bigint"
    )
    woe_q = F.floor(F.lit(1000000000.0) * woe).cast("bigint")
    return p.select(
        "bucket",
        F.round(woe_q / F.lit(1000000000.0), 6).alias("woe"),
        F.round(term_q / F.lit(1000000000.0), 6).alias("iv_term"),
        F.round(
            F.sum(term_q).over(wall) / F.lit(1000000000.0), 6
        ).alias("iv_total"),
    ).orderBy("bucket")

@register(
    "stats_two_proportion_z",
    """
    WITH g AS (
        SELECT CAST(COUNT(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS n_a,
               CAST(COUNT(*) FILTER (WHERE user_id % 2 = 0
                    AND event_type = 'purchase') AS BIGINT) AS x_a,
               CAST(COUNT(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS n_b,
               CAST(COUNT(*) FILTER (WHERE user_id % 2 = 1
                    AND event_type = 'purchase') AS BIGINT) AS x_b
        FROM events
    )
    SELECT n_a, x_a, n_b, x_b,
           ROUND(CAST(x_a AS DOUBLE) / n_a, 6) AS rate_a,
           ROUND(CAST(x_b AS DOUBLE) / n_b, 6) AS rate_b,
           ROUND((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
                 / SQRT((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score
    FROM g
    """,
)
def stats_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on conversion rate between the two user
    cohorts (even vs odd user_id — the fixture's A/B split): pooled
    standard error, one-pass conditional counts — the experiment-readout
    companion to the Welch t (means), χ² (categorical), Mann-Whitney
    (ranks), and KS (distributions) tests already registered. Every
    input to the z formula is an exact integer, so the statistic is one
    deterministic expression over a single aggregate row."""
    ev = load_table(spark, sf_dir, "events")
    even, odd = F.col("user_id") % 2 == 0, F.col("user_id") % 2 == 1
    y = F.col("event_type") == "purchase"
    g = ev.agg(
        F.count_if(even).alias("n_a"),
        F.count_if(even & y).alias("x_a"),
        F.count_if(odd).alias("n_b"),
        F.count_if(odd & y).alias("x_b"),
    )
    n_a, x_a = F.col("n_a").cast("double"), F.col("x_a").cast("double")
    n_b, x_b = F.col("n_b").cast("double"), F.col("x_b").cast("double")
    pooled = (x_a + x_b) / (n_a + n_b)
    se = F.sqrt(pooled * (1.0 - pooled) * (1.0 / n_a + 1.0 / n_b))
    return g.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.round(x_a / n_a, 6).alias("rate_a"),
        F.round(x_b / n_b, 6).alias("rate_b"),
        F.round((x_a / n_a - x_b / n_b) / se, 6).alias("z_score"),
    )


#: Abramowitz & Stegun 7.1.26 tail constants for the normal CDF.
_BH_Q = 0.10


@register(
    "stats_bh_fdr",
    f"""
    WITH pernation AS (
        SELECT c_nationkey,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(COUNT(*) FILTER (WHERE c_acctbal > 5000) AS DOUBLE) AS conv
        FROM customer GROUP BY c_nationkey
    ), gstats AS (
        SELECT SUM(conv) / SUM(n) AS p0 FROM pernation
    ), z AS (
        SELECT c_nationkey, n, conv,
               (conv / n - p0) / SQRT(p0 * (1 - p0) / n) AS z
        FROM pernation, gstats
    ), pv AS (
        SELECT c_nationkey, n, conv, z,
               ROUND(2 * (EXP(-ABS(z) * ABS(z) / 2) * 0.3989422804014327)
                     * ((1 / (1 + 0.2316419 * ABS(z)))
                        * (0.319381530 + (1 / (1 + 0.2316419 * ABS(z)))
                          * (-0.356563782 + (1 / (1 + 0.2316419 * ABS(z)))
                            * (1.781477937 + (1 / (1 + 0.2316419 * ABS(z)))
                              * (-1.821255978 + (1 / (1 + 0.2316419 * ABS(z)))
                                * 1.330274429))))), 9) AS p_value
        FROM z
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY p_value, c_nationkey) AS rank,
               COUNT(*) OVER () AS m
        FROM pv
    ), thresh AS (
        SELECT COALESCE(MAX(CASE WHEN p_value <= rank * {_BH_Q} / m
                                 THEN rank END), 0) AS k
        FROM ranked
    )
    SELECT CAST(c_nationkey AS INT) AS nation,
           CAST(n AS BIGINT) AS n,
           CAST(conv AS BIGINT) AS high_balance,
           ROUND(z, 6) AS z,
           p_value,
           CAST(rank AS INT) AS rank,
           (rank <= k) AS rejected
    FROM ranked, thresh
    ORDER BY rank
    """,
)
def stats_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR correction across 25 simultaneous two-sided
    z-tests (per-nation high-balance rate vs the global rate) — the
    multiple-comparisons discipline any per-segment metric scan needs
    before declaring "nation X is different". Normal tail via the
    Abramowitz-Stegun 7.1.26 polynomial (identical literal arithmetic in
    both engines, p rounded to 9dp BEFORE the step-up comparison so both
    engines make identical reject decisions). Plan: one grouped count
    pass, a 25-row rank window, and the step-up cutoff as a 1-row max —
    at 100 TB only the first aggregation touches data. q = 0.10."""
    cust = load_table(spark, sf_dir, "customer")
    pern = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count_if(F.col("c_acctbal") > 5000).cast("double").alias("conv"),
    )
    glob = pern.agg((F.sum("conv") / F.sum("n")).alias("p0"))
    p0 = F.col("p0")
    z = pern.crossJoin(F.broadcast(glob)).select(
        "c_nationkey",
        "n",
        "conv",
        (
            (F.col("conv") / F.col("n") - p0)
            / F.sqrt(p0 * (1 - p0) / F.col("n"))
        ).alias("z"),
    )
    az = F.abs(F.col("z"))
    t = 1 / (1 + 0.2316419 * az)
    poly = t * (
        0.319381530
        + t * (-0.356563782 + t * (1.781477937 + t * (-1.821255978 + t * 1.330274429)))
    )
    pdf = F.exp(-az * az / 2) * 0.3989422804014327
    pv = z.withColumn("p_value", F.round(2 * pdf * poly, 9))
    ranked = pv.select(
        "*",
        F.row_number()
        .over(Window.orderBy("p_value", "c_nationkey"))
        .alias("rank"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    thresh = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_value") <= F.col("rank") * _BH_Q / F.col("m"),
                    F.col("rank"),
                )
            ),
            F.lit(0),
        ).alias("k")
    )
    return (
        ranked.crossJoin(F.broadcast(thresh))
        .select(
            F.col("c_nationkey").cast("int").alias("nation"),
            F.col("n").cast("bigint").alias("n"),
            F.col("conv").cast("bigint").alias("high_balance"),
            F.round("z", 6).alias("z"),
            "p_value",
            F.col("rank").cast("int").alias("rank"),
            (F.col("rank") <= F.col("k")).alias("rejected"),
        )
        .orderBy("rank")
    )


@register(
    "ml_threshold_sweep_cost",
    """
    WITH b AS (
        SELECT LEAST(CAST(FLOOR(value / 50.0) AS BIGINT), 9) AS bucket,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                   AS pos,
               CAST(COUNT(*) FILTER (WHERE event_type <> 'purchase') AS BIGINT)
                   AS neg
        FROM events GROUP BY 1
    ), spine AS (SELECT UNNEST(RANGE(0, 10)) AS bucket), dense AS (
        SELECT s.bucket, COALESCE(b.pos, 0) AS pos, COALESCE(b.neg, 0) AS neg
        FROM spine s LEFT JOIN b ON b.bucket = s.bucket
    ), cum AS (
        SELECT bucket,
               SUM(pos) OVER (ORDER BY bucket DESC) AS tp,
               SUM(neg) OVER (ORDER BY bucket DESC) AS fp,
               SUM(pos) OVER () AS all_pos
        FROM dense
    ), cost AS (
        SELECT CAST(bucket * 50 AS DOUBLE) AS threshold,
               CAST(fp AS BIGINT) AS fp,
               CAST(all_pos - tp AS BIGINT) AS fn,
               CAST(1 * fp + 10 * (all_pos - tp) AS BIGINT) AS total_cost
        FROM cum
    )
    SELECT threshold, fp, fn, total_cost,
           (total_cost = (SELECT MIN(total_cost) FROM cost)) AS is_optimal
    FROM cost ORDER BY threshold
    """,
)
def ml_threshold_sweep_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-sensitive decision-threshold sweep: expected cost
    1·FP + 10·FN at ten score thresholds, optimum flagged — how a
    classifier threshold is actually chosen when misses cost 10× false
    alarms (fraud, abuse, contamination gates), rather than maximizing
    F1. Same one-pass bucketed-count shape as `ml_pr_curve` (the heavy
    stage is a 10-row conditional count), with the cost frontier and
    argmin as post-aggregate window algebra. Exact integer costs."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 50.0).cast("bigint"), F.lit(9))
    b = ev.groupBy(bucket.alias("bucket")).agg(
        F.count_if(F.col("event_type") == "purchase").alias("pos"),
        F.count_if(F.col("event_type") != "purchase").alias("neg"),
    )
    spine = spark.range(10).select(F.col("id").alias("bucket"))
    dense = spine.join(F.broadcast(b), "bucket", "left").select(
        "bucket",
        F.coalesce("pos", F.lit(0)).alias("pos"),
        F.coalesce("neg", F.lit(0)).alias("neg"),
    )
    wdesc = Window.orderBy(F.col("bucket").desc())
    cum = dense.select(
        "bucket",
        F.sum("pos").over(wdesc).alias("tp"),
        F.sum("neg").over(wdesc).alias("fp"),
        F.sum("pos").over(Window.partitionBy()).alias("all_pos"),
    )
    cost = cum.select(
        (F.col("bucket") * 50).cast("double").alias("threshold"),
        F.col("fp").cast("bigint").alias("fp"),
        (F.col("all_pos") - F.col("tp")).cast("bigint").alias("fn"),
        (1 * F.col("fp") + 10 * (F.col("all_pos") - F.col("tp")))
        .cast("bigint")
        .alias("total_cost"),
    )
    return cost.select(
        "*",
        (
            F.col("total_cost")
            == F.min("total_cost").over(Window.partitionBy())
        ).alias("is_optimal"),
    ).orderBy("threshold")


@register(
    "stats_levene",
    """
    WITH q AS (
        SELECT l_returnflag AS flag,
               CAST(FLOOR(l_quantity * 100.0) AS BIGINT) AS q100
        FROM lineitem
    ), hist AS (
        SELECT flag, q100, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM q GROUP BY flag, q100
    ), cum AS (
        SELECT flag, q100, cnt,
               SUM(cnt) OVER (PARTITION BY flag ORDER BY q100) AS cum_hi,
               SUM(cnt) OVER (PARTITION BY flag ORDER BY q100) - cnt AS cum_lo,
               SUM(cnt) OVER (PARTITION BY flag) AS n
        FROM hist
    ), med AS (
        SELECT flag,
               CAST(SUM(q100 * (
                   LEAST(cum_hi, CAST(FLOOR((n + 2) / 2.0) AS BIGINT))
                 - GREATEST(cum_lo, CAST(FLOOR((n + 1) / 2.0) AS BIGINT) - 1)))
                 * 2 / (CAST(FLOOR((MAX(n) + 2) / 2.0) AS BIGINT)
                        - CAST(FLOOR((MAX(n) + 1) / 2.0) AS BIGINT) + 1)
                 AS BIGINT) AS med2
        FROM cum
        WHERE cum_hi >= CAST(FLOOR((n + 1) / 2.0) AS BIGINT)
          AND cum_lo < CAST(FLOOR((n + 2) / 2.0) AS BIGINT)
        GROUP BY flag
    ), z AS (
        SELECT q.flag, ABS(2 * q.q100 - m.med2) AS z2
        FROM q JOIN med m ON m.flag = q.flag
    ), piv AS (
        SELECT
            CAST(COUNT(*) FILTER (WHERE flag = 'A') AS BIGINT) AS na,
            CAST(COUNT(*) FILTER (WHERE flag = 'N') AS BIGINT) AS nn,
            CAST(COUNT(*) FILTER (WHERE flag = 'R') AS BIGINT) AS nr,
            CAST(SUM(z2) FILTER (WHERE flag = 'A') AS DOUBLE) AS sa,
            CAST(SUM(z2) FILTER (WHERE flag = 'N') AS DOUBLE) AS sn,
            CAST(SUM(z2) FILTER (WHERE flag = 'R') AS DOUBLE) AS sr,
            CAST(SUM(z2 * z2) FILTER (WHERE flag = 'A') AS DOUBLE) AS qa,
            CAST(SUM(z2 * z2) FILTER (WHERE flag = 'N') AS DOUBLE) AS qn,
            CAST(SUM(z2 * z2) FILTER (WHERE flag = 'R') AS DOUBLE) AS qr
        FROM z
    )
    SELECT CAST(3 AS BIGINT) AS k_groups,
           na + nn + nr AS n,
           ROUND((((qa + qn + qr)
                   - ((sa + sn + sr) * (sa + sn + sr) / (na + nn + nr))
                   - ((qa - sa * sa / na) + (qn - sn * sn / nn)
                      + (qr - sr * sr / nr)))
                  / (3 - 1))
                 / (((qa - sa * sa / na) + (qn - sn * sn / nn)
                     + (qr - sr * sr / nr)) / (na + nn + nr - 3)),
                 6) AS f_stat
    FROM piv
    """,
)
def stats_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variant of Levene's test: is quantity SPREAD equal
    across return flags? One-way ANOVA on |x - group median| — the
    median-centered form that stays robust under skew (Brown & Forsythe
    1974). Group medians come from the bounded-domain value histogram
    (the ``agg_exact_median`` discipline, in exact 2x-cents integers so
    the even-n midpoint stays integral), broadcast back; every sufficient
    statistic is then PIVOTED into one row with FILTER aggregates over
    the three known flags, so F is scalar algebra over exact integers —
    no cross-row double accumulation anywhere. Two shuffles: the
    histogram and the global pivot."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_quantity") * 100.0).cast("long").alias("q100"),
    )
    hist = q.groupBy("flag", "q100").agg(F.count(F.lit(1)).alias("cnt"))
    w_ord = Window.partitionBy("flag").orderBy("q100")
    w_all = Window.partitionBy("flag")
    cum = hist.select(
        "flag",
        "q100",
        "cnt",
        F.sum("cnt").over(w_ord).alias("cum_hi"),
        (F.sum("cnt").over(w_ord) - F.col("cnt")).alias("cum_lo"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    lo_pos = F.floor((F.col("n") + 1) / 2.0).cast("long")
    hi_pos = F.floor((F.col("n") + 2) / 2.0).cast("long")
    take = F.least(F.col("cum_hi"), hi_pos) - F.greatest(
        F.col("cum_lo"), lo_pos - 1
    )
    med = (
        cum.filter((F.col("cum_hi") >= lo_pos) & (F.col("cum_lo") < hi_pos))
        .groupBy("flag")
        .agg(
            (F.sum(F.col("q100") * take) * 2 / (F.max(hi_pos) - F.max(lo_pos) + 1))
            .cast("long")
            .alias("med2")
        )
    )
    z = q.join(F.broadcast(med), "flag").select(
        "flag", F.abs(2 * F.col("q100") - F.col("med2")).alias("z2")
    )

    def fsum(col, flag):
        return F.sum(F.when(F.col("flag") == flag, col))

    piv = z.agg(
        fsum(F.lit(1), "A").cast("bigint").alias("na"),
        fsum(F.lit(1), "N").cast("bigint").alias("nn"),
        fsum(F.lit(1), "R").cast("bigint").alias("nr"),
        fsum(F.col("z2"), "A").cast("double").alias("sa"),
        fsum(F.col("z2"), "N").cast("double").alias("sn"),
        fsum(F.col("z2"), "R").cast("double").alias("sr"),
        fsum(F.col("z2") * F.col("z2"), "A").cast("double").alias("qa"),
        fsum(F.col("z2") * F.col("z2"), "N").cast("double").alias("qn"),
        fsum(F.col("z2") * F.col("z2"), "R").cast("double").alias("qr"),
    )
    na, nn, nr = F.col("na"), F.col("nn"), F.col("nr")
    sa, sn, sr = F.col("sa"), F.col("sn"), F.col("sr")
    qa, qn, qr = F.col("qa"), F.col("qn"), F.col("qr")
    n = na + nn + nr
    ssw = (qa - sa * sa / na) + (qn - sn * sn / nn) + (qr - sr * sr / nr)
    sst = (qa + qn + qr) - ((sa + sn + sr) * (sa + sn + sr) / n)
    return piv.select(
        F.lit(3).cast("bigint").alias("k_groups"),
        n.alias("n"),
        F.round(((sst - ssw) / (3 - 1)) / (ssw / (n - 3)), 6).alias("f_stat"),
    )


@register(
    "stats_permutation_test",
    """
    WITH u AS (
        SELECT user_id,
               CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS BIGINT)
                   AS vq
        FROM events GROUP BY user_id
    ),
    perms AS (
        SELECT u.user_id, u.vq, r.p,
               CAST(((u.user_id + r.p * 1000003) * 2654435761)
                    % 4294967296 % 2 AS INT) AS arm
        FROM u, RANGE(0, 200) r(p)
    ),
    g AS (
        SELECT p,
               CAST(SUM(vq) FILTER (WHERE arm = 1) AS DOUBLE)
                   / COUNT(*) FILTER (WHERE arm = 1)
               - CAST(SUM(vq) FILTER (WHERE arm = 0) AS DOUBLE)
                   / COUNT(*) FILTER (WHERE arm = 0) AS diff
        FROM perms GROUP BY p
    ),
    obs AS (SELECT ABS(diff) AS obs_stat, diff AS obs_diff FROM g WHERE p = 0)
    SELECT ROUND(obs.obs_diff / 100.0, 6) AS observed_diff,
           CAST(199 AS BIGINT) AS n_perms,
           CAST(COUNT(*) FILTER (WHERE p > 0 AND ABS(diff) >= obs.obs_stat)
                AS BIGINT) AS n_extreme,
           ROUND((1.0 + COUNT(*) FILTER (
                      WHERE p > 0 AND ABS(diff) >= obs.obs_stat))
                 / 200.0, 6) AS p_value
    FROM g, obs
    GROUP BY obs.obs_stat, obs.obs_diff
    """,
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test on the per-user spend difference between two
    arms — the assumption-free significance check that works when t-test
    normality fails. The permutation distribution is DETERMINISTIC: the
    p-th relabeling assigns arm ``hash(user_id + p*1000003)`` (the Knuth
    multiplicative hash family, p=0 being the engine's standard arm
    split), so every engine, run, and partitioning sees the same 199
    relabelings — reproducible p-values with no RNG state, and each
    relabeling is a hash-split the way the real assignment is. Shape:
    the 200-way explode happens on the per-USER aggregate (|users| rows),
    never the raw events, so the fan-out input is the small frame; one
    grouped pass computes every permutation's arm means in a single
    shuffle. p-value uses the add-one (phipson-smyth) correction."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100.0).cast("long"))
        .cast("long")
        .alias("vq")
    )
    perms = u.select(
        "user_id",
        "vq",
        F.explode(F.sequence(F.lit(0), F.lit(199))).alias("p"),
    ).select(
        "vq",
        "p",
        (
            ((F.col("user_id") + F.col("p") * 1000003) * 2654435761)
            % 4294967296
            % 2
        )
        .cast("int")
        .alias("arm"),
    )

    def fsum(col, arm):
        return F.sum(F.when(F.col("arm") == arm, col))

    g = perms.groupBy("p").agg(
        (
            fsum(F.col("vq"), 1).cast("double") / fsum(F.lit(1), 1)
            - fsum(F.col("vq"), 0).cast("double") / fsum(F.lit(1), 0)
        ).alias("diff")
    )
    obs = g.filter(F.col("p") == 0).select(
        F.abs(F.col("diff")).alias("obs_stat"), F.col("diff").alias("obs_diff")
    )
    n_extreme = F.count_if(
        (F.col("p") > 0) & (F.abs(F.col("diff")) >= F.col("obs_stat"))
    )
    return (
        g.crossJoin(F.broadcast(obs))
        .groupBy("obs_stat", "obs_diff")
        .agg(
            F.round(F.max("obs_diff") / 100.0, 6).alias("observed_diff"),
            F.lit(199).cast("bigint").alias("n_perms"),
            n_extreme.cast("bigint").alias("n_extreme"),
            F.round((1.0 + n_extreme) / 200.0, 6).alias("p_value"),
        )
        .drop("obs_stat", "obs_diff")
    )


@register(
    "stats_kendall_tau",
    """
    WITH oc AS (
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ), cx AS (
        SELECT c_custkey, c_nationkey, c_acctbal AS x, COALESCE(oc.y, 0) AS y
        FROM customer LEFT JOIN oc ON oc.o_custkey = c_custkey
    ), p AS (
        SELECT a.c_nationkey AS nk,
               CAST(COUNT(*) AS BIGINT) AS n0,
               CAST(COUNT(*) FILTER (
                   WHERE (a.x < b.x AND a.y < b.y)
                      OR (a.x > b.x AND a.y > b.y)) AS BIGINT) AS c,
               CAST(COUNT(*) FILTER (
                   WHERE (a.x < b.x AND a.y > b.y)
                      OR (a.x > b.x AND a.y < b.y)) AS BIGINT) AS d,
               CAST(COUNT(*) FILTER (WHERE a.x = b.x) AS BIGINT) AS tx,
               CAST(COUNT(*) FILTER (WHERE a.y = b.y) AS BIGINT) AS ty
        FROM cx a JOIN cx b
          ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        GROUP BY 1
    )
    SELECT n.n_name,
           CAST(g.cnt AS BIGINT) AS n_customers,
           p.c AS concordant, p.d AS discordant,
           ROUND(CAST(p.c - p.d AS DOUBLE)
                 / SQRT(CAST(p.n0 - p.tx AS DOUBLE)
                        * CAST(p.n0 - p.ty AS DOUBLE)), 6) AS tau_b
    FROM p
    JOIN nation n ON n.n_nationkey = p.nk
    JOIN (SELECT c_nationkey, COUNT(*) AS cnt FROM customer GROUP BY 1) g
      ON g.c_nationkey = p.nk
    ORDER BY n.n_name
    """,
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Kendall tau-b rank correlation between a customer's
    account balance and their order count — the tie-robust, outlier-proof
    alternative to Pearson/Spearman for "does wealth rank-order with
    activity". Counts concordant/discordant/tied pairs with a self-join
    CONFINED inside the nation equi-key (the quadratic never crosses
    groups, so the shuffle is one hash exchange on nationkey and each
    task does its own group's pair scan). Everything up to the final
    tau-b ratio is exact integer counting — bit-stable at any
    parallelism. At 100 TB-scale group sizes the per-group pair scan is
    swapped for Knight's O(n log n) merge-count inside ``applyInPandas``
    per nation; the surrounding plan (one exchange, final ratio) is
    unchanged."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    oc = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    cx = (
        cust.join(oc, cust["c_custkey"] == oc["o_custkey"], "left")
        .select(
            "c_custkey",
            "c_nationkey",
            F.col("c_acctbal").alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).cast("bigint").alias("y"),
        )
    )
    a = cx.select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("ka"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
    )
    b = cx.select(
        F.col("c_nationkey").alias("nkb"),
        F.col("c_custkey").alias("kb"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    xa, xb, ya, yb = (F.col(c) for c in ("xa", "xb", "ya", "yb"))
    p = (
        a.join(b, (F.col("nk") == F.col("nkb")) & (F.col("ka") < F.col("kb")))
        .groupBy("nk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n0"),
            F.count_if(((xa < xb) & (ya < yb)) | ((xa > xb) & (ya > yb)))
            .cast("bigint")
            .alias("c"),
            F.count_if(((xa < xb) & (ya > yb)) | ((xa > xb) & (ya < yb)))
            .cast("bigint")
            .alias("d"),
            F.count_if(xa == xb).cast("bigint").alias("tx"),
            F.count_if(ya == yb).cast("bigint").alias("ty"),
        )
    )
    g = cust.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        p.join(F.broadcast(nat), F.col("nk") == F.col("n_nationkey"))
        .join(F.broadcast(g), F.col("nk") == g["c_nationkey"])
        .select(
            "n_name",
            F.col("cnt").cast("bigint").alias("n_customers"),
            F.col("c").alias("concordant"),
            F.col("d").alias("discordant"),
            F.round(
                (F.col("c") - F.col("d")).cast("double")
                / F.sqrt(
                    (F.col("n0") - F.col("tx")).cast("double")
                    * (F.col("n0") - F.col("ty")).cast("double")
                ),
                6,
            ).alias("tau_b"),
        )
        .orderBy("n_name")
    )


@register(
    "stats_cramers_v",
    """
    WITH c AS (
        SELECT o_orderpriority AS pr, o_orderstatus AS st,
               CAST(COUNT(*) AS BIGINT) AS obs
        FROM orders GROUP BY 1, 2
    ), rm AS (SELECT pr, SUM(obs) AS rn FROM c GROUP BY 1),
    cm AS (SELECT st, SUM(obs) AS cn FROM c GROUP BY 1),
    tot AS (SELECT SUM(obs) AS t FROM c),
    grid AS (
        SELECT rm.pr, cm.st, rm.rn, cm.cn, tot.t, COALESCE(c.obs, 0) AS obs
        FROM rm CROSS JOIN cm CROSS JOIN tot
        LEFT JOIN c ON c.pr = rm.pr AND c.st = cm.st
    ), cell AS (
        SELECT t,
               CAST(obs * t - rn * cn AS BIGINT) AS dev,
               CAST(rn * cn AS BIGINT) AS e_num
        FROM grid
    ), chi AS (
        SELECT MAX(t) AS t,
               CAST(SUM(CAST(FLOOR(
                   CAST(dev * dev AS DOUBLE) / CAST(e_num AS DOUBLE)
                   / CAST(t AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT)
                   AS chi_q
        FROM cell
    ), dims AS (
        SELECT (SELECT COUNT(*) FROM rm) AS r, (SELECT COUNT(*) FROM cm) AS c
    )
    SELECT CAST(chi.t AS BIGINT) AS n,
           CAST(dims.r AS INT) AS n_rows,
           CAST(dims.c AS INT) AS n_cols,
           CAST((dims.r - 1) * (dims.c - 1) AS INT) AS dof,
           ROUND(CAST(chi_q AS DOUBLE) / 1000000.0, 6) AS chi2,
           ROUND(SQRT(CAST(chi_q AS DOUBLE) / 1000000.0
                      / (CAST(chi.t AS DOUBLE)
                         * (LEAST(dims.r, dims.c) - 1))), 6) AS cramers_v
    FROM chi CROSS JOIN dims
    """,
)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength between two categoricals
    (order priority × order status): the chi-square statistic normalized
    to [0, 1] so "how entangled are these two columns" is comparable
    across tables — the profiling primitive behind correlated-column
    detection. The contingency grid is rebuilt DENSE (marginals
    cross-joined, zero-observed cells kept — they still carry expected
    mass); per-cell terms use the exact integer deviation
    ``obs·t − rowtot·coltot`` so the only doubles are one division chain
    per cell, floor-quantized to micro-units and summed exactly — the
    statistic hash-matches at any partitioning. Scale shape: one grouped
    count of the fact table, then all grid algebra happens on an
    r×c-row frame (here 15 rows) — the 100 TB cost is the single count
    pass."""
    orders = load_table(spark, sf_dir, "orders")
    c = (
        orders.groupBy(
            F.col("o_orderpriority").alias("pr"),
            F.col("o_orderstatus").alias("st"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    )
    rm = c.groupBy("pr").agg(F.sum("obs").alias("rn"))
    cm = c.groupBy("st").agg(F.sum("obs").alias("cn"))
    tot = c.agg(F.sum("obs").alias("t"))
    grid = (
        rm.crossJoin(F.broadcast(cm))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(c), ["pr", "st"], "left")
        .select(
            "t",
            "rn",
            "cn",
            F.coalesce(F.col("obs"), F.lit(0)).cast("bigint").alias("obs"),
        )
    )
    cell = grid.select(
        "t",
        (F.col("obs") * F.col("t") - F.col("rn") * F.col("cn"))
        .cast("bigint")
        .alias("dev"),
        (F.col("rn") * F.col("cn")).cast("bigint").alias("e_num"),
    )
    chi = cell.agg(
        F.max("t").alias("t"),
        F.sum(
            F.floor(
                (F.col("dev") * F.col("dev")).cast("double")
                / F.col("e_num").cast("double")
                / F.col("t").cast("double")
                * 1000000.0
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("chi_q"),
    )
    dims = rm.agg(F.count(F.lit(1)).alias("r")).crossJoin(
        cm.agg(F.count(F.lit(1)).alias("c"))
    )
    return chi.crossJoin(F.broadcast(dims)).select(
        F.col("t").cast("bigint").alias("n"),
        F.col("r").cast("int").alias("n_rows"),
        F.col("c").cast("int").alias("n_cols"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("int").alias("dof"),
        F.round(F.col("chi_q").cast("double") / 1000000.0, 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi_q").cast("double")
                / 1000000.0
                / (
                    F.col("t").cast("double")
                    * (F.least(F.col("r"), F.col("c")) - 1)
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "stats_jarque_bera",
    """
    WITH m1 AS (
        SELECT o_orderstatus AS st,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ), dev AS (
        SELECT o.o_orderstatus AS st, m1.n,
               o_totalprice - CAST(m1.cents AS DOUBLE) / 100.0 / m1.n AS d
        FROM orders o JOIN m1 ON m1.st = o.o_orderstatus
    ), cm AS (
        SELECT st, MAX(n) AS n,
               CAST(SUM(CAST(FLOOR(d * d * 100.0) AS HUGEINT)) AS DOUBLE)
                   / 100.0 AS s2,
               CAST(SUM(CAST(FLOOR(d * d * d * 0.01) AS HUGEINT)) AS DOUBLE)
                   * 100.0 AS s3,
               CAST(SUM(CAST(FLOOR(d * d * d * d * 0.0001) AS HUGEINT))
                    AS DOUBLE) * 10000.0 AS s4
        FROM dev GROUP BY st
    )
    SELECT st AS status, CAST(n AS BIGINT) AS n,
           ROUND((s3 / n) / POW(s2 / n, 1.5), 6) AS skewness,
           ROUND((s4 / n) / POW(s2 / n, 2.0), 6) AS kurtosis,
           ROUND(n / 6.0 * (POW((s3 / n) / POW(s2 / n, 1.5), 2.0)
                 + POW((s4 / n) / POW(s2 / n, 2.0) - 3.0, 2.0) / 4.0), 4)
               AS jarque_bera
    FROM cm ORDER BY status
    """,
)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality test per order status: skewness and excess
    kurtosis folded into the JB statistic (χ²₂ under normality) — the
    screening test that decides whether downstream t-tests/CIs can trust
    the distributional assumption. Two-pass exact shape: pass 1 computes
    each group's mean from an exact integer cents sum; pass 2 joins the
    (3-row) mean table back broadcast and sums floor-quantized central
    moment terms in integer units (d² at 1e-2, d³ at 1e2, d⁴ at 1e4 per
    unit — coarser scales where magnitudes grow, all in 128-bit-safe
    accumulators) so every moment is order-independent. The only
    unquantized doubles are the final fixed-form ratios. At 100 TB: two
    partial→final aggregation passes and a 3-row broadcast, nothing
    else."""
    orders = load_table(spark, sf_dir, "orders")
    m1 = orders.groupBy(F.col("o_orderstatus").alias("st")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("long"))
        .cast("bigint")
        .alias("cents"),
    )
    dev = orders.join(
        F.broadcast(m1), orders["o_orderstatus"] == m1["st"]
    ).select(
        "st",
        "n",
        (
            F.col("o_totalprice")
            - F.col("cents").cast("double") / 100.0 / F.col("n")
        ).alias("d"),
    )
    d = F.col("d")
    cm = dev.groupBy("st").agg(
        F.max("n").alias("n"),
        (
            F.sum(F.floor(d * d * 100.0).cast("decimal(38,0)")).cast("double")
            / 100.0
        ).alias("s2"),
        (
            F.sum(F.floor(d * d * d * 0.01).cast("decimal(38,0)")).cast("double")
            * 100.0
        ).alias("s3"),
        (
            F.sum(F.floor(d * d * d * d * 0.0001).cast("decimal(38,0)")).cast(
                "double"
            )
            * 10000.0
        ).alias("s4"),
    )
    n = F.col("n")
    skew = (F.col("s3") / n) / F.pow(F.col("s2") / n, 1.5)
    kurt = (F.col("s4") / n) / F.pow(F.col("s2") / n, 2.0)
    return cm.select(
        F.col("st").alias("status"),
        n.cast("bigint").alias("n"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("kurtosis"),
        F.round(
            n / 6.0 * (F.pow(skew, 2.0) + F.pow(kurt - 3.0, 2.0) / 4.0), 4
        ).alias("jarque_bera"),
    ).orderBy("status")


@register(
    "stats_grubbs",
    """
    WITH m1 AS (
        SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(c_acctbal * 100.0) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM customer GROUP BY 1
    ), dev AS (
        SELECT c.c_nationkey AS nk, c.c_custkey, m1.n,
               c_acctbal - CAST(m1.cents AS DOUBLE) / 100.0 / m1.n AS d
        FROM customer c JOIN m1 ON m1.nk = c.c_nationkey
    ), s2 AS (
        SELECT nk, MAX(n) AS n,
               CAST(SUM(CAST(FLOOR(d * d * 100.0) AS BIGINT)) AS DOUBLE)
                   / 100.0 AS ss
        FROM dev GROUP BY 1
    ), top AS (
        SELECT nk, c_custkey, d FROM (
            SELECT nk, c_custkey, d,
                   ROW_NUMBER() OVER (
                       PARTITION BY nk
                       ORDER BY CAST(FLOOR(ABS(d) * 1000000.0) AS BIGINT) DESC,
                                c_custkey) AS rn
            FROM dev
        ) t WHERE rn = 1
    )
    SELECT nn.n_name, s2.n AS n_customers,
           CAST(top.c_custkey AS BIGINT) AS suspect_custkey,
           ROUND(top.d, 2) AS deviation,
           ROUND(ABS(top.d) / SQRT(s2.ss / (s2.n - 1)), 4) AS grubbs_g
    FROM s2 JOIN top ON top.nk = s2.nk
    JOIN nation nn ON nn.n_nationkey = s2.nk
    ORDER BY nn.n_name
    """,
)
def stats_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' outlier statistic per nation on customer balances:
    G = max|x − mean| / s, plus the suspect row itself — the
    single-most-extreme-value screen that feeds manual review queues.
    Two-pass exact shape: pass 1 integer-cents means, pass 2 quantized
    squared deviations (order-independent s²) and an argmax by the
    INTEGER-quantized |deviation| with a custkey tie-break, so the
    flagged row is identical at any parallelism. Both passes are
    partial→final aggregations plus a 25-row broadcast; the argmax is a
    per-group top-1 window (WindowGroupLimit pushes the rank filter
    down). At 100 TB nothing changes but partition counts."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    m1 = cust.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.floor(F.col("c_acctbal") * 100.0).cast("long"))
        .cast("bigint")
        .alias("cents"),
    )
    dev = cust.join(F.broadcast(m1), cust["c_nationkey"] == m1["nk"]).select(
        "nk",
        "c_custkey",
        "n",
        (
            F.col("c_acctbal")
            - F.col("cents").cast("double") / 100.0 / F.col("n")
        ).alias("d"),
    )
    s2 = dev.groupBy("nk").agg(
        F.max("n").alias("n"),
        (
            F.sum(F.floor(F.col("d") * F.col("d") * 100.0).cast("long")).cast(
                "double"
            )
            / 100.0
        ).alias("ss"),
    )
    w = Window.partitionBy("nk").orderBy(
        F.floor(F.abs(F.col("d")) * 1000000.0).cast("bigint").desc(),
        F.col("c_custkey"),
    )
    top = (
        dev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("nk", "c_custkey", "d")
    )
    return (
        s2.join(top, "nk")
        .join(F.broadcast(nat), F.col("nk") == F.col("n_nationkey"))
        .select(
            "n_name",
            F.col("n").alias("n_customers"),
            F.col("c_custkey").cast("bigint").alias("suspect_custkey"),
            F.round("d", 2).alias("deviation"),
            F.round(
                F.abs(F.col("d"))
                / F.sqrt(F.col("ss") / (F.col("n") - 1)),
                4,
            ).alias("grubbs_g"),
        )
        .orderBy("n_name")
    )


@register(
    "stats_wilcoxon_signed_rank",
    """
    WITH halves AS (
        SELECT user_id,
               CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT))
                    FILTER (WHERE EXTRACT(DAY FROM ts) <= 15) AS BIGINT)
                   AS c1,
               CAST(COUNT(*) FILTER (WHERE EXTRACT(DAY FROM ts) <= 15)
                    AS BIGINT) AS n1,
               CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT))
                    FILTER (WHERE EXTRACT(DAY FROM ts) > 15) AS BIGINT)
                   AS c2,
               CAST(COUNT(*) FILTER (WHERE EXTRACT(DAY FROM ts) > 15)
                    AS BIGINT) AS n2
        FROM events GROUP BY 1
        HAVING n1 > 0 AND n2 > 0
    ), diffs AS (
        -- paired difference of per-half mean spend, micro-quantized
        SELECT user_id,
               CAST(FLOOR((CAST(c1 AS DOUBLE) / n1
                           - CAST(c2 AS DOUBLE) / n2) * 10000.0) AS BIGINT)
                   AS dq
        FROM halves
    ), nz AS (
        SELECT user_id, dq, ABS(dq) AS adq FROM diffs WHERE dq <> 0
    ), ranked AS (
        SELECT dq,
               2 * RANK() OVER (ORDER BY adq)
               + COUNT(*) OVER (PARTITION BY adq) - 1 AS r2
        FROM nz
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN dq > 0 THEN r2 ELSE 0 END) AS DOUBLE) / 2.0
               AS w_plus,
           CAST(SUM(CASE WHEN dq < 0 THEN r2 ELSE 0 END) AS DOUBLE) / 2.0
               AS w_minus,
           ROUND((CAST(SUM(CASE WHEN dq > 0 THEN r2 ELSE 0 END) AS DOUBLE)
                  / 2.0
                  - COUNT(*) * (COUNT(*) + 1) / 4.0)
                 / SQRT(COUNT(*) * (COUNT(*) + 1.0)
                        * (2.0 * COUNT(*) + 1.0) / 24.0), 4) AS z
    FROM ranked
    """,
)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on paired per-user spend: first half of
    the month vs second half — the nonparametric paired-difference test
    that works when the t-test's normality assumption fails. Exactness:
    per-half means come from integer cents sums, the paired difference is
    floor-quantized before ranking (so rank order is an integer compare),
    ties carry the tie-averaged rank as the exact integer
    ``2·avg_rank = 2·min_rank + tie_size − 1`` (the ml_spearman trick),
    and W± are exact half-integers — the z-statistic is one fixed-form
    expression. Shape: one grouped pass over events (shuffle ∝ users),
    then a |difference|-histogram whose bucketed two-level cumulative
    (round-6 window-audit fix) yields every tie-group's min-rank: the
    whole signed rank sum is Σ sign-count·(2·below + t + 1) over the
    DISTINCT-|d| frame — per-user rows are never ranked through one
    partition. Zero-differences are dropped per the standard
    procedure."""
    ev = load_table(spark, sf_dir, "events")
    day = F.dayofmonth("ts")
    cents = F.floor(F.col("value") * 100.0).cast("long")
    halves = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(day <= 15, cents)).cast("bigint").alias("c1"),
            F.count_if(day <= 15).cast("bigint").alias("n1"),
            F.sum(F.when(day > 15, cents)).cast("bigint").alias("c2"),
            F.count_if(day > 15).cast("bigint").alias("n2"),
        )
        .filter((F.col("n1") > 0) & (F.col("n2") > 0))
    )
    diffs = halves.select(
        "user_id",
        F.floor(
            (
                F.col("c1").cast("double") / F.col("n1")
                - F.col("c2").cast("double") / F.col("n2")
            )
            * 10000.0
        )
        .cast("bigint")
        .alias("dq"),
    )
    nz = diffs.filter(F.col("dq") != 0).select(
        "dq", F.abs(F.col("dq")).alias("adq")
    )
    g = nz.groupBy("adq").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.count_if(F.col("dq") > 0).cast("long").alias("np_"),
    )
    cum = with_global_order(g, "adq", cumsums={"ct": "t"})
    # every row in a tie group shares 2·avg_rank = 2·below + t + 1
    r2 = 2 * (F.col("ct") - F.col("t")) + F.col("t") + 1
    s = cum.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(F.col("np_") * r2).cast("double").alias("wp2"),
        F.sum((F.col("t") - F.col("np_")) * r2).cast("double").alias("wm2"),
    )
    wp = F.col("wp2") / 2.0
    wm = F.col("wm2") / 2.0
    n = F.col("n")
    return s.select(
        n.cast("bigint").alias("n"),
        wp.alias("w_plus"),
        wm.alias("w_minus"),
        F.round(
            (wp - n * (n + 1) / 4.0)
            / F.sqrt(n * (n + 1.0) * (2.0 * n + 1.0) / 24.0),
            4,
        ).alias("z"),
    )


@register(
    "stats_meta_analysis",
    """
    WITH m1 AS (
        SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(c_acctbal * 100.0) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM customer GROUP BY 1
    ), dev AS (
        SELECT c.c_nationkey AS nk, m1.n,
               c_acctbal - CAST(m1.cents AS DOUBLE) / 100.0 / m1.n AS d
        FROM customer c JOIN m1 ON m1.nk = c.c_nationkey
    ), grp AS (
        SELECT dev.nk, MAX(dev.n) AS n,
               MAX(CAST(m1.cents AS DOUBLE) / 100.0 / m1.n) AS mean,
               CAST(SUM(CAST(FLOOR(d * d * 100.0) AS BIGINT)) AS DOUBLE)
                   / 100.0 / (MAX(dev.n) - 1) AS var
        FROM dev JOIN m1 ON m1.nk = dev.nk
        GROUP BY dev.nk
    ), terms AS (
        SELECT nk, n, mean, var,
               CAST(FLOOR(n / var * 1e15) AS BIGINT) AS w_q,
               CAST(FLOOR(n / var * mean * 1e12) AS BIGINT) AS wm_q
        FROM grp
    ), pool AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(w_q) AS BIGINT) AS sw_q,
               CAST(SUM(wm_q) AS BIGINT) AS swm_q
        FROM terms
    ), est AS (
        SELECT k, sw_q,
               (CAST(swm_q AS DOUBLE) / 1e12)
               / (CAST(sw_q AS DOUBLE) / 1e15) AS pooled
        FROM pool
    ), qstat AS (
        SELECT MAX(est.k) AS k, MAX(est.pooled) AS pooled,
               CAST(SUM(CAST(FLOOR(
                   (CAST(t.w_q AS DOUBLE) / 1e15)
                   * (t.mean - est.pooled) * (t.mean - est.pooled)
                   * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS q
        FROM terms t CROSS JOIN est
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           ROUND(pooled, 4) AS pooled_mean,
           ROUND(q, 4) AS cochran_q,
           ROUND(GREATEST(0.0, (q - (k - 1)) / NULLIF(q, 0.0)), 6)
               AS i_squared
    FROM qstat
    """,
)
def stats_meta_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-effect meta-analysis across the 25 per-nation mean customer
    balances: inverse-variance pooling (wᵢ = nᵢ/s²ᵢ), Cochran's Q
    heterogeneity statistic, and I² — "is the effect consistent across
    strata, and what is the precision-weighted pooled estimate", the
    standard cross-cohort synthesis tool. Per-group means and variances
    come from the two-pass exact pipeline (integer cents, quantized
    squared deviations); the cross-group sums Σw, Σw·m, and the Q terms
    are each floor-quantized to fixed scales and INTEGER-summed so the
    25-way reduction is order-independent — the pooled estimate
    hash-matches at any parallelism. Shape: two aggregation passes over
    the fact table, then all meta-analysis algebra on a 25-row frame
    with a 1-row broadcast."""
    cust = load_table(spark, sf_dir, "customer")
    m1 = cust.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.floor(F.col("c_acctbal") * 100.0).cast("long"))
        .cast("bigint")
        .alias("cents"),
    )
    mean = F.col("cents").cast("double") / 100.0 / F.col("n")
    dev = cust.join(F.broadcast(m1), cust["c_nationkey"] == m1["nk"]).select(
        "nk", "n", mean.alias("mean"), (F.col("c_acctbal") - mean).alias("d")
    )
    grp = dev.groupBy("nk").agg(
        F.max("n").alias("n"),
        F.max("mean").alias("mean"),
        (
            F.sum(F.floor(F.col("d") * F.col("d") * 100.0).cast("long")).cast(
                "double"
            )
            / 100.0
            / (F.max("n") - 1)
        ).alias("var"),
    )
    terms = grp.select(
        "nk",
        "n",
        "mean",
        "var",
        F.floor(F.col("n") / F.col("var") * 1e15).cast("bigint").alias("w_q"),
        F.floor(F.col("n") / F.col("var") * F.col("mean") * 1e12)
        .cast("bigint")
        .alias("wm_q"),
    )
    pool = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("w_q").cast("bigint").alias("sw_q"),
        F.sum("wm_q").cast("bigint").alias("swm_q"),
    )
    est = pool.select(
        "k",
        "sw_q",
        (
            (F.col("swm_q").cast("double") / 1e12)
            / (F.col("sw_q").cast("double") / 1e15)
        ).alias("pooled"),
    )
    qstat = terms.crossJoin(F.broadcast(est)).agg(
        F.max("k").alias("k"),
        F.max("pooled").alias("pooled"),
        (
            F.sum(
                F.floor(
                    (F.col("w_q").cast("double") / 1e15)
                    * (F.col("mean") - F.col("pooled"))
                    * (F.col("mean") - F.col("pooled"))
                    * 1e6
                ).cast("long")
            ).cast("double")
            / 1e6
        ).alias("q"),
    )
    return qstat.select(
        F.col("k").cast("bigint").alias("k_groups"),
        F.round("pooled", 4).alias("pooled_mean"),
        F.round("q", 4).alias("cochran_q"),
        F.round(
            F.greatest(
                F.lit(0.0),
                (F.col("q") - (F.col("k") - 1))
                / F.nullif(F.col("q"), F.lit(0.0)),
            ),
            6,
        ).alias("i_squared"),
    )


@register(
    "stats_cohens_d",
    """
    WITH g AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 'purchase'
                    ELSE 'other' END AS grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1
    ), dev AS (
        SELECT CASE WHEN e.event_type = 'purchase' THEN 'purchase'
                    ELSE 'other' END AS grp, g.n,
               e.value - CAST(g.cents AS DOUBLE) / 100.0 / g.n AS d
        FROM events e JOIN g
          ON g.grp = CASE WHEN e.event_type = 'purchase' THEN 'purchase'
                          ELSE 'other' END
    ), s AS (
        SELECT grp, MAX(n) AS n,
               CAST(SUM(CAST(FLOOR(d * d * 100.0) AS BIGINT)) AS DOUBLE)
                   / 100.0 AS ss
        FROM dev GROUP BY 1
    ), wide AS (
        SELECT MAX(CASE WHEN grp = 'purchase' THEN n END) AS n1,
               MAX(CASE WHEN grp = 'other' THEN n END) AS n2,
               MAX(CASE WHEN grp = 'purchase' THEN ss END) AS ss1,
               MAX(CASE WHEN grp = 'other' THEN ss END) AS ss2
        FROM s
    ), m AS (
        SELECT g1.cents1, g2.cents2, w.* FROM wide w
        CROSS JOIN (SELECT cents AS cents1 FROM g WHERE grp = 'purchase') g1
        CROSS JOIN (SELECT cents AS cents2 FROM g WHERE grp = 'other') g2
    )
    SELECT CAST(n1 AS BIGINT) AS n_purchase,
           CAST(n2 AS BIGINT) AS n_other,
           ROUND(CAST(cents1 AS DOUBLE) / 100.0 / n1
                 - CAST(cents2 AS DOUBLE) / 100.0 / n2, 4) AS mean_diff,
           ROUND(SQRT((ss1 + ss2) / (n1 + n2 - 2)), 4) AS pooled_sd,
           ROUND((CAST(cents1 AS DOUBLE) / 100.0 / n1
                  - CAST(cents2 AS DOUBLE) / 100.0 / n2)
                 / SQRT((ss1 + ss2) / (n1 + n2 - 2)), 6) AS cohens_d
    FROM m
    """,
)
def stats_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d standardized effect size between purchase-event values
    and all other events: mean difference over the pooled standard
    deviation — the effect-size companion the t-test family reports so
    "significant" can be distinguished from "large". Two-pass exact
    shape (integer-cents means, quantized squared deviations summed
    order-independently), then the d statistic is one fixed-form
    expression over a pivoted 1-row frame. At 100 TB: two partial→final
    passes, a 2-row broadcast, nothing else."""
    ev = load_table(spark, sf_dir, "events")
    grp = F.when(F.col("event_type") == "purchase", F.lit("purchase")).otherwise(
        F.lit("other")
    )
    g = ev.groupBy(grp.alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.floor(F.col("value") * 100.0).cast("long"))
        .cast("bigint")
        .alias("cents"),
    )
    dev = ev.select(grp.alias("grp"), "value").join(F.broadcast(g), "grp").select(
        "grp",
        "n",
        (
            F.col("value") - F.col("cents").cast("double") / 100.0 / F.col("n")
        ).alias("d"),
    )
    s = dev.groupBy("grp").agg(
        F.max("n").alias("n"),
        (
            F.sum(F.floor(F.col("d") * F.col("d") * 100.0).cast("long")).cast(
                "double"
            )
            / 100.0
        ).alias("ss"),
    )
    wide = s.join(F.broadcast(g.select("grp", "cents")), "grp").agg(
        F.max(F.when(F.col("grp") == "purchase", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == "other", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("grp") == "purchase", F.col("ss"))).alias("ss1"),
        F.max(F.when(F.col("grp") == "other", F.col("ss"))).alias("ss2"),
        F.max(F.when(F.col("grp") == "purchase", F.col("cents"))).alias(
            "cents1"
        ),
        F.max(F.when(F.col("grp") == "other", F.col("cents"))).alias("cents2"),
    )
    m1 = F.col("cents1").cast("double") / 100.0 / F.col("n1")
    m2 = F.col("cents2").cast("double") / 100.0 / F.col("n2")
    psd = F.sqrt((F.col("ss1") + F.col("ss2")) / (F.col("n1") + F.col("n2") - 2))
    return wide.select(
        F.col("n1").cast("bigint").alias("n_purchase"),
        F.col("n2").cast("bigint").alias("n_other"),
        F.round(m1 - m2, 4).alias("mean_diff"),
        F.round(psd, 4).alias("pooled_sd"),
        F.round((m1 - m2) / psd, 6).alias("cohens_d"),
    )


def _hypergeom_sql() -> str:
    from hive_processor_spark.functions.mathtab import LNFACT_Q, lnfact_frame

    arr = "[" + ", ".join(str(v) for v in LNFACT_Q) + "]"
    return f"""
    WITH lf AS (SELECT {arr} AS t),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
    kl AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS kk FROM documents GROUP BY 1
    ), ns AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS sn
        FROM documents GROUP BY 1
    ), obs AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS k
        FROM documents GROUP BY 1, 2
    ), cells AS (
        SELECT o.lang, o.source, o.k, kl.kk, ns.sn, tot.nn
        FROM obs o JOIN kl ON kl.lang = o.lang
        JOIN ns ON ns.source = o.source CROSS JOIN tot
    ), js AS (
        SELECT lang, source, k, kk, sn, nn,
               UNNEST(RANGE(k, LEAST(kk, sn) + 1)) AS j
        FROM cells
    ), terms AS (
        SELECT lang, source, k, kk, sn, nn, j,
               CAST(FLOOR(EXP((
                     (lf.t[kk + 1] - lf.t[j + 1] - lf.t[kk - j + 1])
                   + (lf.t[nn - kk + 1] - lf.t[sn - j + 1]
                      - lf.t[nn - kk - sn + j + 1])
                   - (lf.t[nn + 1] - lf.t[sn + 1] - lf.t[nn - sn + 1])
                 ) / 1e9) * 1e12) AS BIGINT) AS term_q
        FROM js CROSS JOIN lf
    )
    SELECT lang, source,
           CAST(MAX(k) AS BIGINT) AS n_obs,
           ROUND(CAST(MAX(sn) AS DOUBLE) * MAX(kk) / MAX(nn), 4) AS expected,
           ROUND(LEAST(CAST(SUM(term_q) AS DOUBLE) / 1e12, 1.0), 6)
               AS p_upper
    FROM terms GROUP BY 1, 2 ORDER BY 1, 2
    """


@register("stats_hypergeom_enrichment", _hypergeom_sql())
def stats_hypergeom_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypergeometric enrichment test for every (lang, source) cell:
    the exact upper-tail P(X ≥ k) that source S would contain k or more
    docs of language L under random assignment — the over-representation
    test behind gene-set/feature enrichment, here auditing whether any
    source specializes in a language. The binomial coefficients come
    from a PRECOMPUTED integer-quantized log-factorial table
    (functions/mathtab.py: floor(ln(m!)·1e9) from Python's exact
    integer factorial) embedded identically in BOTH engines, so neither
    engine's ln() is on the comparison path; each tail term is
    exp(integer/1e9) floor-quantized at 1e-12 and integer-summed.
    Shape: three grouped counts + a bounded per-cell tail explode
    (≤ min(K,n) terms) — all on the tiny marginal frames. At 100 TB
    only the three counts touch data; the table join is a broadcast
    literal."""
    from hive_processor_spark.functions.mathtab import LNFACT_Q, lnfact_frame

    docs = load_table(spark, sf_dir, "documents")
    tot = docs.agg(F.count(F.lit(1)).cast("bigint").alias("nn"))
    kl = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("kk"))
    ns = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("sn")
    )
    obs = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    cells = (
        obs.join(F.broadcast(kl), "lang")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
    )
    js = cells.select(
        "lang",
        "source",
        "k",
        "kk",
        "sn",
        "nn",
        F.explode(
            F.sequence(F.col("k"), F.least(F.col("kk"), F.col("sn")))
        ).alias("j"),
    ).crossJoin(F.broadcast(lnfact_frame(spark)))

    def lfq(idx):
        return F.element_at(F.col("lft"), (idx + 1).cast("int"))

    ln_term = (
        (lfq(F.col("kk")) - lfq(F.col("j")) - lfq(F.col("kk") - F.col("j")))
        + (
            lfq(F.col("nn") - F.col("kk"))
            - lfq(F.col("sn") - F.col("j"))
            - lfq(F.col("nn") - F.col("kk") - F.col("sn") + F.col("j"))
        )
        - (lfq(F.col("nn")) - lfq(F.col("sn")) - lfq(F.col("nn") - F.col("sn")))
    ).cast("double") / 1e9
    terms = js.select(
        "lang",
        "source",
        "k",
        "kk",
        "sn",
        "nn",
        F.floor(F.exp(ln_term) * 1e12).cast("long").alias("term_q"),
    )
    return (
        terms.groupBy("lang", "source")
        .agg(
            F.max("k").cast("bigint").alias("n_obs"),
            F.round(
                F.max("sn").cast("double") * F.max("kk") / F.max("nn"), 4
            ).alias("expected"),
            F.round(
                F.least(F.sum("term_q").cast("double") / 1e12, F.lit(1.0)), 6
            ).alias("p_upper"),
        )
        .orderBy("lang", "source")
    )


@register(
    "stats_breusch_pagan",
    """
    WITH t AS (
        SELECT CAST(LEN(STR_SPLIT(text, ' ')) AS BIGINT) AS x,
               n_chars AS y
        FROM documents
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM t
    ), fit AS (
        SELECT n, sx, sy, sxx,
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   AS b,
               (CAST(sy AS DOUBLE)
                - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * sx) / n AS a
        FROM s
    ), res AS (
        SELECT t.x,
               CAST(FLOOR(POW(t.y - fit.a - fit.b * t.x, 2.0) * 1e6)
                    AS BIGINT) AS e2_q
        FROM t CROSS JOIN fit
    ), aux AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(e2_q) AS HUGEINT) AS sg,
               CAST(SUM(CAST(x AS HUGEINT) * e2_q) AS HUGEINT) AS sxg,
               CAST(SUM(CAST(FLOOR(POW(e2_q / 1e6, 2.0) / 1e3) AS HUGEINT))
                    AS HUGEINT) AS sgg_q
        FROM res
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(POW(CAST(n AS DOUBLE) * (CAST(sxg AS DOUBLE) / 1e6)
                     - CAST(sx AS DOUBLE) * (CAST(sg AS DOUBLE) / 1e6), 2.0)
                 / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * (CAST(sgg_q AS DOUBLE) * 1e3)
                       - POW(CAST(sg AS DOUBLE) / 1e6, 2.0))), 6)
               AS r2_aux,
           ROUND(CAST(n AS DOUBLE)
                 * POW(CAST(n AS DOUBLE) * (CAST(sxg AS DOUBLE) / 1e6)
                       - CAST(sx AS DOUBLE) * (CAST(sg AS DOUBLE) / 1e6), 2.0)
                 / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * (CAST(sgg_q AS DOUBLE) * 1e3)
                       - POW(CAST(sg AS DOUBLE) / 1e6, 2.0))), 4)
               AS bp_lm,
           CAST(CASE WHEN CAST(n AS DOUBLE)
                 * POW(CAST(n AS DOUBLE) * (CAST(sxg AS DOUBLE) / 1e6)
                       - CAST(sx AS DOUBLE) * (CAST(sg AS DOUBLE) / 1e6), 2.0)
                 / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * (CAST(sgg_q AS DOUBLE) * 1e3)
                       - POW(CAST(sg AS DOUBLE) / 1e6, 2.0))) > 3.841
                THEN 1 ELSE 0 END AS INT) AS heteroscedastic_5pct
    FROM aux
    """,
)
def stats_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch–Pagan heteroscedasticity test on the n_chars ~ word_count
    regression: fit OLS, then regress the SQUARED residuals on x and
    report the auxiliary R² and the LM statistic n·R² (χ²₁; > 3.841
    rejects constant variance at 5%) — the diagnostic that says whether
    the OLS standard errors can be trusted. Two-pass exact shape: the
    fit comes from exact integer sufficient statistics; squared
    residuals are floor-quantized micro-units whose sums (including the
    x-weighted and squared variants) ride in 128-bit accumulators; the
    auxiliary regression is closed-form algebra on one row. Both
    passes are map-combined aggregations — nothing new at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.size(F.split("text", " ")).cast("bigint").alias("x"),
        F.col("n_chars").alias("y"),
    )
    s = t.agg(
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
        "n", "sx", "sy", "sxx", b.alias("b"),
        ((F.col("sy").cast("double") - b * F.col("sx")) / F.col("n")).alias(
            "a"
        ),
    )
    res = t.crossJoin(F.broadcast(fit)).select(
        "x",
        F.floor(
            F.pow(F.col("y") - F.col("a") - F.col("b") * F.col("x"), 2.0)
            * 1e6
        )
        .cast("long")
        .alias("e2_q"),
    )
    aux = res.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("e2_q").cast("decimal(38,0)")).alias("sg"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("e2_q")).alias("sxg"),
        F.sum(
            F.floor(F.pow(F.col("e2_q") / 1e6, 2.0) / 1e3).cast(
                "decimal(38,0)"
            )
        ).alias("sgg_q"),
    )
    nd = F.col("n").cast("double")
    num = nd * (F.col("sxg").cast("double") / 1e6) - F.col("sx").cast(
        "double"
    ) * (F.col("sg").cast("double") / 1e6)
    den = (
        nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    ) * (
        nd * (F.col("sgg_q").cast("double") * 1e3)
        - F.pow(F.col("sg").cast("double") / 1e6, 2.0)
    )
    r2 = F.pow(num, 2.0) / den
    return aux.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(r2, 6).alias("r2_aux"),
        F.round(nd * r2, 4).alias("bp_lm"),
        F.when(nd * r2 > 3.841, 1).otherwise(0).cast("int").alias(
            "heteroscedastic_5pct"
        ),
    )


@register(
    "stats_hill_tail",
    """
    WITH v AS (
        SELECT CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS cents FROM orders
    ), ranked AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents DESC) AS rn,
               COUNT(*) OVER () AS n
        FROM v
    ), ks AS (SELECT UNNEST([50, 100, 200]) AS k),
    thr AS (
        SELECT ks.k, r.cents AS xk
        FROM ks JOIN ranked r ON r.rn = ks.k + 1
    ), hill AS (
        SELECT t.k, t.xk,
               CAST(SUM(CAST(FLOOR(LN(CAST(r.cents AS DOUBLE) / t.xk) * 1e9)
                             AS BIGINT)) AS BIGINT) AS s_q
        FROM thr t JOIN ranked r ON r.rn <= t.k
        GROUP BY t.k, t.xk
    )
    SELECT CAST(k AS INT) AS k,
           ROUND(xk / 100.0, 2) AS threshold,
           ROUND(CAST(s_q AS DOUBLE) / 1e9 / k, 6) AS hill_gamma,
           ROUND(k / (CAST(s_q AS DOUBLE) / 1e9), 4) AS alpha_hat
    FROM hill ORDER BY k
    """,
)
def stats_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the upper-tail index of order values at three
    tail depths (k = 50/100/200 largest observations): γ̂ = mean
    ln(x₍ᵢ₎/x₍ₖ₊₁₎) and α̂ = 1/γ̂ — the heavy-tail diagnostic that says
    whether extreme orders follow a power law (finite-variance check
    for revenue risk models; stability of α̂ across k is the classic
    Hill-plot read). Order statistics come from exact integer ranks;
    each ln ratio is floor-quantized to nano-units and integer-summed —
    deterministic at any parallelism (the statistic is tie-invariant: it
    consumes the top-k value MULTISET, so any tie order at the k
    boundary yields the same sums). Shape (round-6 window-audit fix):
    TakeOrderedAndProject keeps exactly the max(k)+1 = 201 largest
    values — a distributed top-k, never a full-table rank through one
    partition — and the rank window runs over that provably-201-row
    frame; then a 3-row threshold lookup and a bounded top-k join."""
    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("cents")
    )
    top = v.orderBy(F.col("cents").desc()).limit(201)
    w = Window.orderBy(F.col("cents").desc())
    ranked = top.select(
        "cents",
        F.row_number().over(w).alias("rn"),
    )
    ks = spark.createDataFrame([(50,), (100,), (200,)], "k: int")
    thr = ks.join(
        ranked.withColumnRenamed("cents", "xk"),
        ranked["rn"] == ks["k"] + 1,
    ).select("k", "xk")
    hill = (
        thr.join(F.broadcast(ranked), ranked["rn"] <= thr["k"])
        .groupBy("k", "xk")
        .agg(
            F.sum(
                F.floor(
                    F.ln(F.col("cents").cast("double") / F.col("xk")) * 1e9
                ).cast("long")
            )
            .cast("bigint")
            .alias("s_q")
        )
    )
    return hill.select(
        F.col("k").cast("int").alias("k"),
        F.round(F.col("xk") / 100.0, 2).alias("threshold"),
        F.round(F.col("s_q").cast("double") / 1e9 / F.col("k"), 6).alias(
            "hill_gamma"
        ),
        F.round(
            F.col("k") / (F.col("s_q").cast("double") / 1e9), 4
        ).alias("alpha_hat"),
    ).orderBy("k")


@register(
    "stats_tail_dependence",
    """
    WITH a AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT))
                    AS BIGINT) AS x
        FROM lineitem GROUP BY 1
    ), b AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1
    ), j AS (
        SELECT a.day, a.x, b.y FROM a JOIN b ON b.day = a.day
    ), ranked AS (
        SELECT day, x, y,
               ROW_NUMBER() OVER (ORDER BY x, day) AS rx,
               ROW_NUMBER() OVER (ORDER BY y, day) AS ry,
               COUNT(*) OVER () AS n
        FROM j
    ), q AS (
        SELECT *, CAST(CEIL(0.95 * n) AS BIGINT) AS k FROM ranked
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_days,
           CAST(COUNT(*) FILTER (WHERE rx > k) AS BIGINT) AS x_exceed,
           CAST(COUNT(*) FILTER (WHERE ry > k) AS BIGINT) AS y_exceed,
           CAST(COUNT(*) FILTER (WHERE rx > k AND ry > k) AS BIGINT)
               AS joint_exceed,
           ROUND(CAST(COUNT(*) FILTER (WHERE rx > k AND ry > k) AS DOUBLE)
                 / NULLIF(COUNT(*) FILTER (WHERE ry > k), 0), 6)
               AS lambda_upper
    FROM q
    """,
)
def stats_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical upper-tail dependence between daily lineitem and order
    revenue: λ̂_U = P(X above its 95th percentile | Y above its 95th
    percentile) via joint rank exceedance counts — the copula-tail
    diagnostic that says whether extremes co-occur (correlation can be
    high while tails are independent, and vice versa; risk aggregation
    cares about exactly this). Ranks are exact integers with day
    tie-breaks; exceedance is a pure rank comparison against the
    ceil(0.95n) fence — no float quantiles anywhere. Two grouped sums,
    a day-keyed join of small daily frames, two rank windows, one
    conditional reduction."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    a = li.groupBy(F.to_date("l_shipdate").alias("day")).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100.0).cast("long"))
        .cast("long")
        .alias("x")
    )
    b = orders.groupBy(F.to_date("o_orderdate").alias("oday")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("long"))
        .cast("long")
        .alias("y")
    )
    j = a.join(b, a["day"] == b["oday"]).select("day", "x", "y")
    wall = Window.partitionBy()
    ranked = j.select(
        "x",
        "y",
        F.row_number().over(Window.orderBy("x", "day")).alias("rx"),
        F.row_number().over(Window.orderBy("y", "day")).alias("ry"),
        F.count(F.lit(1)).over(wall).alias("n"),
    ).withColumn("k", F.ceil(0.95 * F.col("n")).cast("bigint"))
    xe = F.col("rx") > F.col("k")
    ye = F.col("ry") > F.col("k")
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.count_if(xe).cast("bigint").alias("x_exceed"),
        F.count_if(ye).cast("bigint").alias("y_exceed"),
        F.count_if(xe & ye).cast("bigint").alias("joint_exceed"),
        F.round(
            F.count_if(xe & ye).cast("double")
            / F.nullif(F.count_if(ye), F.lit(0)),
            6,
        ).alias("lambda_upper"),
    )


@register(
    "stats_mcnemar",
    """
    WITH s AS (
        SELECT (event_type = 'purchase') AS y,
               (value >= 100.0) AS pred_a,
               (value >= 120.0) AS pred_b
        FROM events
    ), cells AS (
        SELECT CAST(COUNT(*) FILTER (WHERE (pred_a = y) AND (pred_b <> y))
                    AS BIGINT) AS b,
               CAST(COUNT(*) FILTER (WHERE (pred_a <> y) AND (pred_b = y))
                    AS BIGINT) AS c,
               CAST(COUNT(*) FILTER (WHERE (pred_a = y) AND (pred_b = y))
                    AS BIGINT) AS both_right,
               CAST(COUNT(*) FILTER (WHERE (pred_a <> y) AND (pred_b <> y))
                    AS BIGINT) AS both_wrong
        FROM s
    )
    SELECT b AS a_only_right, c AS b_only_right, both_right, both_wrong,
           ROUND(POW(ABS(b - c) - 1.0, 2.0) / (b + c), 4) AS mcnemar_chi2,
           CAST(CASE WHEN POW(ABS(b - c) - 1.0, 2.0) / (b + c) > 3.841
                     THEN 1 ELSE 0 END AS INT) AS differs_5pct
    FROM cells
    """,
)
def stats_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for comparing two classifiers on PAIRED
    predictions (threshold-100 vs threshold-120 purchase rules on the
    same events): only the discordant cells matter — b (A right, B
    wrong) vs c (B right, A wrong) — and the continuity-corrected
    χ² = (|b−c|−1)²/(b+c) says whether the accuracy difference is real
    or coin-flip noise. This is THE test for "is model B actually
    better on the same eval set" (unpaired proportion tests overstate
    significance by ignoring the pairing). One conditional-count
    aggregation; all inputs exact integers, the statistic final-form."""
    ev = load_table(spark, sf_dir, "events")
    y = F.col("event_type") == "purchase"
    pa = F.col("value") >= 100.0
    pb = F.col("value") >= 120.0
    cells = ev.agg(
        F.count_if((pa == y) & (pb != y)).cast("bigint").alias("b"),
        F.count_if((pa != y) & (pb == y)).cast("bigint").alias("c"),
        F.count_if((pa == y) & (pb == y)).cast("bigint").alias("both_right"),
        F.count_if((pa != y) & (pb != y)).cast("bigint").alias("both_wrong"),
    )
    chi2 = F.pow(F.abs(F.col("b") - F.col("c")) - 1.0, 2.0) / (
        F.col("b") + F.col("c")
    )
    return cells.select(
        F.col("b").alias("a_only_right"),
        F.col("c").alias("b_only_right"),
        "both_right",
        "both_wrong",
        F.round(chi2, 4).alias("mcnemar_chi2"),
        F.when(chi2 > 3.841, 1).otherwise(0).cast("int").alias(
            "differs_5pct"
        ),
    )


@register(
    "stats_weibull_fit",
    """
    WITH gaps AS (
        SELECT user_id,
               epoch_us(ts) - LAG(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts) AS g_us
        FROM events
    ), nz AS (
        SELECT CAST(g_us AS DOUBLE) / 1e6 AS t
        FROM gaps WHERE g_us IS NOT NULL AND g_us > 0
    ), ranked AS (
        SELECT t,
               ROW_NUMBER() OVER (ORDER BY t) AS i,
               COUNT(*) OVER () AS n
        FROM nz
    ), tr AS (
        SELECT LN(t) AS x,
               LN(-LN(1.0 - (i - 0.3) / (n + 0.4))) AS y
        FROM ranked
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(x * 1e6) AS BIGINT)) AS BIGINT) AS sx_q,
               CAST(SUM(CAST(FLOOR(y * 1e6) AS BIGINT)) AS BIGINT) AS sy_q,
               CAST(SUM(CAST(FLOOR(x * x * 1e6) AS BIGINT)) AS BIGINT)
                   AS sxx_q,
               CAST(SUM(CAST(FLOOR(x * y * 1e6) AS BIGINT)) AS BIGINT)
                   AS sxy_q,
               CAST(SUM(CAST(FLOOR(y * y * 1e6) AS BIGINT)) AS BIGINT)
                   AS syy_q
        FROM tr
    )
    SELECT CAST(n AS BIGINT) AS n_gaps,
           ROUND((CAST(n AS DOUBLE) * (sxy_q / 1e6)
                  - (sx_q / 1e6) * (sy_q / 1e6))
                 / (CAST(n AS DOUBLE) * (sxx_q / 1e6)
                    - POW(sx_q / 1e6, 2.0)), 4) AS shape_k,
           ROUND(EXP(-((sy_q / 1e6) / n
                 - (CAST(n AS DOUBLE) * (sxy_q / 1e6)
                    - (sx_q / 1e6) * (sy_q / 1e6))
                   / (CAST(n AS DOUBLE) * (sxx_q / 1e6)
                      - POW(sx_q / 1e6, 2.0))
                   * (sx_q / 1e6) / n)
                 / ((CAST(n AS DOUBLE) * (sxy_q / 1e6)
                     - (sx_q / 1e6) * (sy_q / 1e6))
                    / (CAST(n AS DOUBLE) * (sxx_q / 1e6)
                       - POW(sx_q / 1e6, 2.0)))), 2) AS scale_lambda_s,
           ROUND(POW(CAST(n AS DOUBLE) * (sxy_q / 1e6)
                     - (sx_q / 1e6) * (sy_q / 1e6), 2.0)
                 / ((CAST(n AS DOUBLE) * (sxx_q / 1e6)
                     - POW(sx_q / 1e6, 2.0))
                    * (CAST(n AS DOUBLE) * (syy_q / 1e6)
                       - POW(sy_q / 1e6, 2.0))), 6) AS fit_r2
    FROM s
    """,
)
def stats_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull fit of inter-event gap times by median-rank regression
    (the reliability-engineering standard): plot position
    F̂ᵢ = (i−0.3)/(n+0.4) per sorted gap, regress ln(−ln(1−F̂)) on
    ln(t) — slope = shape k (k≈1 exponential/memoryless, k<1 infant
    mortality, k>1 wear-out), scale λ from the intercept. Shape k
    diagnoses whether user activity is bursty or scheduled. Plot
    positions are exact rank rationals; both transformed coordinates
    are floor-quantized before the sufficient-statistic sums; the fit
    is closed-form (and tie-invariant: tied gaps swap identical x
    values across adjacent plot positions, leaving every sum
    unchanged). One lag window (shuffle ∝ events, partitioned by
    user), the bucketed two-level rank over the gap frame (round-6
    window-audit fix — gaps grow with events, so they never rank
    through one partition), one reduction."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts")
    gaps = ev.select((us - F.lag(us).over(w)).alias("g_us")).filter(
        F.col("g_us").isNotNull() & (F.col("g_us") > 0)
    )
    nz = gaps.select((F.col("g_us").cast("double") / 1e6).alias("t"))
    tot = nz.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = with_global_order(nz, "t", rank="i").crossJoin(
        F.broadcast(tot)
    )
    tr = ranked.select(
        F.ln("t").alias("x"),
        F.ln(
            -F.ln(1.0 - (F.col("i") - 0.3) / (F.col("n") + 0.4))
        ).alias("y"),
    )

    def q6(c):
        return F.sum(F.floor(c * 1e6).cast("long")).cast("long")

    s = tr.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        q6(F.col("x")).alias("sx_q"),
        q6(F.col("y")).alias("sy_q"),
        q6(F.col("x") * F.col("x")).alias("sxx_q"),
        q6(F.col("x") * F.col("y")).alias("sxy_q"),
        q6(F.col("y") * F.col("y")).alias("syy_q"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx_q") / 1e6, F.col("sy_q") / 1e6
    sxx, sxy, syy = (
        F.col("sxx_q") / 1e6,
        F.col("sxy_q") / 1e6,
        F.col("syy_q") / 1e6,
    )
    slope = (nd * sxy - sx * sy) / (nd * sxx - F.pow(sx, 2.0))
    intercept = sy / nd - slope * sx / nd
    r2 = F.pow(nd * sxy - sx * sy, 2.0) / (
        (nd * sxx - F.pow(sx, 2.0)) * (nd * syy - F.pow(sy, 2.0))
    )
    return s.select(
        F.col("n").alias("n_gaps"),
        F.round(slope, 4).alias("shape_k"),
        F.round(F.exp(-intercept / slope), 2).alias("scale_lambda_s"),
        F.round(r2, 6).alias("fit_r2"),
    )


@register(
    "stats_vif",
    """
    WITH t AS (
        -- inputs are exact at 2dp: integerize FIRST (half-up escape from
        -- representation error), so every product/sum below is EXACT —
        -- per-term floor quantization of near-zero covariances injects a
        -- systematic bias that fabricates correlation (caught by the
        -- independent numpy test; both engines shared the bias)
        SELECT CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT) AS a,
               CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT) AS b,
               CAST(FLOOR(l_tax * 100.0 + 0.5) AS BIGINT) AS c
        FROM lineitem
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a) AS BIGINT) AS sa,
               CAST(SUM(b) AS BIGINT) AS sb,
               CAST(SUM(c) AS BIGINT) AS sc,
               CAST(SUM(a * a) AS BIGINT) AS saa,
               CAST(SUM(b * b) AS BIGINT) AS sbb,
               CAST(SUM(c * c) AS BIGINT) AS scc,
               CAST(SUM(a * b) AS BIGINT) AS sab,
               CAST(SUM(a * c) AS BIGINT) AS sac,
               CAST(SUM(b * c) AS BIGINT) AS sbc
        FROM t
    ), r AS (
        SELECT
          (CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb)
          / SQRT((CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa)
                 * (CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb))
              AS rab,
          (CAST(n AS DOUBLE) * sac - CAST(sa AS DOUBLE) * sc)
          / SQRT((CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa)
                 * (CAST(n AS DOUBLE) * scc - CAST(sc AS DOUBLE) * sc))
              AS rac,
          (CAST(n AS DOUBLE) * sbc - CAST(sb AS DOUBLE) * sc)
          / SQRT((CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb)
                 * (CAST(n AS DOUBLE) * scc - CAST(sc AS DOUBLE) * sc))
              AS rbc
        FROM s
    ), vif AS (
        -- VIF_j = R_jj^-1 via the 3x3 correlation-matrix inverse:
        -- det = 1 - rab^2 - rac^2 - rbc^2 + 2*rab*rac*rbc
        SELECT rab, rac, rbc,
               1.0 - rab * rab - rac * rac - rbc * rbc
                   + 2.0 * rab * rac * rbc AS det
        FROM r
    )
    SELECT ROUND(rab, 6) AS r_qty_disc,
           ROUND(rac, 6) AS r_qty_tax,
           ROUND(rbc, 6) AS r_disc_tax,
           ROUND((1.0 - rbc * rbc) / det, 4) AS vif_quantity,
           ROUND((1.0 - rac * rac) / det, 4) AS vif_discount,
           ROUND((1.0 - rab * rab) / det, 4) AS vif_tax
    FROM vif
    """,
)
def stats_vif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance inflation factors for the three lineitem regressors
    (quantity, discount, tax): VIF_j is the j-th diagonal of the
    inverse correlation matrix — for 3 features that inverse is
    closed-form cofactor algebra over the three pairwise correlations,
    so no iterative solver is needed (VIF_a = (1−r_bc²)/det with
    det = 1 − r_ab² − r_ac² − r_bc² + 2·r_ab·r_ac·r_bc). Inputs are integerized at their exact 2-dp
    grain FIRST so all sufficient statistics are exact integers (per-term
    product quantization biases near-zero covariances — a bug class the
    independent test caught). VIF > 5-10
    flags multicollinearity that makes coefficient estimates unstable —
    the pre-flight check before any multivariate fit. All correlations
    come from one pass of floor-quantized sufficient statistics;
    everything downstream is fixed-form algebra on one row."""
    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(
        F.floor(F.col("l_quantity") * 100.0 + 0.5).cast("long").alias("a"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long").alias("b"),
        F.floor(F.col("l_tax") * 100.0 + 0.5).cast("long").alias("c"),
    )

    a, b, c = F.col("a"), F.col("b"), F.col("c")
    s = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(a).cast("long").alias("sa"),
        F.sum(b).cast("long").alias("sb"),
        F.sum(c).cast("long").alias("sc"),
        F.sum(a * a).cast("long").alias("saa"),
        F.sum(b * b).cast("long").alias("sbb"),
        F.sum(c * c).cast("long").alias("scc"),
        F.sum(a * b).cast("long").alias("sab"),
        F.sum(a * c).cast("long").alias("sac"),
        F.sum(b * c).cast("long").alias("sbc"),
    )
    nd = F.col("n").cast("double")

    def corr(sxy, sx, sy, sxx, syy):
        return (nd * F.col(sxy) - F.col(sx).cast("double") * F.col(sy)) / (
            F.sqrt(
                (nd * F.col(sxx) - F.col(sx).cast("double") * F.col(sx))
                * (nd * F.col(syy) - F.col(sy).cast("double") * F.col(sy))
            )
        )

    r = s.select(
        corr("sab", "sa", "sb", "saa", "sbb").alias("rab"),
        corr("sac", "sa", "sc", "saa", "scc").alias("rac"),
        corr("sbc", "sb", "sc", "sbb", "scc").alias("rbc"),
    )
    rab, rac, rbc = F.col("rab"), F.col("rac"), F.col("rbc")
    det = 1.0 - rab * rab - rac * rac - rbc * rbc + 2.0 * rab * rac * rbc
    return r.select(
        F.round(rab, 6).alias("r_qty_disc"),
        F.round(rac, 6).alias("r_qty_tax"),
        F.round(rbc, 6).alias("r_disc_tax"),
        F.round((1.0 - rbc * rbc) / det, 4).alias("vif_quantity"),
        F.round((1.0 - rac * rac) / det, 4).alias("vif_discount"),
        F.round((1.0 - rab * rab) / det, 4).alias("vif_tax"),
    )


@register(
    "stats_bland_altman",
    """
    WITH li AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT))
                    AS BIGINT) AS li_cents
        FROM lineitem GROUP BY 1
    ), paired AS (
        SELECT CAST(FLOOR(o.o_totalprice * 100.0) AS BIGINT) AS m1,
               li.li_cents AS m2
        FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
    ), d AS (
        SELECT m1 - m2 AS diff, (m1 + m2) AS mean2 FROM paired
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(diff) AS BIGINT) AS sd_sum,
               CAST(SUM(CAST(diff AS HUGEINT) * diff) AS HUGEINT) AS sdd
        FROM d
    ), lim AS (
        SELECT n,
               CAST(sd_sum AS DOUBLE) / n AS bias,
               SQRT((CAST(sdd AS DOUBLE)
                     - CAST(sd_sum AS DOUBLE) * sd_sum / n) / (n - 1)) AS sd
        FROM s
    )
    SELECT CAST(lim.n AS BIGINT) AS n_pairs,
           ROUND(lim.bias / 100.0, 2) AS bias,
           ROUND(lim.sd / 100.0, 2) AS sd_diff,
           ROUND((lim.bias - 1.96 * lim.sd) / 100.0, 2) AS loa_lower,
           ROUND((lim.bias + 1.96 * lim.sd) / 100.0, 2) AS loa_upper,
           ROUND(CAST(COUNT(*) FILTER (
                     WHERE d.diff >= lim.bias - 1.96 * lim.sd
                       AND d.diff <= lim.bias + 1.96 * lim.sd) AS DOUBLE)
                 / lim.n, 6) AS within_loa
    FROM d CROSS JOIN lim
    GROUP BY lim.n, lim.bias, lim.sd
    """,
)
def stats_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland–Altman method-agreement analysis between two measurements
    of the same quantity the fixture genuinely carries twice: the order
    header total vs the sum of its line items — bias (mean difference),
    the SD of differences, 95% limits of agreement, and the fraction of
    pairs inside them. This is the measurement-comparison tool that
    catches systematic disagreement correlation hides (two measures can
    correlate 0.99 and still disagree by a constant). Differences are
    exact integer cents; moments use 128-bit accumulators; the
    within-limits count is one conditional pass with the 1-row limits
    broadcast. Two aggregations + one join, shuffle ∝ orders."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lio = li.groupBy("l_orderkey").agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100.0).cast("long"))
        .cast("bigint")
        .alias("li_cents")
    )
    paired = orders.join(
        lio, lio["l_orderkey"] == orders["o_orderkey"]
    ).select(
        (
            F.floor(F.col("o_totalprice") * 100.0).cast("long")
            - F.col("li_cents")
        ).alias("diff")
    )
    s = paired.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("diff").cast("bigint").alias("sd_sum"),
        F.sum(F.col("diff").cast("decimal(38,0)") * F.col("diff")).alias(
            "sdd"
        ),
    )
    bias = F.col("sd_sum").cast("double") / F.col("n")
    sd = F.sqrt(
        (
            F.col("sdd").cast("double")
            - F.col("sd_sum").cast("double") * F.col("sd_sum") / F.col("n")
        )
        / (F.col("n") - 1)
    )
    lim = s.select(F.col("n"), bias.alias("bias"), sd.alias("sd"))
    within = (F.col("diff") >= F.col("bias") - 1.96 * F.col("sd")) & (
        F.col("diff") <= F.col("bias") + 1.96 * F.col("sd")
    )
    return (
        paired.crossJoin(F.broadcast(lim))
        .groupBy("n", "bias", "sd")
        .agg(
            F.round(
                F.count_if(within).cast("double") / F.max("n"), 6
            ).alias("within_loa")
        )
        .select(
            F.col("n").cast("bigint").alias("n_pairs"),
            F.round(F.col("bias") / 100.0, 2).alias("bias"),
            F.round(F.col("sd") / 100.0, 2).alias("sd_diff"),
            F.round((F.col("bias") - 1.96 * F.col("sd")) / 100.0, 2).alias(
                "loa_lower"
            ),
            F.round((F.col("bias") + 1.96 * F.col("sd")) / 100.0, 2).alias(
                "loa_upper"
            ),
            "within_loa",
        )
    )


@register(
    "stats_zero_inflation",
    """
    WITH u AS (
        SELECT c.c_custkey,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS k
        FROM customer c
        LEFT JOIN orders o
          ON o.o_custkey = c.c_custkey
         AND o.o_orderdate >= TIMESTAMP '2001-01-01'
        GROUP BY 1
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(k) AS BIGINT) AS total,
               CAST(COUNT(*) FILTER (WHERE k = 0) AS BIGINT) AS n0
        FROM u
    )
    SELECT n, n0,
           ROUND(CAST(total AS DOUBLE) / n, 6) AS lambda_hat,
           ROUND(CAST(n AS DOUBLE) * EXP(-CAST(total AS DOUBLE) / n), 2)
               AS expected_zeros,
           ROUND(CAST(n0 AS DOUBLE)
                 / (CAST(n AS DOUBLE)
                    * EXP(-CAST(total AS DOUBLE) / n)), 4)
               AS zero_ratio,
           ROUND(POW(n0 - CAST(n AS DOUBLE)
                          * EXP(-CAST(total AS DOUBLE) / n), 2.0)
                 / (CAST(n AS DOUBLE) * EXP(-CAST(total AS DOUBLE) / n)
                    * (1.0 - EXP(-CAST(total AS DOUBLE) / n))
                    - CAST(total AS DOUBLE)
                      * EXP(-2.0 * CAST(total AS DOUBLE) / n)), 4)
               AS score_stat
    FROM s
    """,
)
def stats_zero_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-inflation score test (van den Broek) on per-customer 2001
    order counts: compare observed zero-count customers to the
    Poisson-predicted n·e^{−λ̂} and report the χ²₁ score statistic —
    the count-modeling decision ("plain Poisson or zero-inflated?")
    that determines which demand model is even admissible. The
    LEFT JOIN keeps the structural zeros a naive inner-join count would
    silently drop — exactly the bug class this test exists to expose.
    Counts and totals are exact integers; λ̂ and the statistic are
    fixed-form. One join + two reductions, shuffle ∝ customers."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    o01 = orders.filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    u = cust.join(
        o01, o01["o_custkey"] == cust["c_custkey"], "left"
    ).groupBy("c_custkey").agg(
        F.count("o_orderkey").cast("bigint").alias("k")
    )
    s = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("total"),
        F.count_if(F.col("k") == 0).cast("bigint").alias("n0"),
    )
    nd = F.col("n").cast("double")
    lam = F.col("total").cast("double") / nd
    p0 = F.exp(-lam)
    expected = nd * p0
    score = F.pow(F.col("n0") - expected, 2.0) / (
        expected * (1.0 - p0) - F.col("total").cast("double") * F.exp(-2.0 * lam)
    )
    return s.select(
        "n",
        "n0",
        F.round(lam, 6).alias("lambda_hat"),
        F.round(expected, 2).alias("expected_zeros"),
        F.round(F.col("n0").cast("double") / expected, 4).alias(
            "zero_ratio"
        ),
        F.round(score, 4).alias("score_stat"),
    )


@register(
    "stats_fleiss_kappa",
    """
    WITH langs AS (SELECT ['de', 'en', 'es', 'fr', 'zh'] AS ls),
    ann AS (
        SELECT d.doc_id, k.k,
               CASE WHEN (d.doc_id * 1000003 + k.k * 2654435761)
                         % 4294967296 % 10 < 2
                    THEN langs.ls[(
                        (LIST_POSITION(langs.ls, d.lang) - 1 + 1
                         + CAST((d.doc_id * 1000003 + k.k * 2654435761)
                                % 4294967296 % 4 AS BIGINT)) % 5) + 1]
                    ELSE d.lang END AS label
        FROM documents d
        CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS k) k
        CROSS JOIN langs
    ), cell AS (
        SELECT doc_id, label, CAST(COUNT(*) AS BIGINT) AS c
        FROM ann GROUP BY 1, 2
    ), peritem AS (
        SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS ss FROM cell GROUP BY 1
    ), cat AS (
        SELECT label, CAST(SUM(c) AS BIGINT) AS cj FROM cell GROUP BY 1
    ), agg AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM peritem) AS n_items,
               (SELECT CAST(SUM(ss - 3) AS BIGINT) FROM peritem) AS s_num,
               (SELECT CAST(SUM(cj * cj) AS BIGINT) FROM cat) AS s_cj2
    )
    SELECT n_items,
           ROUND(CAST(s_num AS DOUBLE) / (6 * n_items), 6) AS p_bar,
           ROUND(CAST(s_cj2 AS DOUBLE) / (9.0 * n_items * n_items), 6)
               AS p_e,
           ROUND((CAST(s_num AS DOUBLE) / (6 * n_items)
                  - CAST(s_cj2 AS DOUBLE) / (9.0 * n_items * n_items))
                 / (1.0 - CAST(s_cj2 AS DOUBLE)
                    / (9.0 * n_items * n_items)), 6) AS fleiss_kappa
    FROM agg
    """,
)
def stats_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa inter-annotator agreement across three synthetic
    annotators labeling document language (each annotator flips ~20% of
    labels via a deterministic hash — the stand-in for the real
    multi-rater export): chance-corrected agreement for MORE than two
    raters, the labeling-QA gate every annotation pipeline reports
    before training on the labels. With 3 raters each per-item
    agreement P_i is an exact sixth (Σn²−3)/6, so EVERY quantity —
    P̄, the category shares, P̄ₑ, κ — reduces to exact integer
    arithmetic with two final divisions. Shape: 3× annotator fan-out of
    the doc frame, one (doc, label) count, two tiny rollups."""
    docs = load_table(spark, sf_dir, "documents")
    langs = ["de", "en", "es", "fr", "zh"]
    larr = F.array(*[F.lit(x) for x in langs])
    ks = spark.createDataFrame([(0,), (1,), (2,)], "k: int")
    h = (
        F.col("doc_id") * 1000003 + F.col("k") * F.lit(2654435761)
    ) % F.lit(4294967296)
    idx = F.array_position(larr, F.col("lang")) - 1
    wrong_idx = (idx + 1 + (h % 4)) % 5
    label = F.when(
        h % 10 < 2, F.element_at(larr, (wrong_idx + 1).cast("int"))
    ).otherwise(F.col("lang"))
    ann = docs.crossJoin(F.broadcast(ks)).select(
        "doc_id", label.alias("label")
    )
    cell = ann.groupBy("doc_id", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    peritem = cell.groupBy("doc_id").agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss")
    )
    cat = cell.groupBy("label").agg(F.sum("c").cast("bigint").alias("cj"))
    a1 = peritem.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(F.col("ss") - 3).cast("bigint").alias("s_num"),
    )
    a2 = cat.agg(F.sum(F.col("cj") * F.col("cj")).cast("bigint").alias("s_cj2"))
    agg = a1.crossJoin(F.broadcast(a2))
    nd = F.col("n_items").cast("double")
    p_bar = F.col("s_num").cast("double") / (6 * F.col("n_items"))
    p_e = F.col("s_cj2").cast("double") / (9.0 * nd * nd)
    return agg.select(
        "n_items",
        F.round(p_bar, 6).alias("p_bar"),
        F.round(p_e, 6).alias("p_e"),
        F.round((p_bar - p_e) / (1.0 - p_e), 6).alias("fleiss_kappa"),
    )


@register(
    "stats_james_stein",
    """
    WITH g AS (
        SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(c_acctbal * 100.0) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM customer GROUP BY 1
    ), m AS (
        SELECT nk, n, cents,
               CAST(cents AS DOUBLE) / 100.0 / n AS mean
        FROM g
    ), grand AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(FLOOR(mean * 100.0) AS BIGINT)) AS BIGINT)
                   AS gm_q
        FROM m
    ), dev AS (
        SELECT m.nk, m.n, m.cents, m.mean, grand.k,
               CAST(grand.gm_q AS DOUBLE) / 100.0 / grand.k AS gm
        FROM m CROSS JOIN grand
    ), ssd AS (
        SELECT MAX(k) AS k, MAX(gm) AS gm,
               CAST(SUM(CAST(FLOOR(POW(mean - gm, 2.0) * 100.0) AS BIGINT))
                    AS DOUBLE) / 100.0 AS ss,
               CAST(SUM(n) AS BIGINT) AS total_n
        FROM dev
    ), shrink AS (
        -- sigma2 proxy: pooled within variance approximated by the fixture
        -- scale; shrinkage factor B = max(0, 1 - (k-3)*s2_mean/ss) with
        -- s2_mean = ss/(k-1) replaced by the standard JS plug-in
        SELECT gm, GREATEST(0.0, 1.0 - (k - 3) * (ss / (k - 1)) / ss)
                   AS keep_frac
        FROM ssd
    )
    SELECT n.n_name,
           FLOOR((2 * d.cents + d.n) / (2.0 * d.n)) / 100.0 AS raw_mean,
           ROUND(s.gm + s.keep_frac * (d.mean - s.gm), 2) AS js_mean,
           ROUND(s.keep_frac, 6) AS keep_frac
    FROM dev d CROSS JOIN shrink s
    JOIN nation n ON n.n_nationkey = d.nk
    ORDER BY n.n_name
    """,
)
def stats_james_stein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """James–Stein shrinkage of the 25 per-nation mean balances toward
    the grand mean: each group estimate moves toward the pool by a
    common factor 1 − (k−3)·s²/Σ(mᵢ−m̄)² — the empirical-Bayes
    estimator that DOMINATES the raw per-group means in total squared
    error whenever k ≥ 4 (the Stein paradox, and the reason per-segment
    dashboards over thin groups should shrink). With the plug-in s²
    the keep-fraction reduces to the fixed form 1 − (k−3)/(k−1) —
    exact algebra; group means come from exact cents and the
    cross-group moments are floor-quantized integer sums. Two grouped
    passes + 25-row algebra."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    g = cust.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.floor(F.col("c_acctbal") * 100.0).cast("long"))
        .cast("bigint")
        .alias("cents"),
    )
    m = g.select(
        "nk",
        "n",
        "cents",
        (F.col("cents").cast("double") / 100.0 / F.col("n")).alias("mean"),
    )
    grand = m.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.floor(F.col("mean") * 100.0).cast("long"))
        .cast("bigint")
        .alias("gm_q"),
    )
    dev = m.crossJoin(F.broadcast(grand)).select(
        "nk",
        "n",
        "cents",
        "mean",
        "k",
        (F.col("gm_q").cast("double") / 100.0 / F.col("k")).alias("gm"),
    )
    ssd = dev.groupBy("k").agg(
        F.max("gm").alias("gm"),
        (
            F.sum(
                F.floor(F.pow(F.col("mean") - F.col("gm"), 2.0) * 100.0).cast(
                    "long"
                )
            ).cast("double")
            / 100.0
        ).alias("ss"),
    )
    shrink = ssd.select(
        F.col("gm").alias("gm_pool"),
        F.greatest(
            F.lit(0.0),
            1.0
            - (F.col("k") - 3)
            * (F.col("ss") / (F.col("k") - 1))
            / F.col("ss"),
        ).alias("keep_frac"),
    )
    return (
        dev.drop("gm")
        .crossJoin(F.broadcast(shrink))
        .join(F.broadcast(nat), F.col("nk") == F.col("n_nationkey"))
        .select(
            "n_name",
            # raw_mean is the exact rational cents/n; ROUND of its double
            # form flips at .5 boundaries (sf0.001 gate, round 10) —
            # half-up in integer space: floor((2·cents + n)/(2n)), via a
            # double division both engines evaluate identically (quotient
            # ≥ 1/(2n) from any integer when inexact, floor semantics
            # also cover negative balances).
            (
                F.floor(
                    (2 * F.col("cents") + F.col("n")) / (2.0 * F.col("n"))
                )
                / 100.0
            ).alias("raw_mean"),
            F.round(
                F.col("gm_pool")
                + F.col("keep_frac") * (F.col("mean") - F.col("gm_pool")),
                2,
            ).alias("js_mean"),
            F.round("keep_frac", 6).alias("keep_frac"),
        )
        .orderBy("n_name")
    )


@register(
    "stats_wilson_ci",
    """
    WITH u AS (
        SELECT c.c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (WHERE o.o_orderstatus = 'F') AS BIGINT)
                   AS k
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1
    )
    SELECT segment, n, k,
           ROUND(CAST(k AS DOUBLE) / n, 6) AS rate,
           ROUND((CAST(k AS DOUBLE) / n + 1.9208 / n
                  - 1.96 * SQRT((CAST(k AS DOUBLE) / n)
                                * (1.0 - CAST(k AS DOUBLE) / n) / n
                                + 0.9604 / (n * CAST(n AS DOUBLE))))
                 / (1.0 + 3.8416 / n), 6) AS wilson_lower,
           ROUND((CAST(k AS DOUBLE) / n + 1.9208 / n
                  + 1.96 * SQRT((CAST(k AS DOUBLE) / n)
                                * (1.0 - CAST(k AS DOUBLE) / n) / n
                                + 0.9604 / (n * CAST(n AS DOUBLE))))
                 / (1.0 + 3.8416 / n), 6) AS wilson_upper
    FROM u ORDER BY segment
    """,
)
def stats_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% confidence intervals for the per-segment
    fulfilled-order rate — the proportion interval that behaves at the
    boundaries where the naive Wald interval fails (never escapes
    [0,1], correct coverage at small n or extreme p; the interval every
    dashboard SHOULD draw on rate metrics). Counts are exact integers;
    the interval is one fixed-form expression per 5-row group
    (z = 1.96 folded into literal constants 1.9208/0.9604/3.8416).
    One join + grouped conditional count."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    u = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count_if(F.col("o_orderstatus") == "F")
            .cast("bigint")
            .alias("k"),
        )
    )
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / nd
    half = 1.96 * F.sqrt(p * (1.0 - p) / nd + 0.9604 / (F.col("n") * nd))
    denom = 1.0 + 3.8416 / nd
    center = p + 1.9208 / nd
    return u.select(
        "segment",
        "n",
        "k",
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("wilson_lower"),
        F.round((center + half) / denom, 6).alias("wilson_upper"),
    ).orderBy("segment")


@register(
    "stats_capture_recapture",
    """
    WITH tagged AS (
        SELECT o_orderkey,
               ((o_orderkey * 2654435761) % 4294967296) % 5 = 0 AS s1,
               ((o_orderkey * 1000003 + 17) % 4294967296) % 5 = 0 AS s2
        FROM orders
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS true_n,
               CAST(COUNT(*) FILTER (WHERE s1) AS BIGINT) AS n1,
               CAST(COUNT(*) FILTER (WHERE s2) AS BIGINT) AS n2,
               CAST(COUNT(*) FILTER (WHERE s1 AND s2) AS BIGINT) AS m
        FROM tagged
    )
    SELECT true_n, n1, n2, m,
           ROUND(CAST(n1 AS DOUBLE) * n2 / m, 1) AS lincoln_petersen,
           ROUND((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1, 1)
               AS chapman,
           ROUND(((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1)
                 / true_n - 1.0, 6) + 0.0 AS chapman_rel_error
    FROM s
    """,
)
def stats_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimation: two independent
    deterministic 20% hash samples of orders play the two "captures";
    the overlap m gives Lincoln–Petersen N̂ = n₁n₂/m and the
    bias-corrected Chapman estimator — the technique for estimating a
    population you can only sample (dedup-cluster counts, bot
    populations, log-loss events), and because the fixture knows the
    truth the realized relative error is reported alongside. Both
    samples are independent multiplicative hashes (no RNG); all counts
    are one conditional-aggregation pass. The estimate-vs-truth gap IS
    the operator's product — a calibration check for the method at
    this sample rate."""
    orders = load_table(spark, sf_dir, "orders")
    s1 = ((F.col("o_orderkey") * F.lit(2654435761)) % F.lit(4294967296)) % 5 == 0
    s2 = (
        (F.col("o_orderkey") * F.lit(1000003) + 17) % F.lit(4294967296)
    ) % 5 == 0
    s = orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n"),
        F.count_if(s1).cast("bigint").alias("n1"),
        F.count_if(s2).cast("bigint").alias("n2"),
        F.count_if(s1 & s2).cast("bigint").alias("m"),
    )
    lp = F.col("n1").cast("double") * F.col("n2") / F.col("m")
    chap = (
        (F.col("n1") + 1).cast("double") * (F.col("n2") + 1) / (F.col("m") + 1)
        - 1
    )
    return s.select(
        "true_n",
        "n1",
        "n2",
        "m",
        F.round(lp, 1).alias("lincoln_petersen"),
        F.round(chap, 1).alias("chapman"),
        (F.round(chap / F.col("true_n") - 1.0, 6) + F.lit(0.0)).alias(
            "chapman_rel_error"
        ),
    )


@register(
    "stats_geometric_median",
    """
    WITH pts AS (
        SELECT s_suppkey,
               CAST(s_suppkey * 7919 % 18000 AS BIGINT) AS y,
               CAST(s_suppkey * 104729 % 36000 AS BIGINT) AS x
        FROM supplier
    ), c0 AS (
        SELECT CAST(SUM(x) AS DOUBLE) / COUNT(*) AS cx,
               CAST(SUM(y) AS DOUBLE) / COUNT(*) AS cy,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pts
    ), w1 AS (
        SELECT c0.n, c0.cx AS cx0, c0.cy AS cy0,
               CAST(SUM(CAST(FLOOR(x / SQRT(POW(x - c0.cx, 2.0)
                          + POW(y - c0.cy, 2.0) + 1.0) * 1e6) AS BIGINT))
                    AS BIGINT) AS sxw_q,
               CAST(SUM(CAST(FLOOR(y / SQRT(POW(x - c0.cx, 2.0)
                          + POW(y - c0.cy, 2.0) + 1.0) * 1e6) AS BIGINT))
                    AS BIGINT) AS syw_q,
               CAST(SUM(CAST(FLOOR(1.0 / SQRT(POW(x - c0.cx, 2.0)
                          + POW(y - c0.cy, 2.0) + 1.0) * 1e12) AS BIGINT))
                    AS BIGINT) AS sw_q
        FROM pts CROSS JOIN c0
        GROUP BY c0.n, c0.cx, c0.cy
    ), c1 AS (
        SELECT n, cx0, cy0,
               (sxw_q / 1e6) / (sw_q / 1e12) AS cx,
               (syw_q / 1e6) / (sw_q / 1e12) AS cy
        FROM w1
    ), w2 AS (
        SELECT c1.n, c1.cx0, c1.cy0, c1.cx AS cx1, c1.cy AS cy1,
               CAST(SUM(CAST(FLOOR(x / SQRT(POW(x - c1.cx, 2.0)
                          + POW(y - c1.cy, 2.0) + 1.0) * 1e6) AS BIGINT))
                    AS BIGINT) AS sxw_q,
               CAST(SUM(CAST(FLOOR(y / SQRT(POW(x - c1.cx, 2.0)
                          + POW(y - c1.cy, 2.0) + 1.0) * 1e6) AS BIGINT))
                    AS BIGINT) AS syw_q,
               CAST(SUM(CAST(FLOOR(1.0 / SQRT(POW(x - c1.cx, 2.0)
                          + POW(y - c1.cy, 2.0) + 1.0) * 1e12) AS BIGINT))
                    AS BIGINT) AS sw_q
        FROM pts CROSS JOIN c1
        GROUP BY c1.n, c1.cx0, c1.cy0, c1.cx, c1.cy
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           ROUND(cx0, 2) AS centroid_x, ROUND(cy0, 2) AS centroid_y,
           ROUND((sxw_q / 1e6) / (sw_q / 1e12), 2) AS gmedian_x,
           ROUND((syw_q / 1e6) / (sw_q / 1e12), 2) AS gmedian_y,
           ROUND(SQRT(POW((sxw_q / 1e6) / (sw_q / 1e12) - cx0, 2.0)
                      + POW((syw_q / 1e6) / (sw_q / 1e12) - cy0, 2.0)), 2)
               AS shift_from_centroid
    FROM w2
    """,
)
def stats_geometric_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric median (the L1 multivariate center — the
    facility-location point minimizing total Euclidean distance, robust
    where the centroid is not) of the synthetic supplier geography via
    TWO UNROLLED Weiszfeld iterations from the centroid: each step is
    one distance-weighted aggregation with floor-quantized weight terms
    (ε = 1 smoothing keeps the weights finite), so the whole procedure
    is a fixed three-pass declarative plan — iterative in math,
    non-iterative in execution, bit-stable anywhere. Reports the
    centroid, the 2-step estimate, and how far the robust center moved
    — the outlier-sensitivity read. The bounded-unroll pattern for any
    fixed-point refinement at scale."""
    sup = load_table(spark, sf_dir, "supplier")
    pts = sup.select(
        (F.col("s_suppkey") * 7919 % 18000).cast("bigint").alias("y"),
        (F.col("s_suppkey") * 104729 % 36000).cast("bigint").alias("x"),
    )
    c0 = pts.agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("cx"),
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("cy"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )

    def step(frame, cx_col, cy_col, keep):
        d = F.sqrt(
            F.pow(F.col("x") - F.col(cx_col), 2.0)
            + F.pow(F.col("y") - F.col(cy_col), 2.0)
            + 1.0
        )
        return (
            pts.crossJoin(F.broadcast(frame))
            .groupBy(*keep)
            .agg(
                F.sum(F.floor(F.col("x") / d * 1e6).cast("long"))
                .cast("bigint")
                .alias("sxw_q"),
                F.sum(F.floor(F.col("y") / d * 1e6).cast("long"))
                .cast("bigint")
                .alias("syw_q"),
                F.sum(F.floor(1.0 / d * 1e12).cast("long"))
                .cast("bigint")
                .alias("sw_q"),
            )
        )

    w1 = step(c0, "cx", "cy", ["n", "cx", "cy"]).withColumnsRenamed(
        {"cx": "cx0", "cy": "cy0"}
    )
    c1 = w1.select(
        "n",
        "cx0",
        "cy0",
        ((F.col("sxw_q") / 1e6) / (F.col("sw_q") / 1e12)).alias("cx"),
        ((F.col("syw_q") / 1e6) / (F.col("sw_q") / 1e12)).alias("cy"),
    )
    w2 = step(c1, "cx", "cy", ["n", "cx0", "cy0", "cx", "cy"])
    gx = (F.col("sxw_q") / 1e6) / (F.col("sw_q") / 1e12)
    gy = (F.col("syw_q") / 1e6) / (F.col("sw_q") / 1e12)
    return w2.select(
        F.col("n").alias("n_points"),
        F.round("cx0", 2).alias("centroid_x"),
        F.round("cy0", 2).alias("centroid_y"),
        F.round(gx, 2).alias("gmedian_x"),
        F.round(gy, 2).alias("gmedian_y"),
        F.round(
            F.sqrt(
                F.pow(gx - F.col("cx0"), 2.0) + F.pow(gy - F.col("cy0"), 2.0)
            ),
            2,
        ).alias("shift_from_centroid"),
    )


@register(
    "stats_chi_residuals",
    """
    WITH c AS (
        SELECT o_orderpriority AS pr, o_orderstatus AS st,
               CAST(COUNT(*) AS BIGINT) AS obs
        FROM orders GROUP BY 1, 2
    ), rm AS (SELECT pr, SUM(obs) AS rn FROM c GROUP BY 1),
    cm AS (SELECT st, SUM(obs) AS cn FROM c GROUP BY 1),
    tot AS (SELECT SUM(obs) AS t FROM c),
    grid AS (
        SELECT rm.pr, cm.st, rm.rn, cm.cn, tot.t, COALESCE(c.obs, 0) AS obs
        FROM rm CROSS JOIN cm CROSS JOIN tot
        LEFT JOIN c ON c.pr = rm.pr AND c.st = cm.st
    )
    SELECT pr AS priority, st AS status,
           CAST(obs AS BIGINT) AS observed,
           ROUND(CAST(rn AS DOUBLE) * cn / t, 2) AS expected,
           ROUND((obs - CAST(rn AS DOUBLE) * cn / t)
                 / SQRT(CAST(rn AS DOUBLE) * cn / t
                        * (1.0 - CAST(rn AS DOUBLE) / t)
                        * (1.0 - CAST(cn AS DOUBLE) / t)), 4)
               AS adj_residual,
           CAST(ABS((obs - CAST(rn AS DOUBLE) * cn / t)
                 / SQRT(CAST(rn AS DOUBLE) * cn / t
                        * (1.0 - CAST(rn AS DOUBLE) / t)
                        * (1.0 - CAST(cn AS DOUBLE) / t))) > 1.96 AS INT)
               AS significant_5pct
    FROM grid ORDER BY priority, status
    """,
)
def stats_chi_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted standardized residuals for every cell of the
    priority × status contingency table — the drill-down the omnibus
    chi-square (stats_cramers_v) cannot give: WHICH cells are over- or
    under-represented, each residual ~N(0,1) under independence so
    |r| > 1.96 flags the deviating cells directly. The dense grid keeps
    zero-observed cells; marginals and counts are exact integers and
    each residual is one fixed-form expression per cell. One grouped
    count + 15-cell algebra."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy(
        F.col("o_orderpriority").alias("pr"),
        F.col("o_orderstatus").alias("st"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    rm = c.groupBy("pr").agg(F.sum("obs").alias("rn"))
    cm = c.groupBy("st").agg(F.sum("obs").alias("cn"))
    tot = c.agg(F.sum("obs").alias("t"))
    grid = (
        rm.crossJoin(F.broadcast(cm))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(c), ["pr", "st"], "left")
        .select(
            "pr",
            "st",
            "rn",
            "cn",
            "t",
            F.coalesce(F.col("obs"), F.lit(0)).cast("bigint").alias("obs"),
        )
    )
    exp = F.col("rn").cast("double") * F.col("cn") / F.col("t")
    resid = (F.col("obs") - exp) / F.sqrt(
        exp
        * (1.0 - F.col("rn").cast("double") / F.col("t"))
        * (1.0 - F.col("cn").cast("double") / F.col("t"))
    )
    return grid.select(
        F.col("pr").alias("priority"),
        F.col("st").alias("status"),
        F.col("obs").alias("observed"),
        F.round(exp, 2).alias("expected"),
        F.round(resid, 4).alias("adj_residual"),
        (F.abs(resid) > 1.96).cast("int").alias("significant_5pct"),
    ).orderBy("priority", "status")


def _sign_test_sql() -> str:
    from hive_processor_spark.functions.mathtab import LNFACT_Q, lnfact_frame

    arr = "[" + ", ".join(str(v) for v in LNFACT_Q) + "]"
    return f"""
    WITH lf AS (SELECT {arr} AS t),
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ), diffs AS (
        SELECT cents - LAG(cents) OVER (ORDER BY day) AS d FROM daily
    ), counts AS (
        SELECT CAST(COUNT(*) FILTER (WHERE d > 0) AS BIGINT) AS ups,
               CAST(COUNT(*) FILTER (WHERE d < 0) AS BIGINT) AS downs
        FROM diffs WHERE d IS NOT NULL AND d <> 0
    ), base AS (
        SELECT ups, downs, ups + downs AS n,
               LEAST(ups, downs) AS k
        FROM counts
    ), tail AS (
        SELECT b.n, b.ups, b.downs,
               CAST(SUM(CAST(FLOOR(EXP(
                   (lf.t[b.n + 1] - lf.t[i.i + 1] - lf.t[b.n - i.i + 1])
                   / 1e9 - b.n * LN(2.0)) * 1e12) AS BIGINT)) AS BIGINT)
                   AS p_q
        FROM base b CROSS JOIN lf
        CROSS JOIN (SELECT UNNEST(RANGE(0, 5001)) AS i) i
        WHERE i.i <= b.k
        GROUP BY b.n, b.ups, b.downs
    )
    SELECT CAST(n AS BIGINT) AS n_moves,
           CAST(ups AS BIGINT) AS up_days,
           CAST(downs AS BIGINT) AS down_days,
           ROUND(LEAST(2.0 * p_q / 1e12, 1.0), 6) AS p_two_sided,
           CAST(CASE WHEN 2.0 * p_q / 1e12 < 0.05 THEN 1 ELSE 0 END AS INT)
               AS trend_5pct
    FROM tail
    """


@register("stats_sign_test", _sign_test_sql())
def stats_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sign test on daily revenue direction: are up-days and
    down-days balanced, or is there drift? The two-sided p-value is the
    EXACT binomial tail 2·Σᵢ≤k C(n,i)/2ⁿ — every binomial coefficient
    resolved from the shared integer log-factorial table
    (functions/mathtab.py) with n·ln 2 subtracted in log space, each
    term floor-quantized at 1e-12 and integer-summed. The
    distribution-free trend test that needs no variance estimate and
    no normality — only signs. One grouped sum + lag + a bounded
    tail explode (≤ min(ups, downs) terms) on a single row."""
    from hive_processor_spark.functions.mathtab import LNFACT_Q, lnfact_frame

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("day")
    diffs = daily.select(
        (F.col("cents") - F.lag("cents").over(w)).alias("d")
    ).filter(F.col("d").isNotNull() & (F.col("d") != 0))
    counts = diffs.agg(
        F.count_if(F.col("d") > 0).cast("bigint").alias("ups"),
        F.count_if(F.col("d") < 0).cast("bigint").alias("downs"),
    )
    base = counts.select(
        "ups",
        "downs",
        (F.col("ups") + F.col("downs")).alias("n"),
        F.least(F.col("ups"), F.col("downs")).alias("k"),
    )
    js = base.select(
        "*", F.explode(F.sequence(F.lit(0), F.col("k"))).alias("i")
    ).crossJoin(F.broadcast(lnfact_frame(spark)))

    def lfq(idx):
        return F.element_at(F.col("lft"), (idx + 1).cast("int"))

    import math as _math

    ln_term = (
        lfq(F.col("n")) - lfq(F.col("i")) - lfq(F.col("n") - F.col("i"))
    ).cast("double") / 1e9 - F.col("n") * _math.log(2.0)
    tail = js.groupBy("n", "ups", "downs").agg(
        F.sum(F.floor(F.exp(ln_term) * 1e12).cast("long"))
        .cast("bigint")
        .alias("p_q")
    )
    p2 = 2.0 * F.col("p_q") / 1e12
    return tail.select(
        F.col("n").cast("bigint").alias("n_moves"),
        F.col("ups").cast("bigint").alias("up_days"),
        F.col("downs").cast("bigint").alias("down_days"),
        F.round(F.least(p2, F.lit(1.0)), 6).alias("p_two_sided"),
        F.when(p2 < 0.05, 1).otherwise(0).cast("int").alias("trend_5pct"),
    )


_HQ_BINS = 128
_HQ_QS = ((50, "p50"), (90, "p90"), (99, "p99"))


def _histogram_quantile_sql() -> str:
    qsel = ", ".join(f"({q})" for q, _ in _HQ_QS)
    return f"""
    WITH v AS (
        SELECT CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS c
        FROM lineitem
    ), b AS (
        SELECT MIN(c) AS lo, MAX(c) AS hi,
               MAX(c) - MIN(c) + 1 AS d,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM v
    ), binned AS (
        SELECT ((v.c - b.lo) * {_HQ_BINS}) // b.d AS bin,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM v CROSS JOIN b GROUP BY 1
    ), cum AS (
        SELECT bin, cnt,
               SUM(cnt) OVER (ORDER BY bin) AS cum,
               SUM(cnt) OVER (ORDER BY bin) - cnt AS cum_prev
        FROM binned
    ), qs AS (
        SELECT q, (b.n * q + 99) // 100 AS target, b.lo, b.d, b.n
        FROM (VALUES {qsel}) t(q) CROSS JOIN b
    ), pick AS (
        SELECT qs.q, qs.target, c.bin, c.cnt, c.cum_prev,
               qs.lo + (c.bin * qs.d + {_HQ_BINS} - 1) // {_HQ_BINS}
                   AS edge_lo,
               qs.lo + ((c.bin + 1) * qs.d + {_HQ_BINS} - 1) // {_HQ_BINS} - 1
                   AS edge_hi
        FROM qs JOIN cum c ON c.cum >= qs.target AND c.cum_prev < qs.target
    ), exact AS (
        SELECT qs.q AS eq, MIN(vc.c) AS exact_c
        FROM qs JOIN (
            SELECT c, SUM(cnt) OVER (ORDER BY c) AS vcum FROM (
                SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY c
            )
        ) vc ON vc.vcum >= qs.target
        GROUP BY 1
    )
    SELECT CAST(q AS INT) AS q_pct,
           CAST(target AS BIGINT) AS target_rank,
           CAST(bin AS INT) AS bin,
           ROUND((edge_lo + CAST(edge_hi - edge_lo AS DOUBLE)
                  * (target - cum_prev) / cnt) / 100.0, 4) AS est_value,
           ROUND(exact_c / 100.0, 4) AS exact_value,
           ROUND(ABS((edge_lo + CAST(edge_hi - edge_lo AS DOUBLE)
                      * (target - cum_prev) / cnt) - exact_c) / 100.0, 4)
               AS abs_err
    FROM pick JOIN exact ON exact.eq = pick.q
    ORDER BY q_pct
    """


@register("agg_histogram_quantile", _histogram_quantile_sql())
def agg_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram quantiles, audited against the exact order
    statistic: a 128-bin equi-width integer-cent histogram estimates
    p50/p90/p99 by linear interpolation inside the covering bin, and the
    exact value (distinct-value cumulative count — shuffle ∝ distinct
    values, the ``stats_mad_outliers`` discipline) prices the estimate's
    absolute error. The histogram path is THE quantile at 100 TB: one
    map-side-combinable groupBy over 128 cells, mergeable across
    partitions/days by vector addition, no sort anywhere — and this
    operator carries its own error audit so the swap from exact is a
    measured decision, not a hope. All bin math is integer (exact in both
    engines); only the final interpolation divides in double."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.floor(F.col("l_extendedprice") * 100.0).cast("bigint").alias("c")
    )
    b = v.agg(
        F.min("c").alias("lo"),
        F.max("c").alias("hi"),
        (F.max("c") - F.min("c") + 1).alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    binned = (
        v.crossJoin(F.broadcast(b))
        .groupBy(
            F.expr(f"(c - lo) * {_HQ_BINS} DIV d").alias("bin")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    wb = Window.orderBy("bin")  # 128 rows — bounded by construction
    cum = binned.select(
        "bin",
        "cnt",
        F.sum("cnt").over(wb).alias("cum"),
        (F.sum("cnt").over(wb) - F.col("cnt")).alias("cum_prev"),
    )
    qs = (
        spark.range(1)
        .select(
            F.explode(F.array(*[F.lit(q) for q, _ in _HQ_QS])).alias("q")
        )
        .crossJoin(F.broadcast(b))
        .select("q", F.expr("(n * q + 99) DIV 100").alias("target"), "lo", "d", "n")
    )
    pick = qs.join(
        cum,
        (F.col("cum") >= F.col("target")) & (F.col("cum_prev") < F.col("target")),
    ).select(
        "q",
        "target",
        "bin",
        "cnt",
        "cum_prev",
        F.expr(f"lo + (bin * d + {_HQ_BINS} - 1) DIV {_HQ_BINS}").alias("edge_lo"),
        F.expr(
            f"lo + ((bin + 1) * d + {_HQ_BINS} - 1) DIV {_HQ_BINS} - 1"
        ).alias("edge_hi"),
    )
    vals = v.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("vcnt"))
    # distinct-value exact lane: bucketed two-level cumulative (round-6
    # window-audit fix — 581k distinct cents at sf0.1, growing until the
    # price domain saturates; never one partition)
    vcum = with_global_order(vals, "c", cumsums={"vcum": "vcnt"}).select(
        "c", "vcum"
    )
    exact = (
        qs.select("q", "target")
        .join(vcum, F.col("vcum") >= F.col("target"))
        .groupBy(F.col("q").alias("eq"))
        .agg(F.min("c").alias("exact_c"))
    )
    est = F.col("edge_lo") + (F.col("edge_hi") - F.col("edge_lo")).cast(
        "double"
    ) * (F.col("target") - F.col("cum_prev")) / F.col("cnt")
    return (
        pick.join(exact, F.col("eq") == F.col("q"))
        .select(
            F.col("q").cast("int").alias("q_pct"),
            F.col("target").cast("bigint").alias("target_rank"),
            F.col("bin").cast("int").alias("bin"),
            F.round(est / 100.0, 4).alias("est_value"),
            F.round(F.col("exact_c") / 100.0, 4).alias("exact_value"),
            F.round(F.abs(est - F.col("exact_c")) / 100.0, 4).alias("abs_err"),
        )
        .orderBy("q_pct")
    )


_ECDF_PROBES = (50_000, 100_000, 150_000, 200_000, 300_000, 450_000)


@register(
    "stats_ecdf_points",
    f"""
    WITH p AS (SELECT UNNEST(ARRAY{list(_ECDF_PROBES)}) AS probe),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM orders)
    SELECT CAST(p.probe AS BIGINT) AS probe,
           CAST(COUNT(*) FILTER (WHERE o.o_totalprice <= p.probe)
                AS BIGINT) AS n_le,
           ROUND(CAST(COUNT(*) FILTER (WHERE o.o_totalprice <= p.probe)
                      AS DOUBLE) / ANY_VALUE(n.total), 6) AS ecdf
    FROM p CROSS JOIN n CROSS JOIN orders o
    GROUP BY p.probe
    ORDER BY probe
    """,
)
def stats_ecdf_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical CDF evaluated at fixed probe points — the mergeable
    distribution summary a 100 TB profile job actually materializes
    (exact counts, one conditional-aggregation pass, no sort, mergeable
    by addition across shards; contrast the full ECDF, which needs a
    global sort). One scan of orders produces all probes at once via
    conditional counts against a broadcast probe list."""
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    probes = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(p) for p in _ECDF_PROBES])
        ).alias("probe")
    )
    total = orders.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    return (
        probes.crossJoin(orders)
        .crossJoin(F.broadcast(total))
        .groupBy("probe")
        .agg(
            F.sum(
                F.when(F.col("o_totalprice") <= F.col("probe"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_le"),
            F.first("total").alias("total"),
        )
        .select(
            F.col("probe").cast("bigint").alias("probe"),
            "n_le",
            F.round(
                F.col("n_le").cast("double") / F.col("total"), 6
            ).alias("ecdf"),
        )
        .orderBy("probe")
    )


def _fisher_exact_sql() -> str:
    from hive_processor_spark.functions.mathtab import LNFACT_Q, lnfact_frame

    arr = "[" + ", ".join(str(v) for v in LNFACT_Q) + "]"
    return f"""
    WITH lf AS (SELECT {arr} AS t),
    sub AS (
        SELECT (event_type IN ('click', 'purchase')) AS fa,
               (value >= 200.0) AS fb
        FROM events WHERE event_id % 37 = 0
    ), ct AS (
        SELECT CAST(COUNT(*) FILTER (WHERE fa AND fb) AS BIGINT) AS a,
               CAST(COUNT(*) FILTER (WHERE fa AND NOT fb) AS BIGINT) AS b,
               CAST(COUNT(*) FILTER (WHERE NOT fa AND fb) AS BIGINT) AS c,
               CAST(COUNT(*) FILTER (WHERE NOT fa AND NOT fb) AS BIGINT) AS d
        FROM sub
    ), base AS (
        SELECT a, b, c, d, a + b + c + d AS n,
               a + b AS r1, a + c AS c1,
               GREATEST(0, (a + c) - (c + d)) AS kmin,
               LEAST(a + b, a + c) AS kmax
        FROM ct
    ), pmf AS (
        SELECT base.*, i.i AS k,
               CAST(FLOOR(EXP((
                   lf.t[r1 + 1] - lf.t[i.i + 1] - lf.t[r1 - i.i + 1]
                   + lf.t[n - r1 + 1] - lf.t[c1 - i.i + 1]
                   - lf.t[n - r1 - c1 + i.i + 1]
                   - (lf.t[n + 1] - lf.t[c1 + 1] - lf.t[n - c1 + 1])
               ) / 1e9) * 1e12) AS BIGINT) AS pq,
               CAST(FLOOR(EXP((
                   lf.t[r1 + 1] - lf.t[a + 1] - lf.t[r1 - a + 1]
                   + lf.t[n - r1 + 1] - lf.t[c1 - a + 1]
                   - lf.t[n - r1 - c1 + a + 1]
                   - (lf.t[n + 1] - lf.t[c1 + 1] - lf.t[n - c1 + 1])
               ) / 1e9) * 1e12) AS BIGINT) AS pq_obs
        FROM base CROSS JOIN lf
        CROSS JOIN (SELECT UNNEST(RANGE(0, 5001)) AS i) i
        WHERE i.i BETWEEN kmin AND kmax
    )
    SELECT ANY_VALUE(a) AS a, ANY_VALUE(b) AS b,
           ANY_VALUE(c) AS c, ANY_VALUE(d) AS d,
           ROUND(LEAST(CAST(SUM(pq) FILTER (WHERE pq <= pq_obs) AS DOUBLE)
                       / 1e12, 1.0), 6) AS p_two_sided,
           CAST(CASE WHEN SUM(pq) FILTER (WHERE pq <= pq_obs) / 1e12 < 0.05
                     THEN 1 ELSE 0 END AS INT) AS assoc_5pct
    FROM pmf
    """


@register("stats_fisher_exact", _fisher_exact_sql())
def stats_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact test on a 2×2 contingency (engaged-event-type ×
    high-value over a deterministic 1-in-37 event subsample): two-sided
    p = Σ of hypergeometric pmfs no more likely than the observed table.
    Exactness discipline: pmfs go through the shared LNFACT_Q quantized
    log-factorial table (the ``stats_sign_test`` pattern) and are floor-
    quantized at 1e-12 BEFORE the ≤-comparison and the sum, so both
    engines pick the identical tail set — the classically float-fragile
    'sum the smaller pmfs' rule becomes integer-deterministic. One scan
    for the counts; the support explode is ≤ min(r1,c1) rows."""
    ev = load_table(spark, sf_dir, "events")
    sub = ev.filter(F.col("event_id") % 37 == 0).select(
        F.col("event_type").isin("click", "purchase").alias("fa"),
        (F.col("value") >= 200.0).alias("fb"),
    )
    ct = sub.agg(
        F.sum(F.when(F.col("fa") & F.col("fb"), 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("fa") & ~F.col("fb"), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when(~F.col("fa") & F.col("fb"), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when(~F.col("fa") & ~F.col("fb"), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
    )
    base = ct.select(
        "a",
        "b",
        "c",
        "d",
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("n"),
        (F.col("a") + F.col("b")).alias("r1"),
        (F.col("a") + F.col("c")).alias("c1"),
        F.greatest(
            F.lit(0), (F.col("a") + F.col("c")) - (F.col("c") + F.col("d"))
        ).alias("kmin"),
        F.least(F.col("a") + F.col("b"), F.col("a") + F.col("c")).alias("kmax"),
    )
    from hive_processor_spark.functions.mathtab import LNFACT_Q, lnfact_frame

    rows = base.select(
        "*", F.explode(F.sequence(F.col("kmin"), F.col("kmax"))).alias("k")
    ).crossJoin(F.broadcast(lnfact_frame(spark)))

    def lfq(idx):
        return F.element_at(F.col("lft"), (idx + 1).cast("int"))

    def ln_pmf(k):
        return (
            lfq(F.col("r1"))
            - lfq(k)
            - lfq(F.col("r1") - k)
            + lfq(F.col("n") - F.col("r1"))
            - lfq(F.col("c1") - k)
            - lfq(F.col("n") - F.col("r1") - F.col("c1") + k)
            - (lfq(F.col("n")) - lfq(F.col("c1")) - lfq(F.col("n") - F.col("c1")))
        ).cast("double") / 1e9

    pmf = rows.select(
        "a",
        "b",
        "c",
        "d",
        F.floor(F.exp(ln_pmf(F.col("k"))) * 1e12).cast("long").alias("pq"),
        F.floor(F.exp(ln_pmf(F.col("a"))) * 1e12).cast("long").alias("pq_obs"),
    )
    tail_sum = F.sum(F.when(F.col("pq") <= F.col("pq_obs"), F.col("pq")).otherwise(0))
    return pmf.groupBy().agg(
        F.first("a").alias("a"),
        F.first("b").alias("b"),
        F.first("c").alias("c"),
        F.first("d").alias("d"),
        F.round(F.least(tail_sum.cast("double") / 1e12, F.lit(1.0)), 6).alias(
            "p_two_sided"
        ),
        F.when(tail_sum / 1e12 < 0.05, 1).otherwise(0).cast("int").alias(
            "assoc_5pct"
        ),
    )


@register(
    "stats_welch_t",
    """
    WITH g AS (
        SELECT l_returnflag AS grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(FLOOR(l_extendedprice * 100.0) AS DECIMAL(38,0))) AS s,
               SUM(CAST(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT)
                        * CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT)
                        AS DECIMAL(38,0))) AS ssq
        FROM lineitem WHERE l_returnflag IN ('A', 'R')
        GROUP BY 1
    ), w AS (
        SELECT MAX(CASE WHEN grp = 'A' THEN n END) AS n1,
               MAX(CASE WHEN grp = 'R' THEN n END) AS n2,
               MAX(CASE WHEN grp = 'A' THEN CAST(s AS DOUBLE) END) AS s1,
               MAX(CASE WHEN grp = 'R' THEN CAST(s AS DOUBLE) END) AS s2,
               MAX(CASE WHEN grp = 'A' THEN CAST(ssq AS DOUBLE) END) AS q1,
               MAX(CASE WHEN grp = 'R' THEN CAST(ssq AS DOUBLE) END) AS q2
        FROM g
    ), v AS (
        SELECT n1, n2, s1 / n1 AS m1, s2 / n2 AS m2,
               (q1 - s1 * s1 / n1) / (n1 - 1) AS v1,
               (q2 - s2 * s2 / n2) / (n2 - 1) AS v2
        FROM w
    )
    SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_r,
           ROUND(m1 / 100.0, 4) AS mean_a,
           ROUND(m2 / 100.0, 4) AS mean_r,
           ROUND((m1 - m2) / SQRT(v1 / n1 + v2 / n2), 6) AS t_stat,
           ROUND(POW(v1 / n1 + v2 / n2, 2)
                 / (POW(v1 / n1, 2) / (n1 - 1) + POW(v2 / n2, 2) / (n2 - 1)),
                 2) AS welch_df
    FROM v
    """,
)
def stats_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t statistic between returned ('R') and
    accepted ('A') lineitems on extended price, with the Welch–
    Satterthwaite effective df. Exactness discipline: per-group count /
    sum / sum-of-squares in integer cents (products in bigint, sums in
    DECIMAL(38,0) — order-independent at any parallelism), then ONE
    double conversion feeds the closed-form statistic identically in
    both engines. Mergeable sufficient statistics: at 100 TB this is a
    single map-side-combinable aggregation, and per-shard (n, s, ssq)
    triples merge by addition — the same sufficient-stats shape as
    ``ml_linreg``."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
    )
    cents = F.floor(F.col("l_extendedprice") * 100.0).cast("bigint")
    g = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cents.cast("decimal(38,0)")).alias("s"),
        F.sum((cents * cents).cast("decimal(38,0)")).alias("ssq"),
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == "A", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == "R", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("grp") == "A", F.col("s").cast("double"))).alias("s1"),
        F.max(F.when(F.col("grp") == "R", F.col("s").cast("double"))).alias("s2"),
        F.max(F.when(F.col("grp") == "A", F.col("ssq").cast("double"))).alias("q1"),
        F.max(F.when(F.col("grp") == "R", F.col("ssq").cast("double"))).alias("q2"),
    )
    v = w.select(
        "n1",
        "n2",
        (F.col("s1") / F.col("n1")).alias("m1"),
        (F.col("s2") / F.col("n2")).alias("m2"),
        (
            (F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1"))
            / (F.col("n1") - 1)
        ).alias("v1"),
        (
            (F.col("q2") - F.col("s2") * F.col("s2") / F.col("n2"))
            / (F.col("n2") - 1)
        ).alias("v2"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    return v.select(
        F.col("n1").cast("bigint").alias("n_a"),
        F.col("n2").cast("bigint").alias("n_r"),
        F.round(F.col("m1") / 100.0, 4).alias("mean_a"),
        F.round(F.col("m2") / 100.0, 4).alias("mean_r"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
                + F.pow(F.col("v2") / F.col("n2"), 2) / (F.col("n2") - 1)
            ),
            2,
        ).alias("welch_df"),
    )


@register(
    "stats_kruskal_wallis",
    """
    WITH vg AS (
        SELECT value, event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY value, event_type
    ), v AS (
        SELECT value, CAST(SUM(n) AS BIGINT) AS t FROM vg GROUP BY value
    ), rk AS (
        SELECT value, t,
               COALESCE(SUM(t) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below
        FROM v
    ), rj AS (
        SELECT vg.event_type,
               CAST(SUM(vg.n) AS BIGINT) AS n_j,
               SUM(vg.n * (rk.below + (rk.t + 1) / 2.0)) AS r_j
        FROM vg JOIN rk ON rk.value = vg.value
        GROUP BY vg.event_type
    ), red AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               SUM(CAST(FLOOR(r_j * r_j / n_j) AS DECIMAL(28,0))) AS s_q
        FROM rj
    ), gl AS (
        SELECT CAST(SUM(t) AS BIGINT) AS n,
               CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
        FROM v
    ), h AS (
        SELECT k, n,
               12.0 / (n * (n + 1.0)) * CAST(s_q AS DOUBLE) - 3.0 * (n + 1)
                   AS h_raw,
               1.0 - CAST(tie3 AS DOUBLE)
                   / (CAST(n AS DOUBLE) * n * n - n) AS c_tie
        FROM red CROSS JOIN gl
    )
    SELECT rj.event_type,
           rj.n_j AS n,
           ROUND(rj.r_j / rj.n_j, 4) AS mean_rank,
           CAST(h.k - 1 AS BIGINT) AS df,
           ROUND(h.h_raw, 6) AS h_stat,
           ROUND(h.h_raw / h.c_tie, 6) AS h_tie_adj
    FROM rj CROSS JOIN h
    ORDER BY rj.event_type
    """,
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis rank test: does the distribution of ``value``
    differ across the five event types? The k-sample extension of the
    registered Mann–Whitney U, same grouped-by-value rank algebra:
    avg rank(v) = (#smaller) + (ties+1)/2 — half-integers, exact in
    doubles — so the per-group rank sums R_j are exact; the k-row
    reduction Σ R_j²/n_j is floor-quantized into a DECIMAL accumulator
    (the ANOVA lesson: no cross-row double addition), and the tie
    correction 1 − Σ(t³−t)/(n³−n) uses exact integer tie counts.

    Scale shape: one shuffle ∝ distinct values, a prefix-sum window over
    the reduced frame (single partition, O(distinct values) — same
    documented constraint as ``stats_mann_whitney``/``stats_ks_test``),
    then a 5-row reduction. Reference has no native stats plane (its SQL
    delegate would run this in Postgres, ``src/processor.ts:41-51``)."""
    ev = load_table(spark, sf_dir, "events")
    vg = ev.groupBy("value", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    v = vg.groupBy("value").agg(F.sum("n").cast("bigint").alias("t"))
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    rk = v.select(
        "value",
        "t",
        F.coalesce(F.sum("t").over(w), F.lit(0)).alias("below"),
    )
    rj = (
        vg.join(rk, "value")
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n_j"),
            F.sum(
                F.col("n") * (F.col("below") + (F.col("t") + 1) / F.lit(2.0))
            ).alias("r_j"),
        )
    )
    red = rj.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(
            F.floor(F.col("r_j") * F.col("r_j") / F.col("n_j")).cast(
                "decimal(28,0)"
            )
        ).alias("s_q"),
    )
    gl = v.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie3"),
    )
    h = red.crossJoin(F.broadcast(gl)).select(
        "k",
        "n",
        (
            F.lit(12.0) / (F.col("n") * (F.col("n") + F.lit(1.0)))
            * F.col("s_q").cast("double")
            - F.lit(3.0) * (F.col("n") + 1)
        ).alias("h_raw"),
        (
            F.lit(1.0)
            - F.col("tie3").cast("double")
            / (
                F.col("n").cast("double") * F.col("n") * F.col("n")
                - F.col("n")
            )
        ).alias("c_tie"),
    )
    return (
        rj.crossJoin(F.broadcast(h))
        .select(
            "event_type",
            F.col("n_j").alias("n"),
            F.round(F.col("r_j") / F.col("n_j"), 4).alias("mean_rank"),
            (F.col("k") - 1).cast("bigint").alias("df"),
            F.round(F.col("h_raw"), 6).alias("h_stat"),
            F.round(F.col("h_raw") / F.col("c_tie"), 6).alias("h_tie_adj"),
        )
        .orderBy("event_type")
    )


@register(
    "stats_friedman",
    """
    WITH cell AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS blk,
               o_orderpriority AS trt,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS cell_v
        FROM orders GROUP BY 1, 2
    ), full_blk AS (
        SELECT blk FROM cell GROUP BY blk HAVING COUNT(*) = 5
    ), rnk AS (
        SELECT c.blk, c.trt,
               RANK() OVER (PARTITION BY c.blk ORDER BY c.cell_v)
               + (COUNT(*) OVER (PARTITION BY c.blk, c.cell_v) - 1) / 2.0
                   AS r
        FROM cell c JOIN full_blk USING (blk)
    ), rj AS (
        SELECT trt, SUM(r) AS r_j, CAST(COUNT(*) AS BIGINT) AS n_b
        FROM rnk GROUP BY trt
    ), tot AS (
        SELECT SUM(r * r) AS a,
               CAST(COUNT(*) AS BIGINT) AS nk
        FROM rnk
    ), q AS (
        SELECT MAX(n_b) AS n, CAST(COUNT(*) AS BIGINT) AS k,
               SUM((r_j - MAX_N_HALF) * (r_j - MAX_N_HALF)) AS num
        FROM (SELECT r_j, n_b,
                     n_b * (5 + 1) / 2.0 AS MAX_N_HALF
              FROM rj) t
    )
    SELECT rj.trt AS priority,
           ROUND(rj.r_j, 1) AS rank_sum,
           ROUND(rj.r_j / rj.n_b, 4) AS mean_rank,
           CAST(q.k - 1 AS BIGINT) AS df,
           CAST(q.n AS BIGINT) AS n_blocks,
           ROUND((q.k - 1) * q.num
                 / (tot.a - q.n * q.k * (q.k + 1) * (q.k + 1) / 4.0), 6)
               AS q_stat,
           ROUND((q.k - 1) * q.num
                 / (tot.a - q.n * q.k * (q.k + 1) * (q.k + 1) / 4.0)
                 / (q.n * (q.k - 1)), 6) AS kendall_w
    FROM rj CROSS JOIN q CROSS JOIN tot
    ORDER BY rj.trt
    """,
)
def stats_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test on a complete randomized-block design: months are
    blocks, order priorities are treatments, the response is the exact
    cent total of ``o_totalprice`` per (month, priority) cell. Within
    each block the five cells get average ranks (RANK + (ties−1)/2 —
    integer cell values make ties well-defined and identical in both
    engines), and Conover's tie-safe form Q = (k−1)·Σ(R_j − n(k+1)/2)²
    / (Σr² − nk(k+1)²/4) needs no correction factor. Every rank is a
    half-integer and every squared term a quarter-multiple, so all sums
    are exact dyadic rationals in doubles at any accumulation order —
    no quantization needed until the single final division. Kendall's W
    = Q/(n(k−1)) is reported as the effect size.

    Scale: one shuffle to (month, priority) cells — 100 TB of orders
    reduces to n_months×5 rows before any window runs."""
    orders = load_table(spark, sf_dir, "orders")
    k_lit = 5
    cell = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("blk"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("bigint"))
        .cast("bigint")
        .alias("cell_v")
    )
    full_blk = cell.groupBy("blk").count().filter(F.col("count") == k_lit)
    w_rank = Window.partitionBy("blk").orderBy("cell_v")
    w_tie = Window.partitionBy("blk", "cell_v")
    rnk = (
        cell.join(full_blk.select("blk"), "blk")
        .select(
            "blk",
            "trt",
            (
                F.rank().over(w_rank)
                + (F.count(F.lit(1)).over(w_tie) - 1) / F.lit(2.0)
            ).alias("r"),
        )
    )
    rj = rnk.groupBy("trt").agg(
        F.sum("r").alias("r_j"), F.count(F.lit(1)).cast("bigint").alias("n_b")
    )
    tot = rnk.agg(
        F.sum(F.col("r") * F.col("r")).alias("a"),
        F.count(F.lit(1)).cast("bigint").alias("nk"),
    )
    half = F.col("n_b") * (k_lit + 1) / F.lit(2.0)
    q = rj.select("r_j", "n_b", half.alias("c0")).agg(
        F.max("n_b").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum((F.col("r_j") - F.col("c0")) * (F.col("r_j") - F.col("c0"))).alias(
            "num"
        ),
    )
    t = rj.crossJoin(F.broadcast(q)).crossJoin(F.broadcast(tot))
    qn, qk = F.col("n"), F.col("k")
    denom = F.col("a") - qn * qk * (qk + 1) * (qk + 1) / F.lit(4.0)
    qstat = (qk - 1) * F.col("num") / denom
    return t.select(
        F.col("trt").alias("priority"),
        F.round(F.col("r_j"), 1).alias("rank_sum"),
        F.round(F.col("r_j") / F.col("n_b"), 4).alias("mean_rank"),
        (qk - 1).cast("bigint").alias("df"),
        qn.cast("bigint").alias("n_blocks"),
        F.round(qstat, 6).alias("q_stat"),
        F.round(qstat / (qn * (qk - 1)), 6).alias("kendall_w"),
    ).orderBy("priority")


@register(
    "stats_cochran_q",
    """
    WITH x AS (
        SELECT user_id, event_type
        FROM events WHERE value >= 150.0
        GROUP BY user_id, event_type
    ), cj AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c_j FROM x
        GROUP BY event_type
    ), ri AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS r_i FROM x
        GROUP BY user_id
    ), gl AS (
        SELECT CAST(SUM(r_i) AS BIGINT) AS n_tot,
               CAST(SUM(r_i * r_i) AS BIGINT) AS r_sq,
               CAST(COUNT(*) AS BIGINT) AS n_subj
        FROM ri
    ), k_ AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k FROM cj
    ), num AS (
        SELECT CAST(SUM((k * c_j - n_tot) * (k * c_j - n_tot)) AS BIGINT)
                   AS num
        FROM cj CROSS JOIN gl CROSS JOIN k_
    )
    SELECT cj.event_type,
           cj.c_j AS n_positive,
           CAST(k_.k - 1 AS BIGINT) AS df,
           gl.n_subj AS n_subjects,
           ROUND(CAST((k_.k - 1) * num.num AS DOUBLE)
                 / (k_.k * (k_.k * gl.n_tot - gl.r_sq)), 6) AS q_stat
    FROM cj CROSS JOIN gl CROSS JOIN k_ CROSS JOIN num
    ORDER BY cj.event_type
    """,
)
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q: k related binary outcomes per subject — did each
    user ever produce a high-value (≥150) event of each type? Tests
    whether the five event types differ in their high-value incidence
    with the subject (user) as its own block — the k-treatment
    generalization of the registered McNemar test. Entirely integer
    algebra: with column totals C_j, N = ΣR_i and row-square sum ΣR_i²,
    Q = (k−1)·Σ(kC_j − N)² / (k·(kN − ΣR_i²)) — the N/k mean is cleared
    symbolically so the only division is the final one. Subjects with
    all-zero or all-k rows contribute nothing to either side (the
    classic degeneracy) and need no grid completion.

    Scale: one shuffle to distinct (user, type) pairs, then two
    count-aggregates — at 100 TB the reduced frame is users×5 rows."""
    ev = load_table(spark, sf_dir, "events")
    x = (
        ev.filter(F.col("value") >= 150.0)
        .select("user_id", "event_type")
        .distinct()
    )
    cj = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_j")
    )
    ri = x.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("r_i")
    )
    gl = ri.agg(
        F.sum("r_i").cast("bigint").alias("n_tot"),
        F.sum(F.col("r_i") * F.col("r_i")).cast("bigint").alias("r_sq"),
        F.count(F.lit(1)).cast("bigint").alias("n_subj"),
    )
    k_ = cj.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    base = cj.crossJoin(F.broadcast(gl)).crossJoin(F.broadcast(k_))
    num = base.agg(
        F.sum(
            (F.col("k") * F.col("c_j") - F.col("n_tot"))
            * (F.col("k") * F.col("c_j") - F.col("n_tot"))
        )
        .cast("bigint")
        .alias("num")
    )
    t = base.crossJoin(F.broadcast(num))
    k = F.col("k")
    return t.select(
        "event_type",
        F.col("c_j").alias("n_positive"),
        (k - 1).cast("bigint").alias("df"),
        F.col("n_subj").alias("n_subjects"),
        F.round(
            ((k - 1) * F.col("num")).cast("double")
            / (k * (k * F.col("n_tot") - F.col("r_sq"))),
            6,
        ).alias("q_stat"),
    ).orderBy("event_type")


@register(
    "spc_xmr_chart",
    f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS rev_c
        FROM orders GROUP BY 1
    ), mr AS (
        SELECT day, rev_c,
               ABS(rev_c - LAG(rev_c) OVER (ORDER BY day)) AS mr_c
        FROM daily
    ), lim AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(rev_c) AS BIGINT) AS tot_c,
               CAST(SUM(mr_c) AS BIGINT) AS mr_tot_c,
               CAST(COUNT(mr_c) AS BIGINT) AS n_mr
        FROM mr
    ), bands AS (
        SELECT n_days,
               tot_c / (100.0 * n_days) AS xbar,
               2.66 * mr_tot_c / (100.0 * n_mr) AS delta
        FROM lim
    )
    SELECT strftime(m.day, '%Y-%m-%d') AS day,
           ROUND(m.rev_c / 100.0, 2) AS revenue,
           CASE WHEN m.rev_c / 100.0 > b.xbar + b.delta THEN 'high'
                ELSE 'low' END AS side,
           ROUND(b.xbar + b.delta, 2) AS ucl,
           ROUND(b.xbar - b.delta, 2) AS lcl,
           b.n_days
    FROM mr m CROSS JOIN bands b
    WHERE m.rev_c / 100.0 > b.xbar + b.delta
       OR m.rev_c / 100.0 < b.xbar - b.delta
    ORDER BY m.day
    """,
)
def spc_xmr_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XmR (individuals / moving-range) control chart on daily order
    revenue — Shewhart's process-behavior chart with the standard
    2.66·MR̄ natural process limits, returning the out-of-control days
    (Western Electric rule 1). Both the center line and the limits
    derive from exact integer cent totals, so the doubles that cross the
    ROUND boundary are bit-identical in both engines.

    Scale: 100 TB of orders reduces to one row per day before the lone
    ordered window (O(days), the same documented single-partition
    constraint as the other calendar-series ops); limits are one more
    scalar reduction, broadcast back to flag violations."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    w = Window.orderBy("day")
    mr = daily.select(
        "day",
        "rev_c",
        F.abs(F.col("rev_c") - F.lag("rev_c").over(w)).alias("mr_c"),
    )
    lim = mr.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("rev_c").cast("bigint").alias("tot_c"),
        F.sum("mr_c").cast("bigint").alias("mr_tot_c"),
        F.count("mr_c").cast("bigint").alias("n_mr"),
    )
    bands = lim.select(
        "n_days",
        (F.col("tot_c") / (F.lit(100.0) * F.col("n_days"))).alias("xbar"),
        (
            F.lit(2.66) * F.col("mr_tot_c") / (F.lit(100.0) * F.col("n_mr"))
        ).alias("delta"),
    )
    t = mr.crossJoin(F.broadcast(bands))
    rev = F.col("rev_c") / 100.0
    ucl = F.col("xbar") + F.col("delta")
    lcl = F.col("xbar") - F.col("delta")
    return (
        t.filter((rev > ucl) | (rev < lcl))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round(rev, 2).alias("revenue"),
            F.when(rev > ucl, F.lit("high")).otherwise(F.lit("low")).alias(
                "side"
            ),
            F.round(ucl, 2).alias("ucl"),
            F.round(lcl, 2).alias("lcl"),
            "n_days",
        )
        .orderBy("day")
    )


@register(
    "ops_apdex",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE value <= 50.0) AS BIGINT)
               AS satisfied,
           CAST(COUNT(*) FILTER (WHERE value > 50.0 AND value <= 200.0)
                AS BIGINT) AS tolerating,
           CAST(COUNT(*) FILTER (WHERE value > 200.0) AS BIGINT)
               AS frustrated,
           ROUND((COUNT(*) FILTER (WHERE value <= 50.0)
                  + COUNT(*) FILTER (WHERE value > 50.0 AND value <= 200.0)
                    / 2.0) / COUNT(*), 6) AS apdex
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def ops_apdex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apdex (Application Performance Index) per event type, reading
    ``value`` as a latency: satisfied ≤ T (50), tolerating ≤ 4T,
    frustrated beyond — score = (satisfied + tolerating/2) / n, the
    industry-standard SLA rollup. One conditional-count aggregation —
    all integer counts with a single final division, map-side
    combinable, the cheapest shape in the registry at any scale."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    sat = F.count_if(v <= 50.0)
    tol = F.count_if((v > 50.0) & (v <= 200.0))
    fru = F.count_if(v > 200.0)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            sat.cast("bigint").alias("satisfied"),
            tol.cast("bigint").alias("tolerating"),
            fru.cast("bigint").alias("frustrated"),
            F.round((sat + tol / F.lit(2.0)) / F.count(F.lit(1)), 6).alias(
                "apdex"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "spc_cpk_capability",
    f"""
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_dsum('l_extendedprice')} AS sx,
               {sql_dsum('l_extendedprice * l_extendedprice')} AS sxx
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           n,
           ROUND(sx / n, 4) AS mean_price,
           ROUND(SQRT((sxx - sx * sx / n) / (n - 1)), 4) AS std_price,
           ROUND((100000.0 - sx / n)
                 / (3.0 * SQRT((sxx - sx * sx / n) / (n - 1))), 6) AS cpu,
           ROUND((sx / n - 1000.0)
                 / (3.0 * SQRT((sxx - sx * sx / n) / (n - 1))), 6) AS cpl,
           ROUND(LEAST((100000.0 - sx / n)
                       / (3.0 * SQRT((sxx - sx * sx / n) / (n - 1))),
                       (sx / n - 1000.0)
                       / (3.0 * SQRT((sxx - sx * sx / n) / (n - 1)))), 6)
               AS cpk
    FROM s
    ORDER BY l_returnflag
    """,
)
def spc_cpk_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-capability indices Cpu/Cpl/Cpk per return-flag stream
    against spec limits [1000, 100000] on extended price — the Six
    Sigma"can this process hold its tolerance" report. Sufficient
    statistics (n, Σx, Σx²) per group through the quantized-sum
    discipline, then pure scalar algebra — identical doubles in both
    engines, one partial→final aggregate at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum(x).alias("sx"),
        dsum(x * x).alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    sd = F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        / (F.col("n") - 1)
    )
    cpu = (F.lit(100000.0) - mean) / (F.lit(3.0) * sd)
    cpl = (mean - F.lit(1000.0)) / (F.lit(3.0) * sd)
    return s.select(
        "l_returnflag",
        "n",
        F.round(mean, 4).alias("mean_price"),
        F.round(sd, 4).alias("std_price"),
        F.round(cpu, 6).alias("cpu"),
        F.round(cpl, 6).alias("cpl"),
        F.round(F.least(cpu, cpl), 6).alias("cpk"),
    ).orderBy("l_returnflag")


_ESD_ROUNDS = 5


def _esd_sql() -> str:
    """Sequential CTEs: 5 rounds of remove-the-max-|z| on daily revenue."""
    head = """
    WITH d0 AS (
        SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS c
        FROM orders GROUP BY 1
    )"""
    parts, rows = [head], []
    for r in range(1, _ESD_ROUNDS + 1):
        prev = f"d{r - 1}"
        parts.append(f"""
    , s{r} AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(c AS DECIMAL(28,0))) AS DOUBLE) AS s,
               CAST(SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
                    AS DOUBLE) AS ss
        FROM {prev}
    ), p{r} AS (
        SELECT day, c,
               ABS(c - s / n) / SQRT((ss - s * s / n) / (n - 1)) AS z
        FROM {prev} CROSS JOIN s{r}
        ORDER BY z DESC, day LIMIT 1
    ), d{r} AS (
        SELECT d.day, d.c FROM {prev} d CROSS JOIN p{r} p
        WHERE d.day <> p.day
    )""")
        rows.append(
            f"SELECT {r} AS round, day, ROUND(c / 100.0, 2) AS revenue, "
            f"ROUND(z, 6) AS z_score FROM p{r}"
        )
    return (
        "".join(parts)
        + "\n    SELECT * FROM ("
        + " UNION ALL ".join(rows)
        + ") t ORDER BY round"
    )


@register("stats_esd_outliers", _esd_sql())
def stats_esd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized ESD outlier sequence (Rosner '83): five rounds of
    "remove the most extreme |z| point and re-fit" on the daily revenue
    series — the iterative form that fixes Grubbs' masking problem
    (one extreme outlier hides another; the single-pass ``stats_grubbs``
    is the k=1 special case).

    Round-9 shape: ONE corpus-scale stage (the daily rollup with
    map-side combine) feeds a single Arrow kernel that runs all five
    remove-and-refit rounds over the |days| spine — the
    ``ts_holt_winters`` discipline for inherently sequential recursions
    on metadata-sized frames. The previous driver-coordinated loop paid
    ~15 tiny jobs (per-round stats + TakeOrdered + checkpoints) for the
    same answer: 3.0 → ~0.8 s at sf0.1. Arithmetic mirrors the oracle
    exactly: sufficient statistics are exact integer sums cast to double
    once (Python ints are arbitrary-precision, matching the oracle's
    DECIMAL fold — Σc² exceeds 2^53, so a float fold would NOT match),
    the z expression is the identical IEEE op sequence, and the argmax
    tie-breaks on day. Rounding happens in Spark expressions (HALF_UP,
    like the oracle), never in the kernel."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.date_format(
            F.col("o_orderdate").cast("date"), "yyyy-MM-dd"
        ).alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("bigint"))
        .cast("bigint")
        .alias("c")
    )

    def _esd(pdf):
        import math

        import pandas as pd

        rows = sorted(zip(pdf["day"], (int(v) for v in pdf["c"])))
        out = []
        for r in range(1, _ESD_ROUNDS + 1):
            n = len(rows)
            s = float(sum(c for _, c in rows))
            ss = float(sum(c * c for _, c in rows))
            denom = math.sqrt((ss - s * s / n) / (n - 1))
            best = None
            for day, c in rows:
                z = abs(c - s / n) / denom
                key = (-z, day)
                if best is None or key < best[0]:
                    best = (key, day, c, z)
            out.append((r, best[1], best[2], best[3]))
            drop = best[1]
            rows = [(dy, c) for dy, c in rows if dy != drop]
        return pd.DataFrame(out, columns=["round", "day", "c", "z"])

    res = d.groupBy(F.lit(1).alias("g")).applyInPandas(
        lambda pdf: _esd(pdf), "round int, day string, c long, z double"
    )
    return res.select(
        "round",
        "day",
        F.round(F.col("c") / 100.0, 2).alias("revenue"),
        F.round("z", 6).alias("z_score"),
    ).orderBy("round")


@register(
    "ml_pinball_loss",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS rev_c
        FROM orders GROUP BY 1
    ), train AS (
        SELECT rev_c FROM daily
        WHERE day >= DATE '1996-01-01' AND day < DATE '1997-01-01'
    ), tq AS (
        SELECT LIST(rev_c ORDER BY rev_c) AS xs,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM train
    ), taus(tau) AS (VALUES (0.1), (0.5), (0.9)
    ), fq AS (
        SELECT tau,
               (CAST(xs[CAST(FLOOR(CAST(tau AS DOUBLE) * (n - 1)) AS BIGINT)
                        + 1] AS DOUBLE)
                + (CAST(tau AS DOUBLE) * (n - 1)
                   - FLOOR(CAST(tau AS DOUBLE) * (n - 1)))
                  * (CAST(xs[CAST(LEAST(
                         CAST(FLOOR(CAST(tau AS DOUBLE) * (n - 1)) AS BIGINT)
                         + 2, n) AS BIGINT)] AS DOUBLE)
                     - CAST(xs[CAST(FLOOR(CAST(tau AS DOUBLE) * (n - 1))
                                    AS BIGINT) + 1] AS DOUBLE)))
               / 100.0 AS yhat
        FROM taus CROSS JOIN tq
    ), test AS (
        SELECT rev_c / 100.0 AS y FROM daily
        WHERE day >= DATE '1997-01-01' AND day < DATE '1998-01-01'
    ), loss AS (
        SELECT fq.tau, fq.yhat,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               -- tau must reach the arithmetic AS DOUBLE: DuckDB's bare
               -- decimal would compute tau - 1.0 exactly (-0.1) while
               -- Spark's IEEE 0.9 - 1.0 is -0.09999999999999998, which
               -- flips a floor-quantized term at representation
               -- boundaries (sf0.001 gate, round 10)
               CAST(SUM(CAST(FLOOR(
                   GREATEST(CAST(fq.tau AS DOUBLE) * (t.y - fq.yhat),
                            (CAST(fq.tau AS DOUBLE) - 1.0)
                            * (t.y - fq.yhat)) * 10000.0)
                   AS DECIMAL(28,0))) AS BIGINT) AS q,
               CAST(COUNT(*) FILTER (WHERE t.y <= fq.yhat) AS BIGINT)
                   AS n_covered
        FROM fq CROSS JOIN test t
        GROUP BY fq.tau, fq.yhat
    )
    SELECT tau,
           ROUND(yhat, 2) AS forecast,
           n_days,
           FLOOR((2 * q + n_days) / (2.0 * n_days)) / 10000.0
               AS pinball_loss,
           FLOOR((2 * n_covered * 10000 + n_days) / (2.0 * n_days)) / 10000.0
               AS coverage
    FROM loss ORDER BY tau
    """,
)
def ml_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss evaluation: 1996's exact daily-revenue
    quantiles (τ = 0.1 / 0.5 / 0.9) used as constant forecasts for
    1997, scored with the loss that elicits quantiles — the metric every
    probabilistic-forecast benchmark (M5, GEFCom) grades on — plus
    empirical coverage, which should land near τ if the distribution is
    stable year-over-year. Per-day loss terms are floor-quantized into
    DECIMAL before the mean (the exact-sum discipline); the quantile
    itself interpolates on exact cent totals so both engines agree.

    Scale: one day rollup, a 365-row train quantile, a three-row
    broadcast against the test frame — O(days) everything."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    # The interpolated quantile is computed EXPLICITLY over the sorted
    # integer-cent list — Spark's percentile() and DuckDB's QUANTILE_CONT
    # agree on the definition (index p·(n−1), linear interpolation) but
    # not on the IEEE expression shape, which flipped a floor-quantized
    # loss term at sf0.001 (round-10 full gate). lo + frac·(hi − lo) on
    # exact integer operands is the identical double in both engines.
    # The 365-row year frame is calendar-bounded, so the collect_list is
    # O(days), never O(rows).
    train = daily.filter(
        (F.col("day") >= F.lit("1996-01-01").cast("date"))
        & (F.col("day") < F.lit("1997-01-01").cast("date"))
    ).select("rev_c")
    tq = train.agg(
        F.sort_array(F.collect_list("rev_c")).alias("xs"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )

    def _interp(t: float) -> F.Column:
        p = F.lit(t) * (F.col("n") - 1).cast("double")
        k = F.floor(p).cast("long")
        lo = F.element_at("xs", (k + 1).cast("int")).cast("double")
        hi = F.element_at(
            "xs", F.least(k + 2, F.col("n")).cast("int")
        ).cast("double")
        return (lo + (p - F.floor(p)) * (hi - lo)) / 100.0

    fq = tq.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tau"), _interp(t).alias("yhat")
                    )
                    for t in (0.1, 0.5, 0.9)
                ]
            )
        ).alias("f")
    ).select("f.tau", "f.yhat")
    test = daily.filter(
        (F.col("day") >= F.lit("1997-01-01").cast("date"))
        & (F.col("day") < F.lit("1998-01-01").cast("date"))
    ).select((F.col("rev_c") / 100.0).alias("y"))
    diff = F.col("y") - F.col("yhat")
    term = F.greatest(
        F.col("tau") * diff, (F.col("tau") - F.lit(1.0)) * diff
    )
    loss = (
        test.crossJoin(F.broadcast(fq))
        .groupBy("tau", "yhat")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum(F.floor(term * 10000.0).cast("decimal(28,0)"))
            .cast("long")
            .alias("q"),
            F.count_if(F.col("y") <= F.col("yhat"))
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    # The mean loss and coverage are EXACT RATIONALS (integer quanta /
    # n_days); ROUND of their double form flips the last digit at .5
    # representation boundaries (found by the sf0.001 full gate, round
    # 10). Half-up happens in integer space instead: floor(x + 1/2) ==
    # floor((2·num + den) / (2·den)) — the double division is safe
    # because the quotient is ≥ 1/(2·den) away from any integer when not
    # exactly on it, far above the ulp, and BOTH engines run the
    # identical IEEE expression.
    return loss.select(
        "tau",
        F.round("yhat", 2).alias("forecast"),
        "n_days",
        (
            F.floor(
                (2 * F.col("q") + F.col("n_days"))
                / (2.0 * F.col("n_days"))
            )
            / 10000.0
        ).alias("pinball_loss"),
        (
            F.floor(
                (2 * F.col("n_covered") * 10000 + F.col("n_days"))
                / (2.0 * F.col("n_days"))
            )
            / 10000.0
        ).alias("coverage"),
    ).orderBy("tau")


@register(
    "ml_tweedie_deviance",
    f"""
    WITH mu AS (
        SELECT o_orderpriority,
               {sql_dsum('o_totalprice')} / COUNT(*) AS mu,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY o_orderpriority
    ), terms AS (
        SELECT o.o_orderpriority,
               CAST(FLOOR((
                   -4.0 * POW(o.o_totalprice, 0.5)
                   + 2.0 * o.o_totalprice / POW(m.mu, 0.5)
                   + 2.0 * POW(m.mu, 0.5)
               ) * 10000.0) AS BIGINT) AS dq,
               CAST(FLOOR((o.o_totalprice - m.mu) * (o.o_totalprice - m.mu)
                          * 0.0001) AS BIGINT) AS sq
        FROM orders o JOIN mu m ON m.o_orderpriority = o.o_orderpriority
    )
    SELECT t.o_orderpriority,
           m.n,
           ROUND(m.mu, 4) AS mu,
           ROUND(CAST(SUM(CAST(t.dq AS DECIMAL(28,0))) AS DOUBLE)
                 / 10000.0 / m.n * 2.0, 6) AS tweedie_deviance,
           ROUND(CAST(SUM(CAST(t.sq AS DECIMAL(28,0))) AS DOUBLE)
                 * 10000.0 / m.n, 2) AS mse
    FROM terms t JOIN mu m ON m.o_orderpriority = t.o_orderpriority
    GROUP BY t.o_orderpriority, m.n, m.mu
    ORDER BY t.o_orderpriority
    """,
)
def ml_tweedie_deviance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tweedie deviance (power p = 1.5 — the compound-Poisson regime
    insurance and revenue models live in) of the group-mean predictor
    per order priority, next to plain MSE: for zero-inflated,
    right-skewed targets the Tweedie loss is the statistically honest
    score, and comparing it with MSE per group shows where squared
    error over-penalizes the heavy tail. At p = 1.5 the unit deviance
    is 2·(4√y − 2y/√μ − 2√μ) (the y^(2−p)/((1−p)(2−p)) family with the
    constant folded); each per-row term is floor-quantized at 1e-4 into
    a DECIMAL accumulator, so the group means are bit-stable.

    Scale: one grouped mean pass broadcast back, one quantized-term
    aggregation — two shuffles ∝ groups."""
    orders = load_table(spark, sf_dir, "orders")
    mu = orders.groupBy("o_orderpriority").agg(
        (dsum("o_totalprice") / F.count(F.lit(1))).alias("mu"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    y = F.col("o_totalprice")
    m = F.col("mu")
    dev_term = (
        F.lit(-4.0) * F.pow(y, 0.5)
        + F.lit(2.0) * y / F.pow(m, 0.5)
        + F.lit(2.0) * F.pow(m, 0.5)
    )
    terms = orders.join(F.broadcast(mu), "o_orderpriority").select(
        "o_orderpriority",
        F.floor(dev_term * F.lit(10000.0)).cast("bigint").alias("dq"),
        F.floor((y - m) * (y - m) * 0.0001).cast("bigint").alias("sq"),
    )
    return (
        terms.groupBy("o_orderpriority")
        .agg(
            F.sum(F.col("dq").cast("decimal(28,0)")).cast("double").alias("sdq"),
            F.sum(F.col("sq").cast("decimal(28,0)")).cast("double").alias("ssq"),
        )
        .join(F.broadcast(mu), "o_orderpriority")
        .select(
            "o_orderpriority",
            "n",
            F.round("mu", 4).alias("mu"),
            F.round(
                F.col("sdq") / 10000.0 / F.col("n") * 2.0, 6
            ).alias("tweedie_deviance"),
            F.round(F.col("ssq") * 10000.0 / F.col("n"), 2).alias("mse"),
        )
        .orderBy("o_orderpriority")
    )


def _erlang_sql() -> str:
    from hive_processor_spark.functions.mathtab import LNFACT_Q

    arr = "[" + ", ".join(str(v) for v in LNFACT_Q[:64]) + "]"
    return f"""
    WITH peak AS (
        SELECT CAST(MAX(n) AS BIGINT) AS peak FROM (
            SELECT CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY DATE_TRUNC('hour', ts)
        ) h
    ), load AS (
        SELECT peak, peak * 300.0 / 3600.0 AS a,
               LN(peak * 300.0 / 3600.0) AS lna,
               CAST(CEIL(peak * 300.0 / 3600.0) AS BIGINT) AS n0
        FROM peak
    ), grid AS (
        SELECT l.peak, l.a, l.lna, l.n0 + k.k AS n
        FROM load l CROSS JOIN (SELECT UNNEST(RANGE(0, 8)) AS k) k
    ), terms AS (
        SELECT g.n, g.a, g.peak,
               CAST(SUM(CAST(FLOOR(EXP(j.j * g.lna
                        - ({arr})[CAST(j.j + 1 AS INT)] / 1e9) * 1e9)
                    AS DECIMAL(28,0))) AS DOUBLE) / 1e9 AS denom,
               CAST(MAX(CASE WHEN j.j = g.n THEN
                        CAST(FLOOR(EXP(j.j * g.lna
                          - ({arr})[CAST(j.j + 1 AS INT)] / 1e9) * 1e9)
                        AS BIGINT) END) AS DOUBLE) / 1e9 AS numer
        FROM grid g JOIN (SELECT UNNEST(RANGE(0, 64)) AS j) j
          ON j.j <= g.n
        GROUP BY g.n, g.a, g.peak
    ), erl AS (
        SELECT n, a, peak,
               numer / denom AS b
        FROM terms
    )
    SELECT CAST(n AS BIGINT) AS n_agents,
           peak AS peak_hourly_arrivals,
           ROUND(a, 4) AS offered_erlangs,
           ROUND(a / n, 6) AS occupancy,
           ROUND(n * b / (n - a * (1.0 - b)), 6) AS p_wait,
           ROUND(n * b / (n - a * (1.0 - b)) * 300.0 / (n - a), 2)
               AS asa_seconds,
           ROUND(1.0 - n * b / (n - a * (1.0 - b))
                 * EXP(-(n - a) * 20.0 / 300.0), 6) AS service_level_20s
    FROM erl ORDER BY n_agents
    """


@register("ops_erlang_c", _erlang_sql())
def ops_erlang_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang-C staffing table: from the observed PEAK hourly arrival
    rate (AHT pinned at 300 s → offered load a erlangs), the queueing
    probability, average speed of answer, and 20-second service level
    for each candidate agent count ⌈a⌉..⌈a⌉+7 — the capacity-planning
    grid every call-center / ticket-queue sizing exercise reads.
    Erlang B runs through the closed form aⁿ/n! / Σ aᵏ/k! with ln k!
    taken from the shared precomputed integer table (the Fisher-exact
    discipline — neither engine's lgamma is on the comparison path) and
    every exp term floor-quantized into a DECIMAL sum; Erlang C, ASA, and
    SL are scalar algebra on those shared values.

    Scale: one hour-level rollup of the fact table; the 8×64-term grid
    is constant work."""
    from hive_processor_spark.functions.mathtab import LNFACT_Q

    lf = F.array(*[F.lit(v) for v in LNFACT_Q[:64]])
    ev = load_table(spark, sf_dir, "events")
    peak = (
        ev.groupBy(F.date_trunc("hour", "ts"))
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").cast("bigint").alias("peak"))
    )
    load = peak.select(
        "peak",
        (F.col("peak") * 300.0 / 3600.0).alias("a"),
        F.log(F.col("peak") * 300.0 / 3600.0).alias("lna"),
        F.ceil(F.col("peak") * 300.0 / 3600.0).cast("bigint").alias("n0"),
    )
    grid = load.crossJoin(
        F.broadcast(
            spark.range(0, 8).select(F.col("id").alias("k"))
        )
    ).select("peak", "a", "lna", (F.col("n0") + F.col("k")).alias("n"))
    js = spark.range(0, 64).select(F.col("id").alias("j"))
    term = F.floor(
        F.exp(
            F.col("j") * F.col("lna")
            - F.element_at(lf, (F.col("j") + 1).cast("int")) / 1e9
        )
        * 1e9
    )
    terms = (
        grid.join(F.broadcast(js), F.col("j") <= F.col("n"))
        .groupBy("n", "a", "peak")
        .agg(
            (
                F.sum(term.cast("decimal(28,0)")).cast("double") / 1e9
            ).alias("denom"),
            (
                F.max(
                    F.when(F.col("j") == F.col("n"), term.cast("bigint"))
                ).cast("double")
                / 1e9
            ).alias("numer"),
        )
    )
    b = F.col("numer") / F.col("denom")
    c = F.col("n") * b / (F.col("n") - F.col("a") * (F.lit(1.0) - b))
    return terms.select(
        F.col("n").cast("bigint").alias("n_agents"),
        F.col("peak").alias("peak_hourly_arrivals"),
        F.round("a", 4).alias("offered_erlangs"),
        F.round(F.col("a") / F.col("n"), 6).alias("occupancy"),
        F.round(c, 6).alias("p_wait"),
        F.round(c * 300.0 / (F.col("n") - F.col("a")), 2).alias(
            "asa_seconds"
        ),
        F.round(
            F.lit(1.0)
            - c * F.exp(-(F.col("n") - F.col("a")) * 20.0 / 300.0),
            6,
        ).alias("service_level_20s"),
    ).orderBy("n_agents")


@register(
    "ml_prequential_accuracy",
    """
    WITH monthly AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (WHERE
                    (value >= 100.0) = (event_type = 'purchase'))
                    AS BIGINT) AS correct
        FROM events GROUP BY 1
    ), cum AS (
        SELECT day, n, correct,
               SUM(n) OVER w AS cum_n,
               SUM(correct) OVER w AS cum_correct
        FROM monthly
        WINDOW w AS (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT day, n, correct,
           ROUND(CAST(correct AS DOUBLE) / n, 6) AS day_accuracy,
           ROUND(CAST(cum_correct AS DOUBLE) / cum_n, 6)
               AS prequential_accuracy
    FROM cum ORDER BY day
    """,
)
def ml_prequential_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prequential (test-then-train, Dawid '84) evaluation curve of the
    fixed threshold classifier (value ≥ 100 ⇒ purchase) over the
    time-ordered event stream: per-day accuracy and the cumulative
    prequential accuracy every online-learning paper plots — flat means
    a stationary concept, a drifting curve is the model-decay signal
    that triggers retraining. Exact conditional counts per day, one
    ordered window over the day frame (O(days)).

    This is the temporal complement of the registered static
    ``ml_confusion_matrix`` (same decision rule, same fixture
    convention), and pairs with ``ml_psi_stability``'s feature-drift
    view: PSI watches the inputs, the prequential curve watches
    realized performance."""
    ev = load_table(spark, sf_dir, "events")
    monthly = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(
            (F.col("value") >= 100.0) == (F.col("event_type") == "purchase")
        )
        .cast("bigint")
        .alias("correct"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = monthly.select(
        "day",
        "n",
        "correct",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("correct").over(w).alias("cum_correct"),
    )
    return cum.select(
        "day",
        "n",
        "correct",
        F.round(F.col("correct").cast("double") / F.col("n"), 6).alias(
            "day_accuracy"
        ),
        F.round(
            F.col("cum_correct").cast("double") / F.col("cum_n"), 6
        ).alias("prequential_accuracy"),
    ).orderBy("day")


@register(
    "spc_cusum",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS rev_c
        FROM orders GROUP BY 1
    ), base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS a,
               CAST(SUM(rev_c) AS BIGINT) AS t
        FROM daily WHERE date_part('year', day) = 1995
    ), sabs AS (
        SELECT CAST(SUM(ABS(b.a * d.rev_c - b.t)) AS BIGINT) AS s_abs
        FROM daily d CROSS JOIN base b
        WHERE date_part('year', d.day) = 1995
    ), mon AS (
        SELECT d.day, d.rev_c, b.a, b.t, s.s_abs,
               2 * b.a * (b.a * d.rev_c - b.t) - s.s_abs AS inc_up,
               -2 * b.a * (b.a * d.rev_c - b.t) - s.s_abs AS inc_dn
        FROM daily d CROSS JOIN base b CROSS JOIN sabs s
        WHERE date_part('year', d.day) >= 1996
    ), cum AS (
        SELECT day, rev_c, a, s_abs,
               SUM(inc_up) OVER w AS cu,
               SUM(inc_dn) OVER w AS cd
        FROM mon
        WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ), s AS (
        SELECT day, rev_c, a, s_abs,
               cu - LEAST(0, MIN(cu) OVER w) AS su,
               cd - LEAST(0, MIN(cd) OVER w) AS sd
        FROM cum
        WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ), sides AS (
        SELECT day, rev_c, a, s_abs, 'high' AS side, su AS stat FROM s
        UNION ALL
        SELECT day, rev_c, a, s_abs, 'low' AS side, sd AS stat FROM s
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           ROUND(rev_c / 100.0, 2) AS revenue,
           side,
           ROUND(stat / (2.0 * a * a * 100.0), 2) AS cusum_stat,
           ROUND(8.0 * s_abs / (2.0 * a * a * 100.0), 2) AS threshold_stat
    FROM sides
    WHERE stat > 8 * s_abs
    ORDER BY day, side
    """,
)
def spc_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided tabular CUSUM chart (Page '54) on daily order revenue:
    1995 is the in-control baseline, 1996+ is monitored. The recursion
    S_t = max(0, S_{t-1} + dev_t − k) is expressed CLOSED-FORM as
    S_t = C_t − min(0, min_{j≤t} C_j) (cumsum minus running min — the
    classic trick that turns the sequential reset into two windows), so
    no iterative loop exists. Allowance k = MAD/2 and decision interval
    h = 4·MAD come from the baseline's mean absolute deviation, and the
    whole path is computed in cross-multiplied integer units
    (cent · 2·n_base²) — zero float accumulation, both engines agree to
    the last bit; division back to dollars happens only at ROUND time.

    Scale: 100 TB of orders reduces to one row per day before the
    ordered windows (O(days) — the documented calendar-series
    single-partition constraint); the baseline scalars broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    base = daily.filter(F.year("day") == 1995).agg(
        F.count(F.lit(1)).cast("bigint").alias("a"),
        F.sum("rev_c").cast("bigint").alias("t"),
    )
    with_base = daily.crossJoin(F.broadcast(base))
    sabs = (
        with_base.filter(F.year("day") == 1995)
        .agg(
            F.sum(F.abs(F.col("a") * F.col("rev_c") - F.col("t")))
            .cast("bigint")
            .alias("s_abs")
        )
    )
    dev = F.col("a") * F.col("rev_c") - F.col("t")
    mon = (
        with_base.crossJoin(F.broadcast(sabs))
        .filter(F.year("day") >= 1996)
        .select(
            "day",
            "rev_c",
            "a",
            "s_abs",
            (2 * F.col("a") * dev - F.col("s_abs")).alias("inc_up"),
            (-2 * F.col("a") * dev - F.col("s_abs")).alias("inc_dn"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = mon.select(
        "day",
        "rev_c",
        "a",
        "s_abs",
        F.sum("inc_up").over(w).alias("cu"),
        F.sum("inc_dn").over(w).alias("cd"),
    )
    s = cum.select(
        "day",
        "rev_c",
        "a",
        "s_abs",
        (F.col("cu") - F.least(F.lit(0).cast("bigint"), F.min("cu").over(w))).alias("su"),
        (F.col("cd") - F.least(F.lit(0).cast("bigint"), F.min("cd").over(w))).alias("sd"),
    )
    sides = s.select(
        "day", "rev_c", "a", "s_abs", F.lit("high").alias("side"), F.col("su").alias("stat")
    ).unionAll(
        s.select(
            "day", "rev_c", "a", "s_abs", F.lit("low").alias("side"), F.col("sd").alias("stat")
        )
    )
    scale = F.lit(2.0) * F.col("a") * F.col("a") * F.lit(100.0)
    return (
        sides.filter(F.col("stat") > 8 * F.col("s_abs"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round(F.col("rev_c") / 100.0, 2).alias("revenue"),
            "side",
            F.round(F.col("stat") / scale, 2).alias("cusum_stat"),
            F.round(F.lit(8.0) * F.col("s_abs") / scale, 2).alias(
                "threshold_stat"
            ),
        )
        .orderBy("day", "side")
    )


@register(
    "stats_cvm_test",
    """
    WITH v AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_x,
               CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS cents
        FROM lineitem WHERE l_returnflag IN ('R', 'A')
    ), grp AS (
        SELECT cents, is_x, CAST(COUNT(*) AS BIGINT) AS c
        FROM v GROUP BY cents, is_x
    ), pre AS (
        SELECT is_x, c,
               SUM(c) OVER (ORDER BY cents, is_x
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS base,
               SUM(c) OVER (PARTITION BY is_x ORDER BY cents
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS ibase
        FROM grp
    ), sums AS (
        SELECT CAST(SUM(CASE WHEN is_x = 1 THEN c END) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN is_x = 0 THEN c END) AS BIGINT) AS m,
               CAST(SUM(CASE WHEN is_x = 1 THEN
                    c * (COALESCE(base, 0) - COALESCE(ibase, 0))
                      * (COALESCE(base, 0) - COALESCE(ibase, 0)) END)
                    AS BIGINT) AS sx,
               CAST(SUM(CASE WHEN is_x = 0 THEN
                    c * (COALESCE(base, 0) - COALESCE(ibase, 0))
                      * (COALESCE(base, 0) - COALESCE(ibase, 0)) END)
                    AS BIGINT) AS sy
        FROM pre
    )
    SELECT n AS n_x, m AS n_y,
           ROUND(CAST(CAST(n AS HUGEINT) * sx + CAST(m AS HUGEINT) * sy
                      AS DOUBLE)
                 / (CAST(n AS DOUBLE) * m * (n + m))
                 - (4.0 * n * m - 1.0) / (6.0 * (n + m)), 6) AS t_stat,
           ROUND(1.0 / 6.0 + 1.0 / (6.0 * (n + m)), 6) AS t_expected_h0
    FROM sums
    """,
)
def stats_cvm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises test (Anderson '62 rank form) on
    returned-vs-available line revenues: T = U/(nm(n+m)) − (4nm−1)/
    (6(n+m)) with U = nΣ(rᵢ−i)² + mΣ(sⱼ−j)². The whole statistic is
    computed by GROUPED-RANK ALGEBRA: rows reduce to distinct
    (value, sample) groups first, and within a group the pooled-rank /
    within-sample-index gap (r−i) is CONSTANT (both counters advance
    together under the deterministic (value, sample) tie order), so
    Σ(r−i)² = Σ_groups c·(base−ibase)² — exact integers from two
    prefix windows over the O(distinct values) frame, with the one
    >2⁶³ product (n·Σ) carried in 128-bit/DECIMAL before the final
    division. CvM complements ``stats_ks_test``: integral-of-squared-
    gap instead of max-gap, so it sees distributed small departures
    KS misses.

    Scale: shuffle ∝ distinct cent values (the same demotion-to-
    distinct pattern as ``stats_mad_outliers``); under the (value,
    sample) tie order the gap reduces to the OTHER sample's cumulative
    count — inclusive of the tie value for sample 1, strict for sample
    0 — so both gap columns come from one bucketed two-level cumulative
    over the per-value frame (round-6 window-audit fix; the frame grows
    until the cents domain saturates and never crosses one
    partition)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    v = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_x"),
        F.floor(F.col("l_extendedprice") * 100.0)
        .cast("bigint")
        .alias("cents"),
    )
    pc = v.groupBy("cents").agg(
        F.count_if(F.col("is_x") == 1).cast("bigint").alias("c1"),
        F.count_if(F.col("is_x") == 0).cast("bigint").alias("c0"),
    )
    cum = with_global_order(
        pc, "cents", cumsums={"ct0": "c0", "ct1": "c1"}
    )
    gap1 = F.col("ct0")  # sample-0 mass at or below the tied value
    gap0 = F.col("ct1") - F.col("c1")  # sample-1 mass strictly below
    sums = cum.agg(
        F.sum("c1").cast("bigint").alias("n"),
        F.sum("c0").cast("bigint").alias("m"),
        F.sum(F.col("c1") * gap1 * gap1).cast("bigint").alias("sx"),
        F.sum(F.col("c0") * gap0 * gap0).cast("bigint").alias("sy"),
    )
    n, m = F.col("n"), F.col("m")
    u = (
        n.cast("decimal(38,0)") * F.col("sx")
        + m.cast("decimal(38,0)") * F.col("sy")
    )
    t = u.cast("double") / (
        n.cast("double") * m * (n + m)
    ) - (F.lit(4.0) * n * m - 1.0) / (F.lit(6.0) * (n + m))
    return sums.select(
        n.alias("n_x"),
        m.alias("n_y"),
        F.round(t, 6).alias("t_stat"),
        F.round(
            F.lit(1.0 / 6.0) + F.lit(1.0) / (F.lit(6.0) * (n + m)), 6
        ).alias("t_expected_h0"),
    )


@register(
    "stats_logrank",
    """
    WITH spans AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0,
               MAX(ts) AS t_last
        FROM events GROUP BY user_id
    ), conv AS (
        SELECT s.user_id % 2 AS g,
               DATE_DIFF('day', s.t0, COALESCE(p.tp, s.t_last)) AS dur,
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
    ), cell AS (
        SELECT dur, g, CAST(SUM(ev) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS leaving
        FROM conv GROUP BY dur, g
    ), dense AS (
        SELECT dd.dur, gs.g,
               COALESCE(c.d, 0) AS d, COALESCE(c.leaving, 0) AS leaving
        FROM (SELECT DISTINCT dur FROM cell) dd
        CROSS JOIN (SELECT UNNEST([0, 1]) AS g) gs
        LEFT JOIN cell c ON c.dur = dd.dur AND c.g = gs.g
    ), risk AS (
        SELECT dur, g, d,
               SUM(leaving) OVER (PARTITION BY g ORDER BY dur DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_g
        FROM dense
    ), pooled AS (
        SELECT dur,
               CAST(SUM(d) AS BIGINT) AS dt,
               CAST(SUM(CASE WHEN g = 1 THEN d END) AS BIGINT) AS d1,
               CAST(SUM(n_g) AS BIGINT) AS nt,
               CAST(SUM(CASE WHEN g = 1 THEN n_g END) AS BIGINT) AS n1
        FROM risk GROUP BY dur
    ), terms AS (
        SELECT dt, d1, nt, n1,
               CAST(FLOOR(CAST(dt AS DOUBLE) * n1 / nt * 1e9) AS BIGINT) AS e1q,
               CASE WHEN nt > 1 THEN CAST(FLOOR(
                   CAST(dt AS DOUBLE) * n1 / nt
                   * (1.0 - CAST(n1 AS DOUBLE) / nt)
                   * (nt - dt) / (nt - 1) * 1e9) AS BIGINT)
               ELSE 0 END AS vq
        FROM pooled WHERE dt > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_times,
           CAST(SUM(d1) AS BIGINT) AS o1,
           ROUND(SUM(e1q) / 1e9, 6) AS e1,
           ROUND(SUM(vq) / 1e9, 6) AS var_lr,
           ROUND((SUM(d1) - SUM(e1q) / 1e9)
                 * (SUM(d1) - SUM(e1q) / 1e9)
                 / (SUM(vq) / 1e9), 4) AS chi2
    FROM terms
    """,
)
def stats_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank (Mantel–Cox) test on time-to-first-purchase,
    comparing even vs odd ``user_id`` cohorts (users without a purchase
    are right-censored at their last event — the same span construction
    as ``ml_survival_km``). At each distinct event day the hypergeometric
    expectation d·n₁/n and variance d·(n₁/n)(1−n₁/n)(n−d)/(n−1) are
    floor-quantized at 1e-9 and summed as integers, so O−E and V fold
    addition-order-free; χ² = (O₁−E₁)²/V. The at-risk counts per group
    come from one reverse cumulative sum over the DENSE distinct-day ×
    group frame (a group with no row at day t still has the correct
    at-risk count there).

    Scale: two per-user aggregations at fact scale, then all test algebra
    runs on the O(distinct days × 2) frame — the same demote-to-distinct
    pattern as ``stats_cvm_test``."""
    ev = load_table(spark, sf_dir, "events")
    spans = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t0"),
            F.max("ts").alias("t_last"),
        )
        .filter(F.col("t0").isNotNull())
    )
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
        (F.col("user_id") % 2).alias("g"),
        F.datediff(
            F.coalesce(F.col("tp"), F.col("t_last")).cast("date"),
            F.col("t0").cast("date"),
        ).alias("dur"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    cell = conv.groupBy("dur", "g").agg(
        F.sum("ev").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("leaving"),
    )
    dense = (
        cell.select("dur")
        .distinct()
        .crossJoin(F.broadcast(spark.range(2).select(F.col("id").alias("g"))))
        .join(cell, ["dur", "g"], "left")
        .select(
            "dur",
            "g",
            F.coalesce(F.col("d"), F.lit(0)).alias("d"),
            F.coalesce(F.col("leaving"), F.lit(0)).alias("leaving"),
        )
    )
    w_rev = Window.partitionBy("g").orderBy(F.desc("dur")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = dense.select(
        "dur", "g", "d", F.sum("leaving").over(w_rev).alias("n_g")
    )
    pooled = risk.groupBy("dur").agg(
        F.sum("d").cast("long").alias("dt"),
        F.sum(F.when(F.col("g") == 1, F.col("d"))).cast("long").alias("d1"),
        F.sum("n_g").cast("long").alias("nt"),
        F.sum(F.when(F.col("g") == 1, F.col("n_g"))).cast("long").alias("n1"),
    )
    terms = pooled.filter(F.col("dt") > 0).select(
        "d1",
        F.floor(
            F.col("dt").cast("double") * F.col("n1") / F.col("nt") * 1e9
        )
        .cast("long")
        .alias("e1q"),
        F.when(
            F.col("nt") > 1,
            F.floor(
                F.col("dt").cast("double") * F.col("n1") / F.col("nt")
                * (F.lit(1.0) - F.col("n1").cast("double") / F.col("nt"))
                * (F.col("nt") - F.col("dt"))
                / (F.col("nt") - 1)
                * 1e9
            ).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("vq"),
    )
    o1 = F.sum("d1").cast("long")
    e1 = F.sum("e1q") / 1e9
    v = F.sum("vq") / 1e9
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_times"),
        o1.alias("o1"),
        F.round(e1, 6).alias("e1"),
        F.round(v, 6).alias("var_lr"),
        F.round((o1 - e1) * (o1 - e1) / v, 4).alias("chi2"),
    )


@register(
    "stats_jonckheere",
    """
    WITH v AS (
        SELECT CAST(SUBSTR(o_orderpriority, 1, 1) AS INTEGER) AS g,
               CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS cents
        FROM orders
    ), grp AS (
        SELECT cents, g, CAST(COUNT(*) AS BIGINT) AS c
        FROM v GROUP BY cents, g
    ), dense AS (
        SELECT dv.cents, gs.g, COALESCE(grp.c, 0) AS c
        FROM (SELECT DISTINCT cents FROM grp) dv
        CROSS JOIN (SELECT UNNEST([1, 2, 3, 4, 5]) AS g) gs
        LEFT JOIN grp ON grp.cents = dv.cents AND grp.g = gs.g
    ), cum AS (
        SELECT cents, g, c,
               COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cumlt
        FROM dense
    ), j2 AS (
        SELECT CAST(SUM(2 * b.c * a.cumlt + a.c * b.c) AS BIGINT) AS j2
        FROM cum a JOIN grp b
          ON a.cents = b.cents AND a.g < b.g
    ), sizes AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * c) AS BIGINT) AS s2sum,
               CAST(SUM(c * (c - 1)) AS BIGINT) AS s2n,
               CAST(SUM(c * (c - 1) * (c - 2)) AS BIGINT) AS s3n,
               CAST(SUM(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS s25n
        FROM (SELECT g, CAST(SUM(c) AS BIGINT) AS c FROM grp GROUP BY g)
    ), ties AS (
        SELECT CAST(SUM(t * (t - 1)) AS BIGINT) AS s2t,
               CAST(SUM(t * (t - 1) * (t - 2)) AS BIGINT) AS s3t,
               CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS s25t,
               CAST(SUM(CASE WHEN t > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS tie_values
        FROM (SELECT cents, CAST(SUM(c) AS BIGINT) AS t FROM grp
              GROUP BY cents)
    )
    SELECT s.n AS n_total, t.tie_values,
           CAST(j.j2 AS DOUBLE) / 2 AS j_stat,
           CAST((s.n * s.n - s.s2sum) / 2 AS DOUBLE) AS e_j,
           ROUND(CAST(s.n * (s.n - 1) * (2 * s.n + 5)
                      - s.s25n - t.s25t AS DOUBLE) / 72
                 + CAST(CAST(s.s3n AS HUGEINT) * t.s3t AS DOUBLE)
                   / (36.0 * s.n * (s.n - 1) * (s.n - 2))
                 + CAST(CAST(s.s2n AS HUGEINT) * t.s2t AS DOUBLE)
                   / (8.0 * s.n * (s.n - 1)), 4) AS var_j,
           ROUND((j.j2 - (s.n * s.n - s.s2sum) / 2)
                 / (2.0 * SQRT(
                     CAST(s.n * (s.n - 1) * (2 * s.n + 5)
                          - s.s25n - t.s25t AS DOUBLE) / 72
                     + CAST(CAST(s.s3n AS HUGEINT) * t.s3t AS DOUBLE)
                       / (36.0 * s.n * (s.n - 1) * (s.n - 2))
                     + CAST(CAST(s.s2n AS HUGEINT) * t.s2t AS DOUBLE)
                       / (8.0 * s.n * (s.n - 1)))), 4) AS z
    FROM j2 j CROSS JOIN sizes s CROSS JOIN ties t
    """,
)
def stats_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere–Terpstra ordered-alternative trend test (Hollander &
    Wolfe ch. 6): does order value trend monotonically with the
    priority ordinal 1-URGENT … 5-LOW? J = Σ_{i<j} Mann–Whitney counts
    with ½-credit ties, computed EXACTLY as the integer 2J: one window
    prefix per group over the dense distinct-value × 5-group frame
    (cumlt = strictly-below count), then a value-equality join against
    the sparse count frame with g_i < g_j sums 2·c_j·cumlt_i + c_i·c_j
    — no pairwise row join ever happens. E[2J] = N² − Σn_i² exactly
    (it is Σ_{i<j} 2 n_i n_j); the tie-corrected null variance uses the
    three Hollander–Wolfe terms from integer size/tie moments, with the
    one possibly->2⁶³ cross product (Σn(n−1)(n−2))·(Σt(t−1)(t−2))
    carried in 128-bit before the final division; z = (2J − E[2J]) /
    (2√Var).

    Scale: one shuffle to (value, group) counts; the dense frame is
    O(distinct values × 5) and the pair join fans out ≤4 rows per
    distinct value — shuffle ∝ distinct values, the same demotion as
    ``stats_cvm_test``."""
    v = load_table(spark, sf_dir, "orders").select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
    )
    # Round-11 opt pass measured and rejected: hash-repartition on cents
    # + an eager checkpoint of this five-consumer histogram — the five
    # recomputed subtrees overlap as parallel stages inside the one job
    # on a saturated box, while the checkpoint serializes them into extra
    # jobs (interleaved best-of-6: old 1.81 s, medicine 2.10 s).
    grp = v.groupBy("cents", "g").agg(F.count(F.lit(1)).cast("long").alias("c"))
    dense = (
        grp.select("cents")
        .distinct()
        .crossJoin(
            F.broadcast(spark.range(1, 6).select(F.col("id").cast("int").alias("g")))
        )
        .join(grp, ["cents", "g"], "left")
        .select("cents", "g", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    w_lt = Window.partitionBy("g").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = dense.select(
        "cents", "g", "c", F.coalesce(F.sum("c").over(w_lt), F.lit(0)).alias("cumlt")
    )
    a = cum.select(
        F.col("cents").alias("a_cents"),
        F.col("g").alias("a_g"),
        F.col("c").alias("a_c"),
        "cumlt",
    )
    b = grp.select(
        F.col("cents").alias("b_cents"),
        F.col("g").alias("b_g"),
        F.col("c").alias("b_c"),
    )
    j2 = a.join(
        b, (F.col("a_cents") == F.col("b_cents")) & (F.col("a_g") < F.col("b_g"))
    ).agg(
        F.sum(
            2 * F.col("b_c") * F.col("cumlt") + F.col("a_c") * F.col("b_c")
        )
        .cast("long")
        .alias("j2")
    )
    gsz = grp.groupBy("g").agg(F.sum("c").cast("long").alias("c"))
    sizes = gsz.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2sum"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("s2n"),
        F.sum(F.col("c") * (F.col("c") - 1) * (F.col("c") - 2))
        .cast("long")
        .alias("s3n"),
        F.sum(F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5))
        .cast("long")
        .alias("s25n"),
    )
    tsz = grp.groupBy("cents").agg(F.sum("c").cast("long").alias("t"))
    ties = tsz.agg(
        F.sum(F.col("t") * (F.col("t") - 1)).cast("long").alias("s2t"),
        F.sum(F.col("t") * (F.col("t") - 1) * (F.col("t") - 2))
        .cast("long")
        .alias("s3t"),
        F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
        .cast("long")
        .alias("s25t"),
        F.sum(F.when(F.col("t") > 1, 1).otherwise(0))
        .cast("long")
        .alias("tie_values"),
    )
    n = F.col("n")
    var_expr = (
        (
            n * (n - 1) * (2 * n + 5) - F.col("s25n") - F.col("s25t")
        ).cast("double")
        / 72
        + (F.col("s3n").cast("decimal(38,0)") * F.col("s3t")).cast("double")
        / (F.lit(36.0) * n * (n - 1) * (n - 2))
        + (F.col("s2n").cast("decimal(38,0)") * F.col("s2t")).cast("double")
        / (F.lit(8.0) * n * (n - 1))
    )
    e2 = (n * n - F.col("s2sum")) / 2
    return (
        j2.crossJoin(F.broadcast(sizes))
        .crossJoin(F.broadcast(ties))
        .select(
            n.alias("n_total"),
            F.col("tie_values"),
            (F.col("j2").cast("double") / 2).alias("j_stat"),
            e2.cast("double").alias("e_j"),
            F.round(var_expr, 4).alias("var_j"),
            F.round(
                (F.col("j2") - e2) / (F.lit(2.0) * F.sqrt(var_expr)), 4
            ).alias("z"),
        )
    )


def _harmonic_gs(spark: SparkSession, n_total: int) -> DataFrame:
    """Shared Scholz–Stephens null-variance ingredients: a 1-row frame
    ``[gq long, hqsum long]`` where hqsum = Σ_{i=1}^{N−1} floor(1e12/i)
    (the quantized harmonic number h = H_{N−1} scaled 1e12) and
    gq = Σ_{i≤N−2} floor((hqsum − hp_i)/1e12/(N−i)·1e9) (the double sum
    g = Σ_{i<j} 1/((N−i)j) scaled 1e9, folded from the same quantized
    integers the DuckDB oracles express). Used by the 2-sample
    ``stats_anderson_darling`` and the k-sample ``stats_ad_ksample``.

    The sequence is fully deterministic given N, so the O(N) element
    work never has to exist as Spark ROWS: decompose into ≤4096
    contiguous id blocks (block width grows with N, so the BLOCK frame
    is bounded by construction — the global prefix window over it is
    the same allowlisted shape as the two-level helper's bucket frame)
    and run each block's fold as vectorized numpy inside mapInPandas,
    chunked at 1M ids so per-task memory stays constant at any block
    width. Arithmetic is the same IEEE-double divide + floor + int64
    accumulate the windowed SQL expresses — bit-identical. (Also
    benched in round 7 and rejected: a two-shuffle N-row frame and a
    codegen-HOF ``aggregate`` over ``sequence`` — per-stage overhead
    resp. interpreted per-element HOF cost both lost to this shape.)"""
    n_h = n_total - 1  # harmonic ids 1..N-1
    nblk = min(4096, max(1, -(-n_h // 32768)))
    blk_w = -(-n_h // nblk)

    def _hblock_sums(batches):
        import pandas as pd

        for pdf in batches:
            bs = pdf["id"].to_numpy()
            out = np.empty(len(bs), dtype=np.int64)
            for j, b in enumerate(bs):
                lo, hi = b * blk_w + 1, min((b + 1) * blk_w, n_h)
                s = np.int64(0)
                for c0 in range(lo, hi + 1, 1_000_000):
                    ids = np.arange(c0, min(c0 + 999_999, hi) + 1)
                    s += np.floor(1e12 / ids).astype(np.int64).sum()
                out[j] = s
            yield pd.DataFrame({"hb": bs, "bsum": out})

    def _hblock_g(batches):
        import pandas as pd

        for pdf in batches:
            gq = np.empty(len(pdf), dtype=np.int64)
            for j in range(len(pdf)):
                b = int(pdf["hb"].iloc[j])
                hs = np.int64(pdf["hqsum"].iloc[j])
                run = np.int64(pdf["off"].iloc[j])
                lo, hi = b * blk_w + 1, min((b + 1) * blk_w, n_h)
                acc = np.int64(0)
                for c0 in range(lo, hi + 1, 1_000_000):
                    ids = np.arange(c0, min(c0 + 999_999, hi) + 1)
                    hq = np.floor(1e12 / ids).astype(np.int64)
                    hp = run + np.cumsum(hq)
                    run = hp[-1]
                    m = ids <= n_total - 2
                    acc += (
                        np.floor(
                            (hs - hp[m]).astype(np.float64)
                            / 1e12
                            / (n_total - ids[m]).astype(np.float64)
                            * 1e9
                        )
                        .astype(np.int64)
                        .sum()
                    )
                gq[j] = acc
            yield pd.DataFrame(
                {"gq": gq, "hqsum": pdf["hqsum"].to_numpy()}
            )

    blk1 = spark.range(nblk).mapInPandas(_hblock_sums, "hb long, bsum long")
    w_h = Window.orderBy("hb")
    pre_h = blk1.select(
        "hb",
        F.coalesce(
            F.sum("bsum").over(
                w_h.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("off"),
        F.sum("bsum")
        .over(
            w_h.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("hqsum"),
    )
    return pre_h.mapInPandas(_hblock_g, "gq long, hqsum long").agg(
        F.sum("gq").cast("long").alias("gq"),
        F.max("hqsum").alias("hqsum"),
    )


@register(
    "stats_anderson_darling",
    """
    WITH v AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_x,
               CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS cents
        FROM lineitem WHERE l_returnflag IN ('R', 'A')
    ), grp AS (
        SELECT cents, CAST(COUNT(*) AS BIGINT) AS l,
               CAST(SUM(is_x) AS BIGINT) AS cx
        FROM v GROUP BY cents
    ), tot AS (
        SELECT CAST(SUM(l) AS BIGINT) AS n_all,
               CAST(SUM(cx) AS BIGINT) AS nx
        FROM grp
    ), cum AS (
        SELECT l,
               SUM(l) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS b,
               SUM(cx) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS mx
        FROM grp
    ), a2 AS (
        SELECT CAST(SUM(CAST(FLOOR(l * (
                   CAST(CAST(n_all * mx - nx * b AS HUGEINT)
                        * (n_all * mx - nx * b) AS DOUBLE)
                   / (CAST(b AS DOUBLE) * (n_all - b))) * 1e9)
               AS BIGINT)) AS HUGEINT) AS qsum
        FROM cum CROSS JOIN tot WHERE b < n_all
    ), harm AS (
        SELECT i, CAST(FLOOR(1e12 / i) AS BIGINT) AS hq, n_all
        FROM (SELECT ROW_NUMBER() OVER () AS i FROM v) seq
        CROSS JOIN tot WHERE i <= n_all - 1
    ), hpre AS (
        SELECT i, n_all,
               SUM(hq) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS hp,
               SUM(hq) OVER () AS hsum
        FROM harm
    ), gs AS (
        SELECT CAST(SUM(CASE WHEN i <= n_all - 2 THEN
                   CAST(FLOOR((hsum - hp) / 1e12 / (n_all - i) * 1e9)
                        AS BIGINT) ELSE 0 END) AS BIGINT) AS gq,
               MAX(hsum) AS hqsum
        FROM hpre
    ), sc AS (
        SELECT t.nx, t.n_all - t.nx AS ny,
               CAST(t.n_all AS DOUBLE) AS nd,
               (a.qsum / 1e9) / t.nx / (t.n_all - t.nx) AS a2u,
               g.hqsum / 1e12 AS h,
               g.gq / 1e9 AS g,
               1.0 / t.nx + 1.0 / (t.n_all - t.nx) AS hh
        FROM tot t CROSS JOIN a2 a CROSS JOIN gs g
    ), sc2 AS (
        SELECT nx, ny, a2u, nd,
               ((4 * g - 6) + (10 - 6 * g) * hh) * nd * nd * nd AS va,
               ((2 * g - 4) * 4 + 16 * h + (2 * g - 14 * h - 4) * hh
                - 8 * h + 4 * g - 6) * nd * nd AS vb,
               ((6 * h + 2 * g - 2) * 4 + (4 * h - 4 * g + 6) * 2
                + (2 * h - 6) * hh + 4 * h) * nd AS vc
        FROM sc
    )
    SELECT nx AS n_x, ny AS n_y,
           ROUND(a2u, 6) AS a2_stat,
           ROUND(SQRT((va + vb + vc + 24.0)
                      / ((nd - 1) * (nd - 2) * (nd - 3))), 6) AS sigma,
           ROUND((a2u - 1.0)
                 / SQRT((va + vb + vc + 24.0)
                        / ((nd - 1) * (nd - 2) * (nd - 3))), 4) AS t_std
    FROM sc2
    """,
)
def stats_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson–Darling test (Scholz–Stephens '87 A²_kN, k=2)
    on returned-vs-available line revenues — weights the CDF gap by
    1/(F(1−F)) so the TAILS count, complementing ``stats_ks_test``
    (max gap) and ``stats_cvm_test`` (mean square gap). Because
    Mx+My=B and n+m=N imply N·My−m·B = −(N·Mx−n·B), the two per-sample
    inner sums share one squared gap, so A² = (1/(nm))·Σ_j l_j·D_j²/
    (B_j(N−B_j)) over the distinct-value frame with D = N·Mx − n·B
    (D² carried in 128-bit, each term floor-quantized at 1e-9 and
    summed as integers into a 128-bit accumulator — the quantized sum
    itself passes 2⁶³ at sf0.1). The null standardization is the full
    Scholz–Stephens variance: harmonic numbers h=H_{N−1} and the
    double sum g=Σ(H_{N−1}−H_i)/(N−i) are folded from EXACT
    floor(1e12/i) integers (prefix-stitched in 8192-row chunks on the
    Spark side, so no global single-task sort), then σ²_N =
    (aN³+bN²+cN+d)/((N−1)(N−2)(N−3)) with the k=2 coefficients and
    T = (A²−1)/σ.

    Scale: fact rows reduce once to distinct cents; the harmonic frame
    is O(N) of pure integers with partitioned windows only; everything
    else is broadcast scalar algebra."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    v = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_x"),
        F.floor(F.col("l_extendedprice") * 100.0).cast("long").alias("cents"),
    )
    # The one driver action: a single global aggregate over the filtered
    # projection yields EVERY scalar the rest of the plan needs (N to
    # size the harmonic range, n_x for the normalizations, the cents
    # bounds for the bucket grid). Round-7 perf fix: replaces a separate
    # v.count() action plus two broadcast-tot crossJoins — every later
    # use of N / n_x is a folded constant.
    trow = v.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("is_x").cast("long").alias("nx"),
        F.min("cents").alias("c_lo"),
        F.max("cents").alias("c_hi"),
    ).first()
    n_total, nx_c = int(trow["n_all"]), int(trow["nx"])
    c_lo, c_hi = int(trow["c_lo"]), int(trow["c_hi"])
    # Pooled cumulatives over the distinct-cents frame (391k rows at
    # sf0.1) in ONE full-frame shuffle (round-7, replacing the shared
    # two-level helper's groupBy-then-window pair): bucket ids are
    # computed row-side from the known bounds, the raw rows repartition
    # by bucket ONCE, and then the (bucket, cents) dedup-aggregate, the
    # per-bucket totals, and the within-bucket cumulative windows all
    # satisfy their distributions from that same hash partitioning —
    # Catalyst inserts no further exchange (subset-of-grouping-keys
    # clustering). The only global window is the bucket-prefix pass over
    # the ≤4097-row bucket frame, bounded by construction at any scale.
    n_bk = 4096
    wdt_c = max((c_hi - c_lo) / float(n_bk), 1e-300)
    d = v.withColumn(
        "_b",
        F.least(
            F.floor((F.col("cents") - c_lo) / wdt_c),
            F.lit(n_bk).cast("long"),
        ),
    ).repartition("_b")
    grp2 = d.groupBy("_b", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("l"),
        F.sum("is_x").cast("long").alias("cx"),
    )
    bagg = grp2.groupBy("_b").agg(
        F.sum("l").alias("bl"), F.sum("cx").alias("bcx")
    )
    wpre_b = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    pre_b = bagg.select(
        "_b",
        F.coalesce(F.sum("bl").over(wpre_b), F.lit(0)).alias("pl"),
        F.coalesce(F.sum("bcx").over(wpre_b), F.lit(0)).alias("pcx"),
    )
    win_b = (
        Window.partitionBy("_b")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grp2.join(F.broadcast(pre_b), "_b").select(
        "l",
        (F.col("pl") + F.sum("l").over(win_b)).alias("b"),
        (F.col("pcx") + F.sum("cx").over(win_b)).alias("mx"),
    )
    d_gap = F.lit(n_total) * F.col("mx") - F.lit(nx_c) * F.col("b")
    a2 = (
        cum.filter(F.col("b") < n_total)
        .agg(
            F.sum(
                F.floor(
                    F.col("l")
                    * (
                        (d_gap.cast("decimal(38,0)") * d_gap).cast("double")
                        / (F.col("b").cast("double") * (F.lit(n_total) - F.col("b")))
                    )
                    * 1e9
                )
                .cast("long")
                .cast("decimal(38,0)")
            )
            .alias("qsum")
        )
    )
    gs = _harmonic_gs(spark, n_total)
    ny_c = n_total - nx_c
    sc = a2.crossJoin(F.broadcast(gs)).select(
        F.lit(nx_c).cast("long").alias("nx"),
        F.lit(ny_c).cast("long").alias("ny"),
        F.lit(float(n_total)).alias("nd"),
        ((F.col("qsum") / 1e9) / F.lit(nx_c) / F.lit(ny_c)).alias("a2u"),
        (F.col("hqsum") / 1e12).alias("h"),
        (F.col("gq") / 1e9).alias("g"),
        F.lit(1.0 / nx_c + 1.0 / ny_c).alias("hh"),
    )
    g, h, hh, nd = F.col("g"), F.col("h"), F.col("hh"), F.col("nd")
    sc2 = sc.select(
        "nx",
        "ny",
        "a2u",
        "nd",
        (((4 * g - 6) + (10 - 6 * g) * hh) * nd * nd * nd).alias("va"),
        (
            (
                (2 * g - 4) * 4
                + 16 * h
                + (2 * g - 14 * h - 4) * hh
                - 8 * h
                + 4 * g
                - 6
            )
            * nd
            * nd
        ).alias("vb"),
        (
            (
                (6 * h + 2 * g - 2) * 4
                + (4 * h - 4 * g + 6) * 2
                + (2 * h - 6) * hh
                + 4 * h
            )
            * nd
        ).alias("vc"),
    )
    var = (F.col("va") + F.col("vb") + F.col("vc") + 24.0) / (
        (F.col("nd") - 1) * (F.col("nd") - 2) * (F.col("nd") - 3)
    )
    return sc2.select(
        F.col("nx").alias("n_x"),
        F.col("ny").alias("n_y"),
        F.round(F.col("a2u"), 6).alias("a2_stat"),
        F.round(F.sqrt(var), 6).alias("sigma"),
        F.round((F.col("a2u") - 1.0) / F.sqrt(var), 4).alias("t_std"),
    )


@register(
    "stats_yuen_trimmed_t",
    """
    WITH v AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_x,
               CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS cents
        FROM lineitem WHERE l_returnflag IN ('R', 'A')
    ), grp AS (
        SELECT is_x, cents, CAST(COUNT(*) AS BIGINT) AS c
        FROM v GROUP BY is_x, cents
    ), tot AS (
        SELECT is_x, CAST(SUM(c) AS BIGINT) AS n,
               CAST(FLOOR(0.2 * SUM(c)) AS BIGINT) AS g
        FROM grp GROUP BY is_x
    ), cum AS (
        SELECT g.is_x, g.cents, g.c, t.n, t.g,
               COALESCE(SUM(g.c) OVER (PARTITION BY g.is_x ORDER BY g.cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cumprev,
               SUM(g.c) OVER (PARTITION BY g.is_x ORDER BY g.cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM grp g JOIN tot t ON t.is_x = g.is_x
    ), stats AS (
        SELECT is_x, MAX(n) AS n, MAX(g) AS g,
               CAST(SUM(GREATEST(0, LEAST(cum, n - g)
                        - GREATEST(cumprev, g)) * cents) AS BIGINT) AS ts,
               CAST(SUM(CAST(GREATEST(0, LEAST(cum, n - g)
                        - GREATEST(cumprev, g)) * cents AS HUGEINT)
                        * cents) AS HUGEINT) AS tss,
               MIN(CASE WHEN cum >= g + 1 THEN cents END) AS lo,
               MIN(CASE WHEN cum >= n - g THEN cents END) AS hi
        FROM cum GROUP BY is_x
    ), w AS (
        SELECT is_x, n, g, n - 2 * g AS h,
               CAST(ts AS DOUBLE) / (n - 2 * g) AS tmean,
               (CAST(tss + CAST(g AS HUGEINT) * lo * lo
                     + CAST(g AS HUGEINT) * hi * hi AS DOUBLE)
                - CAST(ts + g * (lo + hi) AS DOUBLE)
                  * (ts + g * (lo + hi)) / n) / (n - 1) AS s2w
        FROM stats
    ), pair AS (
        SELECT x.n AS n_x, y.n AS n_y, x.h AS h_x, y.h AS h_y,
               x.tmean AS tm_x, y.tmean AS tm_y,
               x.s2w * (x.n - 1) / (x.h * (x.h - 1.0)) AS d_x,
               y.s2w * (y.n - 1) / (y.h * (y.h - 1.0)) AS d_y
        FROM (SELECT * FROM w WHERE is_x = 1) x
        CROSS JOIN (SELECT * FROM w WHERE is_x = 0) y
    )
    SELECT n_x, n_y, h_x, h_y,
           ROUND(tm_x, 4) AS tmean_cents_x,
           ROUND(tm_y, 4) AS tmean_cents_y,
           ROUND((tm_x - tm_y) / SQRT(d_x + d_y), 4) AS t_yuen,
           ROUND((d_x + d_y) * (d_x + d_y)
                 / (d_x * d_x / (h_x - 1) + d_y * d_y / (h_y - 1)), 2)
               AS df
    FROM pair
    """,
)
def stats_yuen_trimmed_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yuen's trimmed-mean t-test (Yuen '74, 20% trim) on returned vs
    available line revenues — the robust alternative to
    ``stats_welch_t`` when tails are heavy. The boundary order
    statistics lo = x₍g+1₎ and hi = x₍n−g₎ come from
    ``grouped_order_statistics``; clipping every value to [lo, hi] then
    gives the winsorized sum Σclip = ts + g·(lo+hi) and sum of squares
    Σclip² = tss + g·(lo²+hi²) (128-bit — cents² sums pass 2⁶³ at
    sf0.1), so the trimmed sum ts and both moments are exact integers.
    The Yuen standard error d_i = s²_w(n−1)/(h(h−1)) and
    Welch–Satterthwaite df then fold in plain double algebra mirrored
    expression-for-expression in the oracle.

    Scale: the primitive's bucket pass and target-bucket slice (shuffle
    ∝ bucket cells plus the target buckets' distinct values, no
    per-value frame) plus one clipped map-side aggregate — three scans
    of the filtered lineitem."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    v = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_x"),
        F.floor(F.col("l_extendedprice") * 100.0).cast("long").alias("cents"),
    )

    def _g(n):
        return F.floor(0.2 * n).cast("long")

    # documented-superset domain: cents < 2e7 at every SF (OPTIMIZATION_r12.md)
    th = grouped_order_statistics(
        v.withColumn("c", F.lit(1)),
        "is_x",
        "cents",
        "c",
        {"lo": lambda n: _g(n) + 1, "hi": lambda n: n - _g(n)},
        bounds={0: (0, 2e7), 1: (0, 2e7)},
    )
    clip = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("cents")))
    stats = (
        v.join(F.broadcast(th), "is_x")
        .groupBy("is_x", "n", "lo", "hi")
        .agg(
            F.sum(clip).cast("long").alias("sw"),
            F.sum(clip.cast("decimal(38,0)") * clip).alias("ssw"),
        )
        .withColumn("g", _g(F.col("n")))
    )
    g_, n_ = F.col("g"), F.col("n")
    w = stats.select(
        "is_x",
        "n",
        "g",
        (n_ - 2 * g_).alias("h"),
        (
            (F.col("sw") - g_ * (F.col("lo") + F.col("hi"))).cast("double")
            / (n_ - 2 * g_)
        ).alias("tmean"),
        (
            (
                F.col("ssw").cast("double")
                - F.col("sw").cast("double") * F.col("sw") / n_
            )
            / (n_ - 1)
        ).alias("s2w"),
    )
    x = w.filter(F.col("is_x") == 1).select(
        F.col("n").alias("n_x"),
        F.col("h").alias("h_x"),
        F.col("tmean").alias("tm_x"),
        (
            F.col("s2w") * (F.col("n") - 1) / (F.col("h") * (F.col("h") - F.lit(1.0)))
        ).alias("d_x"),
    )
    y = w.filter(F.col("is_x") == 0).select(
        F.col("n").alias("n_y"),
        F.col("h").alias("h_y"),
        F.col("tmean").alias("tm_y"),
        (
            F.col("s2w") * (F.col("n") - 1) / (F.col("h") * (F.col("h") - F.lit(1.0)))
        ).alias("d_y"),
    )
    dx, dy = F.col("d_x"), F.col("d_y")
    return x.crossJoin(F.broadcast(y)).select(
        "n_x",
        "n_y",
        "h_x",
        "h_y",
        F.round(F.col("tm_x"), 4).alias("tmean_cents_x"),
        F.round(F.col("tm_y"), 4).alias("tmean_cents_y"),
        F.round((F.col("tm_x") - F.col("tm_y")) / F.sqrt(dx + dy), 4).alias(
            "t_yuen"
        ),
        F.round(
            (dx + dy) * (dx + dy)
            / (dx * dx / (F.col("h_x") - 1) + dy * dy / (F.col("h_y") - 1)),
            2,
        ).alias("df"),
    )


@register(
    "stats_mood_scale",
    """
    WITH v AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_x,
               CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS cents
        FROM lineitem WHERE l_returnflag IN ('R', 'A')
    ), grp AS (
        SELECT cents, CAST(COUNT(*) AS BIGINT) AS t,
               CAST(SUM(is_x) AS BIGINT) AS cx
        FROM v GROUP BY cents
    ), tot AS (
        SELECT CAST(SUM(t) AS BIGINT) AS n_all,
               CAST(SUM(cx) AS BIGINT) AS nx,
               CAST(SUM(CASE WHEN t > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS tie_values
        FROM grp
    ), cum AS (
        SELECT t, cx,
               COALESCE(SUM(t) OVER (ORDER BY cents ROWS BETWEEN
                   UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
        FROM grp
    ), m4 AS (
        SELECT CAST(SUM(cx * (2 * base + t - n_all)
                        * (2 * base + t - n_all)) AS BIGINT) AS m4
        FROM cum CROSS JOIN tot
    )
    SELECT t.nx AS n_x, t.n_all - t.nx AS n_y, t.tie_values,
           ROUND(m.m4 / 4.0, 4) AS m_stat,
           ROUND(CAST(t.nx AS DOUBLE)
                 * (CAST(t.n_all AS DOUBLE) * t.n_all - 1) / 12, 4) AS e_m,
           ROUND((m.m4 / 4.0
                  - CAST(t.nx AS DOUBLE)
                    * (CAST(t.n_all AS DOUBLE) * t.n_all - 1) / 12)
                 / SQRT(CAST(t.nx AS DOUBLE) * (t.n_all - t.nx)
                        * (t.n_all + 1)
                        * (CAST(t.n_all AS DOUBLE) * t.n_all - 4) / 180),
                 4) AS z
    FROM m4 m CROSS JOIN tot t
    """,
)
def stats_mood_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's two-sample scale test on returned vs available line
    revenues: M = Σ_{i∈X} (rᵢ − (N+1)/2)² over pooled midranks —
    detects dispersion differences where ``stats_mann_whitney``
    (location) stays blind. Within a tie group every X member shares
    the midrank base + (t+1)/2, so in HALF-UNITS the deviation is the
    INTEGER u = 2·base + t − N and M = Σ cx·u²/4 folds exactly over
    the distinct-value frame (one 4M just before the final divide).
    E[M] = n(N²−1)/12 and Var[M] = nm(N+1)(N²−4)/180 are the
    continuous-null moments (N⁴-scale, folded as doubles); tie_values
    is exposed so the reader can judge the midrank approximation, the
    same H0-reference discipline as ``stats_cvm_test``.

    Scale: shuffle ∝ distinct cent values; one unpartitioned window
    over the grouped frame only."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    v = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_x"),
        F.floor(F.col("l_extendedprice") * 100.0).cast("long").alias("cents"),
    )
    grp = v.groupBy("cents").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum("is_x").cast("long").alias("cx"),
    )
    tot = grp.agg(
        F.sum("t").cast("long").alias("n_all"),
        F.sum("cx").cast("long").alias("nx"),
        F.sum(F.when(F.col("t") > 1, 1).otherwise(0))
        .cast("long")
        .alias("tie_values"),
    )
    # round-6 window-audit fix: bucketed two-level cumulative over the
    # distinct-value frame (inclusive minus own t = the exclusive base)
    cum = with_global_order(grp, "cents", cumsums={"ct": "t"}).select(
        "t", "cx", (F.col("ct") - F.col("t")).alias("base")
    )
    u = 2 * F.col("base") + F.col("t") - F.col("n_all")
    m4 = cum.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.col("cx") * u * u).cast("long").alias("m4")
    )
    nxd = F.col("nx").cast("double")
    nd = F.col("n_all").cast("double")
    e_m = nxd * (nd * F.col("n_all") - 1) / 12
    var_m = (
        nxd
        * (F.col("n_all") - F.col("nx"))
        * (F.col("n_all") + 1)
        * (nd * F.col("n_all") - 4)
        / 180
    )
    return m4.crossJoin(F.broadcast(tot)).select(
        F.col("nx").alias("n_x"),
        (F.col("n_all") - F.col("nx")).alias("n_y"),
        F.col("tie_values"),
        F.round(F.col("m4") / 4.0, 4).alias("m_stat"),
        F.round(e_m, 4).alias("e_m"),
        F.round((F.col("m4") / 4.0 - e_m) / F.sqrt(var_m), 4).alias("z"),
    )


@register(
    "stats_brunner_munzel",
    """
    WITH v AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS s,
               CAST(l_quantity AS BIGINT) AS q
        FROM lineitem WHERE l_returnflag IN ('R', 'A')
    ), grp AS (
        SELECT q, s, CAST(COUNT(*) AS BIGINT) AS c
        FROM v GROUP BY q, s
    ), pooled AS (
        SELECT q, CAST(SUM(c) AS BIGINT) AS t FROM grp GROUP BY q
    ), cumpool AS (
        SELECT q, t,
               COALESCE(SUM(t) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED
                   PRECEDING AND 1 PRECEDING), 0) AS base
        FROM pooled
    ), cumgrp AS (
        SELECT g.q, g.s, g.c,
               COALESCE(SUM(g.c) OVER (PARTITION BY g.s ORDER BY g.q
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS ibase
        FROM grp g
    ), joined AS (
        SELECT cg.s, cg.c, cp.t, cp.base, cg.ibase
        FROM cumgrp cg JOIN cumpool cp ON cp.q = cg.q
    ), persample AS (
        SELECT s, CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * (2 * base + t + 1)) AS BIGINT) AS sum2r,
               CAST(SUM(c * (2 * (base - ibase) + t - c)
                        * (2 * (base - ibase) + t - c)) AS BIGINT)
                   AS sum4dev
        FROM joined GROUP BY s
    ), sc AS (
        SELECT x.n AS n1, y.n AS n2,
               CAST(x.sum2r AS DOUBLE) / (2 * x.n) AS rbar1,
               CAST(y.sum2r AS DOUBLE) / (2 * y.n) AS rbar2,
               (x.sum4dev / 4.0
                - x.n * (CAST(x.sum2r AS DOUBLE) / (2 * x.n)
                         - (x.n + 1) / 2.0)
                      * (CAST(x.sum2r AS DOUBLE) / (2 * x.n)
                         - (x.n + 1) / 2.0)) / (x.n - 1) AS s2_1,
               (y.sum4dev / 4.0
                - y.n * (CAST(y.sum2r AS DOUBLE) / (2 * y.n)
                         - (y.n + 1) / 2.0)
                      * (CAST(y.sum2r AS DOUBLE) / (2 * y.n)
                         - (y.n + 1) / 2.0)) / (y.n - 1) AS s2_2
        FROM (SELECT * FROM persample WHERE s = 1) x
        CROSS JOIN (SELECT * FROM persample WHERE s = 0) y
    )
    SELECT n1 AS n_x, n2 AS n_y,
           ROUND((rbar2 - (n2 + 1) / 2.0) / n1, 6) AS p_hat,
           ROUND(CAST(n1 AS DOUBLE) * n2 * (rbar2 - rbar1)
                 / ((n1 + n2) * SQRT(n1 * s2_1 + n2 * s2_2)), 4) AS w_bm,
           ROUND((n1 * s2_1 + n2 * s2_2) * (n1 * s2_1 + n2 * s2_2)
                 / (n1 * s2_1 * (n1 * s2_1) / (n1 - 1)
                    + n2 * s2_2 * (n2 * s2_2) / (n2 - 1)), 2) AS df
    FROM sc
    """,
)
def stats_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner–Munzel heteroscedastic rank test (Brunner & Munzel 2000)
    on line quantities, returned vs available — the tie-robust,
    unequal-variance replacement for Mann–Whitney, on a column with
    only ~50 distinct values (maximally tie-heavy on purpose). Within
    a tie group every member of sample i shares both the pooled
    midrank base+(t+1)/2 and the within-sample midrank ibase+(c+1)/2,
    so in HALF-UNITS 2R = 2·base+t+1 and 2(R−R*) = 2(base−ibase)+t−c
    are INTEGERS and the rank means and the S²ᵢ deviation sums fold
    exactly over the O(50) grouped frame (the R̄ᵢ recentering term is
    subtracted in closed form). Statistic and Satterthwaite df follow
    the standard implementation: W = n₁n₂(R̄₂−R̄₁)/(N√(n₁S₁²+n₂S₂²)),
    p̂ = (R̄₂−(n₂+1)/2)/n₁ — the relative effect P(X<Y)+½P(X=Y).

    Scale: one shuffle to (quantity, sample) counts; every window runs
    over ≤2·distinct-quantity rows."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    v = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("s"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    grp = v.groupBy("q", "s").agg(F.count(F.lit(1)).cast("long").alias("c"))
    pooled = grp.groupBy("q").agg(F.sum("c").cast("long").alias("t"))
    w_pool = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    cumpool = pooled.select(
        "q", "t", F.coalesce(F.sum("t").over(w_pool), F.lit(0)).alias("base")
    )
    w_grp = Window.partitionBy("s").orderBy("q").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cumgrp = grp.select(
        "q",
        "s",
        "c",
        F.coalesce(F.sum("c").over(w_grp), F.lit(0)).alias("ibase"),
    )
    joined = cumgrp.join(cumpool, "q")
    dev2 = 2 * (F.col("base") - F.col("ibase")) + F.col("t") - F.col("c")
    persample = joined.groupBy("s").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * (2 * F.col("base") + F.col("t") + 1))
        .cast("long")
        .alias("sum2r"),
        F.sum(F.col("c") * dev2 * dev2).cast("long").alias("sum4dev"),
    )
    def _side(sval: int, suffix: str):
        p = persample.filter(F.col("s") == sval)
        rbar = F.col("sum2r").cast("double") / (2 * F.col("n"))
        dev = rbar - (F.col("n") + 1) / F.lit(2.0)
        return p.select(
            F.col("n").alias(f"n{suffix}"),
            rbar.alias(f"rbar{suffix}"),
            (
                (F.col("sum4dev") / 4.0 - F.col("n") * dev * dev)
                / (F.col("n") - 1)
            ).alias(f"s2_{suffix}"),
        )
    sc = _side(1, "1").crossJoin(F.broadcast(_side(0, "2")))
    n1, n2 = F.col("n1"), F.col("n2")
    s21, s22 = F.col("s2_1"), F.col("s2_2")
    pooled_var = n1 * s21 + n2 * s22
    return sc.select(
        n1.alias("n_x"),
        n2.alias("n_y"),
        F.round((F.col("rbar2") - (n2 + 1) / F.lit(2.0)) / n1, 6).alias("p_hat"),
        F.round(
            n1.cast("double") * n2 * (F.col("rbar2") - F.col("rbar1"))
            / ((n1 + n2) * F.sqrt(pooled_var)),
            4,
        ).alias("w_bm"),
        F.round(
            pooled_var * pooled_var
            / (
                n1 * s21 * (n1 * s21) / (n1 - 1)
                + n2 * s22 * (n2 * s22) / (n2 - 1)
            ),
            2,
        ).alias("df"),
    )


@register(
    "ml_mcc_fbeta",
    """
    WITH s AS (
        SELECT (event_type = 'purchase') AS y,
               (value >= 100.0) AS pred
        FROM events
    ), c AS (
        SELECT CAST(COUNT(*) FILTER (WHERE y AND pred) AS BIGINT) AS tp,
               CAST(COUNT(*) FILTER (WHERE NOT y AND pred) AS BIGINT) AS fp,
               CAST(COUNT(*) FILTER (WHERE y AND NOT pred) AS BIGINT) AS fn,
               CAST(COUNT(*) FILTER (WHERE NOT y AND NOT pred) AS BIGINT)
                   AS tn
        FROM s
    )
    SELECT tp, fp, fn, tn,
           ROUND((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                 / SQRT(CAST(tp + fp AS DOUBLE) * (tp + fn)
                        * (tn + fp) * (tn + fn)), 6) AS mcc,
           ROUND(5.0 * tp / (5.0 * tp + 4.0 * fn + fp), 6) AS f2,
           ROUND((CAST(tp AS DOUBLE) / (tp + fn)
                  + CAST(tn AS DOUBLE) / (tn + fp)) / 2, 6)
               AS balanced_accuracy,
           ROUND(CAST(tp AS DOUBLE) / (tp + fn)
                 + CAST(tn AS DOUBLE) / (tn + fp) - 1, 6) AS youden_j,
           ROUND(CAST(tp AS DOUBLE) / (tp + fp)
                 + CAST(tn AS DOUBLE) / (tn + fn) - 1, 6) AS markedness
    FROM c
    """,
)
def ml_mcc_fbeta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-robust classification metrics from the same confusion
    matrix as ``ml_confusion_matrix`` (purchase vs value ≥ 100):
    Matthews correlation (the binary Pearson φ — the one single-number
    summary that survives class imbalance), F₂ = 5tp/(5tp+4fn+fp)
    (recall-weighted F-beta, the triage/retrieval operating point),
    balanced accuracy, Youden's J (informedness = sensitivity +
    specificity − 1, the ROC-curve height actually achieved) and
    markedness (its precision-side dual; MCC² = J·markedness). Counts
    are exact integers from one conditional-aggregation pass; the
    MCC's four marginal products are folded as doubles only in the
    final scalar expression.

    Scale: one map-side-combinable aggregation over the fact table —
    no shuffle beyond the 4-cell reduce."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        (F.col("event_type") == "purchase").alias("y"),
        (F.col("value") >= 100.0).alias("pred"),
    )
    c = s.agg(
        F.count(F.when(F.col("y") & F.col("pred"), 1)).cast("long").alias("tp"),
        F.count(F.when(~F.col("y") & F.col("pred"), 1)).cast("long").alias("fp"),
        F.count(F.when(F.col("y") & ~F.col("pred"), 1)).cast("long").alias("fn"),
        F.count(F.when(~F.col("y") & ~F.col("pred"), 1)).cast("long").alias("tn"),
    )
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    return c.select(
        tp,
        fp,
        fn,
        tn,
        F.round(
            (tp.cast("double") * tn - fp.cast("double") * fn)
            / F.sqrt(
                (tp + fp).cast("double") * (tp + fn) * (tn + fp) * (tn + fn)
            ),
            6,
        ).alias("mcc"),
        F.round(5.0 * tp / (5.0 * tp + 4.0 * fn + fp), 6).alias("f2"),
        F.round(
            (tp.cast("double") / (tp + fn) + tn.cast("double") / (tn + fp)) / 2,
            6,
        ).alias("balanced_accuracy"),
        F.round(
            tp.cast("double") / (tp + fn) + tn.cast("double") / (tn + fp) - 1,
            6,
        ).alias("youden_j"),
        F.round(
            tp.cast("double") / (tp + fp) + tn.cast("double") / (tn + fn) - 1,
            6,
        ).alias("markedness"),
    )


@register(
    "stats_partial_corr",
    """
    WITH v AS (
        SELECT CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS x,
               CAST(l_quantity AS BIGINT) AS y,
               CAST(FLOOR(l_discount * 10000.0) AS BIGINT) AS z
        FROM lineitem
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(z) AS BIGINT) AS sz,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(z * z) AS BIGINT) AS szz,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * z) AS BIGINT) AS sxz,
               CAST(SUM(y * z) AS BIGINT) AS syz
        FROM v
    ), r AS (
        SELECT n,
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * sx)
                      * (CAST(n AS DOUBLE) * syy
                         - CAST(sy AS DOUBLE) * sy)) AS rxy,
               (CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
               / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * sx)
                      * (CAST(n AS DOUBLE) * szz
                         - CAST(sz AS DOUBLE) * sz)) AS rxz,
               (CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
               / SQRT((CAST(n AS DOUBLE) * syy
                       - CAST(sy AS DOUBLE) * sy)
                      * (CAST(n AS DOUBLE) * szz
                         - CAST(sz AS DOUBLE) * sz)) AS ryz
        FROM s
    )
    SELECT n, ROUND(rxy, 6) AS r_xy, ROUND(rxz, 6) AS r_xz,
           ROUND(ryz, 6) AS r_yz,
           ROUND((rxy - rxz * ryz)
                 / SQRT((1 - rxz * rxz) * (1 - ryz * ryz)), 6)
               AS r_xy_given_z
    FROM r
    """,
)
def stats_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation r_xy·z (revenue vs quantity,
    CONTROLLING for discount) via the recursion (r_xy − r_xz·r_yz)/
    √((1−r_xz²)(1−r_yz²)) — the profiler's answer to "is the
    price–quantity association real or driven by the discount policy?"
    (complements ``ml_covariance``'s raw association and
    ``stats_vif``'s multicollinearity screen). All ten sufficient
    moments are exact integers from ONE pass (cents, units, basis
    points; the one >2⁶³ moment Σx² in 128-bit), so the three Pearson
    correlations and the partialled coefficient are closed-form
    algebra with zero accumulation nondeterminism.

    Scale: a single map-side-combined aggregate over the fact table —
    no shuffle beyond the 10-cell reduce."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.floor(F.col("l_extendedprice") * 100.0).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
        F.floor(F.col("l_discount") * 10000.0).cast("long").alias("z"),
    )
    x, y, z = F.col("x"), F.col("y"), F.col("z")
    s = v.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(z).cast("long").alias("sz"),
        F.sum(x.cast("decimal(38,0)") * x).alias("sxx"),
        F.sum(y * y).cast("long").alias("syy"),
        F.sum(z * z).cast("long").alias("szz"),
        F.sum(x * y).cast("long").alias("sxy"),
        F.sum(x * z).cast("long").alias("sxz"),
        F.sum(y * z).cast("long").alias("syz"),
    )
    n = F.col("n").cast("double")
    vx = n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    vz = n * F.col("szz") - F.col("sz").cast("double") * F.col("sz")
    rxy = (n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / F.sqrt(
        vx * vy
    )
    rxz = (n * F.col("sxz") - F.col("sx").cast("double") * F.col("sz")) / F.sqrt(
        vx * vz
    )
    ryz = (n * F.col("syz") - F.col("sy").cast("double") * F.col("sz")) / F.sqrt(
        vy * vz
    )
    r = s.select(
        F.col("n"),
        rxy.alias("rxy"),
        rxz.alias("rxz"),
        ryz.alias("ryz"),
    )
    return r.select(
        "n",
        F.round(F.col("rxy"), 6).alias("r_xy"),
        F.round(F.col("rxz"), 6).alias("r_xz"),
        F.round(F.col("ryz"), 6).alias("r_yz"),
        F.round(
            (F.col("rxy") - F.col("rxz") * F.col("ryz"))
            / F.sqrt(
                (1 - F.col("rxz") * F.col("rxz"))
                * (1 - F.col("ryz") * F.col("ryz"))
            ),
            6,
        ).alias("r_xy_given_z"),
    )


@register(
    "ts_variance_ratio",
    """
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 10000.0) AS BIGINT))
                    AS BIGINT) AS rev_q
        FROM lineitem GROUP BY 1
    ), rets AS (
        SELECT CAST(FLOOR(LN(CAST(rev_q AS DOUBLE)
                             / LAG(rev_q) OVER (ORDER BY day)) * 1e6)
                    AS BIGINT) AS r,
               ROW_NUMBER() OVER (ORDER BY day) AS i
        FROM daily
    ), rr AS (
        SELECT r, i,
               SUM(r) OVER (ORDER BY i ROWS BETWEEN 1 PRECEDING
                            AND CURRENT ROW) AS s2,
               SUM(r) OVER (ORDER BY i ROWS BETWEEN 3 PRECEDING
                            AND CURRENT ROW) AS s4
        FROM rets WHERE r IS NOT NULL
    ), ag AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS t,
               CAST(SUM(r) AS BIGINT) AS sr,
               CAST(SUM(r * r) AS BIGINT) AS srr,
               CAST(COUNT(*) FILTER (WHERE i >= 3) AS BIGINT) AS t2,
               CAST(SUM(s2) FILTER (WHERE i >= 3) AS BIGINT) AS ss2,
               CAST(SUM(s2 * s2) FILTER (WHERE i >= 3) AS BIGINT) AS ss22,
               CAST(COUNT(*) FILTER (WHERE i >= 5) AS BIGINT) AS t4,
               CAST(SUM(s4) FILTER (WHERE i >= 5) AS BIGINT) AS ss4,
               CAST(SUM(s4 * s4) FILTER (WHERE i >= 5) AS BIGINT) AS ss44
        FROM rr
    ), sc AS (
        SELECT t,
               (CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * sr / t) / t
                   AS var1,
               (CAST(ss22 AS DOUBLE)
                - 2.0 * (CAST(sr AS DOUBLE) / t) * 2 * ss2
                + t2 * (CAST(sr AS DOUBLE) / t) * (CAST(sr AS DOUBLE) / t)
                  * 4) / t2 / 2 AS var2,
               (CAST(ss44 AS DOUBLE)
                - 2.0 * (CAST(sr AS DOUBLE) / t) * 4 * ss4
                + t4 * (CAST(sr AS DOUBLE) / t) * (CAST(sr AS DOUBLE) / t)
                  * 16) / t4 / 4 AS var4
        FROM ag
    )
    SELECT t AS n_returns,
           ROUND(var2 / var1, 6) AS vr2,
           ROUND((var2 / var1 - 1)
                 / SQRT(2.0 * (2 * 2 - 1) * (2 - 1) / (3.0 * 2 * t)), 4)
               AS z2,
           ROUND(var4 / var1, 6) AS vr4,
           ROUND((var4 / var1 - 1)
                 / SQRT(2.0 * (2 * 4 - 1) * (4 - 1) / (3.0 * 4 * t)), 4)
               AS z4
    FROM sc
    """,
)
def ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo–MacKinlay variance-ratio test (Lo & MacKinlay '88, simple
    overlapping homoscedastic form) on daily log revenue returns: if
    the series is a random walk, the variance of q-day sums is q× the
    one-day variance, so VR(q) → 1; VR < 1 flags mean reversion, > 1
    momentum — the standard efficient-markets diagnostic,
    complementing ``ts_hurst`` (which estimates the same departure as
    an exponent) and ``ml_autocorr``. Returns are 1e-6-quantized
    integers; the overlapping q-sums are EXACT integer window sums, so
    the three variances come from integer moments expanded as
    Σ(s−qμ)² = Σs² − 2qμΣs + T_q q²μ² with deterministic double
    algebra; z uses the asymptotic null sd √(2(2q−1)(q−1)/(3qT)).

    Scale: one aggregate to the O(days) series; lag/sliding windows
    run on that tiny ordered frame only."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 10000.0).cast("long"))
        .cast("long")
        .alias("rev_q")
    )
    w_ord = Window.orderBy("day")
    rets = daily.select(
        F.floor(
            F.log(
                F.col("rev_q").cast("double") / F.lag("rev_q").over(w_ord)
            )
            * 1e6
        )
        .cast("long")
        .alias("r"),
        F.row_number().over(w_ord).alias("i"),
    ).filter(F.col("r").isNotNull())
    w_i = Window.orderBy("i")
    rr = rets.select(
        "r",
        "i",
        F.sum("r").over(w_i.rowsBetween(-1, 0)).alias("s2"),
        F.sum("r").over(w_i.rowsBetween(-3, 0)).alias("s4"),
    )
    ag = rr.agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum("r").cast("long").alias("sr"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("srr"),
        F.count(F.when(F.col("i") >= 3, 1)).cast("long").alias("t2"),
        F.sum(F.when(F.col("i") >= 3, F.col("s2"))).cast("long").alias("ss2"),
        F.sum(F.when(F.col("i") >= 3, F.col("s2") * F.col("s2")))
        .cast("long")
        .alias("ss22"),
        F.count(F.when(F.col("i") >= 5, 1)).cast("long").alias("t4"),
        F.sum(F.when(F.col("i") >= 5, F.col("s4"))).cast("long").alias("ss4"),
        F.sum(F.when(F.col("i") >= 5, F.col("s4") * F.col("s4")))
        .cast("long")
        .alias("ss44"),
    )
    t = F.col("t")
    mu = F.col("sr").cast("double") / t
    var1 = (F.col("srr").cast("double") - F.col("sr").cast("double") * F.col("sr") / t) / t
    var2 = (
        (
            F.col("ss22").cast("double")
            - 2.0 * mu * 2 * F.col("ss2")
            + F.col("t2") * mu * mu * 4
        )
        / F.col("t2")
        / 2
    )
    var4 = (
        (
            F.col("ss44").cast("double")
            - 2.0 * mu * 4 * F.col("ss4")
            + F.col("t4") * mu * mu * 16
        )
        / F.col("t4")
        / 4
    )
    return ag.select(
        t.alias("n_returns"),
        F.round(var2 / var1, 6).alias("vr2"),
        F.round(
            (var2 / var1 - 1)
            / F.sqrt(2.0 * (2 * 2 - 1) * (2 - 1) / (3.0 * 2 * t)),
            4,
        ).alias("z2"),
        F.round(var4 / var1, 6).alias("vr4"),
        F.round(
            (var4 / var1 - 1)
            / F.sqrt(2.0 * (2 * 4 - 1) * (4 - 1) / (3.0 * 4 * t)),
            4,
        ).alias("z4"),
    )


@register(
    "spc_page_hinkley",
    """
    WITH daily AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), seq AS (
        SELECT day, x,
               ROW_NUMBER() OVER (ORDER BY day) AS i,
               SUM(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS cx
        FROM daily
    ), dev AS (
        SELECT day, i,
               CAST(FLOOR((x - CAST(cx AS DOUBLE) / i) * 1e9) AS BIGINT)
                   AS dq
        FROM seq
    ), m AS (
        SELECT day,
               SUM(dq) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS mt
        FROM dev
    ), ph AS (
        SELECT day,
               mt - MIN(mt) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS pht
        FROM m
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(MAX(pht) / 1e9, 6) AS max_ph,
           ROUND(MAX(CASE WHEN day = (SELECT MAX(day) FROM ph)
                          THEN pht END) / 1e9, 6) AS final_ph,
           CAST(COUNT(*) FILTER (WHERE pht > 100000000000) AS BIGINT)
               AS n_alarm_days,
           COALESCE(STRFTIME(MIN(CASE WHEN pht > 100000000000
                                      THEN day END), '%Y-%m-%d'), 'none')
               AS first_alarm_day
    FROM ph
    """,
)
def spc_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley upward-drift detector (Page '54; the streaming-ML
    drift monitor in MOA/river) over daily event counts: mₜ = Σ(xᵢ −
    x̄ᵢ) with x̄ᵢ the RUNNING mean, PHₜ = mₜ − min_{i≤t} mᵢ, alarm when
    PH exceeds λ = 100 events·days. Unlike ``spc_cusum``'s fixed
    reference value, the running-mean centering makes PH self-tuning —
    the right shape when no in-control target is known. Each deviation
    term is floor-quantized at 1e-9 (the running mean is the only
    rational), then mₜ, the running min, and PHₜ are EXACT integer
    window folds; the alarm threshold compares integers.

    Scale: one aggregate to the O(days) series; all windows run on
    that tiny ordered frame."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    w_ord = Window.orderBy("day")
    seq = daily.select(
        "day",
        "x",
        F.row_number().over(w_ord).alias("i"),
        F.sum("x")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cx"),
    )
    dev = seq.select(
        "day",
        "i",
        F.floor(
            (F.col("x") - F.col("cx").cast("double") / F.col("i")) * 1e9
        )
        .cast("long")
        .alias("dq"),
    )
    w_i = Window.orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    m = dev.select("day", F.sum("dq").over(w_i).alias("mt"))
    w_d = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ph = m.select(
        "day", (F.col("mt") - F.min("mt").over(w_d)).alias("pht")
    )
    last_day = ph.agg(F.max("day").alias("ld"))
    return (
        ph.crossJoin(F.broadcast(last_day))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.max("pht") / 1e9, 6).alias("max_ph"),
            F.round(
                F.max(
                    F.when(F.col("day") == F.col("ld"), F.col("pht"))
                )
                / 1e9,
                6,
            ).alias("final_ph"),
            F.count(F.when(F.col("pht") > 100000000000, 1))
            .cast("long")
            .alias("n_alarm_days"),
            F.coalesce(
                F.date_format(
                    F.min(
                        F.when(F.col("pht") > 100000000000, F.col("day"))
                    ),
                    "yyyy-MM-dd",
                ),
                F.lit("none"),
            ).alias("first_alarm_day"),
        )
    )


@register(
    "stats_concordance_ccc",
    """
    WITH pair AS (
        SELECT CAST(FLOOR(o.o_totalprice * 100.0) AS BIGINT) AS x,
               CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100.0) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_totalprice
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        FROM pair
    ), mo AS (
        SELECT n,
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / n
                   AS cxy,
               (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / n
                   AS vx,
               (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / n
                   AS vy,
               CAST(sx AS DOUBLE) / n - CAST(sy AS DOUBLE) / n AS dmean
        FROM s
    )
    SELECT n AS n_orders,
           ROUND(cxy / SQRT(vx * vy), 6) AS pearson_r,
           ROUND(2 * cxy / (vx + vy + dmean * dmean), 6) AS ccc,
           ROUND((2 * cxy / (vx + vy + dmean * dmean))
                 / (cxy / SQRT(vx * vy)), 6) AS bias_correction_cb,
           ROUND(dmean / 100.0, 4) AS mean_shift_dollars
    FROM mo
    """,
)
def stats_concordance_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin's concordance correlation coefficient (Lin '89) between two
    measurements of the same order value — the header's o_totalprice
    vs the Σ of its line extended prices: CCC = 2s_xy/(s_x²+s_y²+
    (x̄−ȳ)²) penalizes location/scale shift that plain Pearson r
    forgives, so CCC = r·C_b factors agreement into precision (r) and
    accuracy (the bias-correction C_b ≤ 1) — the method-comparison
    statistic for "does the rollup reproduce the header?"
    (reconciliation cousin of ``join_reconcile``; here the two totals
    deliberately differ by tax/discount, so C_b < 1 is the signal).
    Five exact integer moments in 128-bit from one pass; the rest is
    closed-form scalar algebra.

    Scale: one co-located orderkey join + partial→final aggregate;
    scalar reduce after that."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pair = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100.0).cast("long"))
            .cast("long")
            .alias("y")
        )
        .select(
            F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("x"),
            "y",
        )
    )
    x, y = F.col("x"), F.col("y")
    s = pair.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x.cast("decimal(38,0)") * x).alias("sxx"),
        F.sum(y.cast("decimal(38,0)") * y).alias("syy"),
        F.sum(x.cast("decimal(38,0)") * y).alias("sxy"),
    )
    n = F.col("n")
    cxy = (F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / n) / n
    vx = (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / n) / n
    vy = (F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / n) / n
    dmean = F.col("sx").cast("double") / n - F.col("sy").cast("double") / n
    mo = s.select(
        n,
        cxy.alias("cxy"),
        vx.alias("vx"),
        vy.alias("vy"),
        dmean.alias("dmean"),
    )
    r = F.col("cxy") / F.sqrt(F.col("vx") * F.col("vy"))
    ccc = 2 * F.col("cxy") / (
        F.col("vx") + F.col("vy") + F.col("dmean") * F.col("dmean")
    )
    return mo.select(
        F.col("n").alias("n_orders"),
        F.round(r, 6).alias("pearson_r"),
        F.round(ccc, 6).alias("ccc"),
        F.round(ccc / r, 6).alias("bias_correction_cb"),
        F.round(F.col("dmean") / 100.0, 4).alias("mean_shift_dollars"),
    )


@register(
    "stats_icc_oneway",
    """
    WITH v AS (
        SELECT l_partkey AS grp,
               CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS x
        FROM lineitem
    ), per AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        FROM v GROUP BY grp
        HAVING COUNT(*) >= 2
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS g,
               CAST(SUM(m) AS BIGINT) AS n,
               CAST(SUM(sx) AS BIGINT) AS tx,
               CAST(SUM(sxx) AS HUGEINT) AS txx,
               CAST(SUM(m * m) AS BIGINT) AS sm2,
               CAST(SUM(CAST(FLOOR(CAST(sx AS DOUBLE) * sx / m * 1e2)
                             AS BIGINT)) AS HUGEINT) AS groupterm_q
        FROM per
    ), an AS (
        SELECT g, n,
               (CAST(groupterm_q AS DOUBLE) / 1e2
                - CAST(tx AS DOUBLE) * tx / n) / (g - 1) AS msb,
               (CAST(txx AS DOUBLE)
                - CAST(groupterm_q AS DOUBLE) / 1e2) / (n - g) AS msw,
               (n - CAST(sm2 AS DOUBLE) / n) / (g - 1) AS k0
        FROM tot
    )
    SELECT g AS n_groups, n AS n_obs,
           ROUND(k0, 6) AS k0,
           ROUND(msb / 1e4, 4) AS msb_dollars2,
           ROUND(msw / 1e4, 4) AS msw_dollars2,
           ROUND((msb - msw) / (msb + (k0 - 1) * msw), 6) AS icc1
    FROM an
    """,
)
def stats_icc_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way random-effects intraclass correlation ICC(1,1)
    (Shrout & Fleiss '79) with parts as subjects and their line
    revenues as unequal-size repeated measures: how much of revenue
    variance is BETWEEN parts vs noise within a part — the reliability
    version of the variance decomposition ``stats_anova_oneway``
    reports as a test. Per-group sufficient stats (m, Σx, Σx²) are
    exact integers; the one unavoidable rational Σ(Σx)²/m is
    floor-quantized at 1e-2 cents² per group and folded in 128-bit, then
    MSB/MSW and the unequal-size correction k₀ = (N − Σm²/N)/(g−1)
    are scalar algebra; ICC = (MSB−MSW)/(MSB+(k₀−1)MSW).

    Scale: one partial→final aggregate to parts (shuffle ∝ parts),
    then a scalar reduce."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_partkey").alias("grp"),
        F.floor(F.col("l_extendedprice") * 100.0).cast("long").alias("x"),
    )
    per = (
        v.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum("x").cast("long").alias("sx"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        )
        .filter(F.col("m") >= 2)
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("g"),
        F.sum("m").cast("long").alias("n"),
        F.sum("sx").cast("long").alias("tx"),
        F.sum("sxx").alias("txx"),
        F.sum(F.col("m") * F.col("m")).cast("long").alias("sm2"),
        F.sum(
            F.floor(
                F.col("sx").cast("double") * F.col("sx") / F.col("m") * 1e2
            )
            .cast("long")
            .cast("decimal(38,0)")
        ).alias("groupterm_q"),
    )
    g, n = F.col("g"), F.col("n")
    msb = (
        F.col("groupterm_q").cast("double") / 1e2
        - F.col("tx").cast("double") * F.col("tx") / n
    ) / (g - 1)
    msw = (
        F.col("txx").cast("double") - F.col("groupterm_q").cast("double") / 1e2
    ) / (n - g)
    k0 = (n - F.col("sm2").cast("double") / n) / (g - 1)
    an = tot.select(
        g, n, msb.alias("msb"), msw.alias("msw"), k0.alias("k0")
    )
    return an.select(
        g.alias("n_groups"),
        n.alias("n_obs"),
        F.round(F.col("k0"), 6).alias("k0"),
        F.round(F.col("msb") / 1e4, 4).alias("msb_dollars2"),
        F.round(F.col("msw") / 1e4, 4).alias("msw_dollars2"),
        F.round(
            (F.col("msb") - F.col("msw"))
            / (F.col("msb") + (F.col("k0") - 1) * F.col("msw")),
            6,
        ).alias("icc1"),
    )


@register(
    "stats_krippendorff_alpha",
    """
    WITH r AS (
        SELECT l_orderkey AS unit, l_returnflag AS cat
        FROM lineitem
    ), cell AS (
        SELECT unit, cat, CAST(COUNT(*) AS BIGINT) AS c
        FROM r GROUP BY unit, cat
    ), units AS (
        SELECT unit, CAST(SUM(c) AS BIGINT) AS m,
               CAST(SUM(c * c) AS BIGINT) AS sc2
        FROM cell GROUP BY unit
        HAVING SUM(c) >= 2
    ), dobs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
               CAST(SUM(m) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(CAST(m * m - sc2 AS DOUBLE)
                                   / (m - 1) * 1e9) AS BIGINT))
                    AS BIGINT) AS doq
        FROM units
    ), cats AS (
        SELECT CAST(SUM(ct) AS BIGINT) AS sn2
        FROM (
            SELECT CAST(SUM(c.c) AS BIGINT) * CAST(SUM(c.c) AS BIGINT)
                   AS ct
            FROM cell c JOIN units u ON u.unit = c.unit
            GROUP BY c.cat
        )
    )
    SELECT d.n_units, d.n AS n_values,
           ROUND(d.doq / 1e9 / d.n, 6) AS d_observed,
           ROUND((CAST(d.n AS DOUBLE) * d.n - c.sn2)
                 / (CAST(d.n AS DOUBLE) * (d.n - 1)), 6) AS d_expected,
           ROUND(1 - (d.doq / 1e9 / d.n)
                 / ((CAST(d.n AS DOUBLE) * d.n - c.sn2)
                    / (CAST(d.n AS DOUBLE) * (d.n - 1))), 6) AS alpha
    FROM dobs d CROSS JOIN cats c
    """,
)
def stats_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal) treating each order as a UNIT and
    its line returnflags as ratings from interchangeable raters with
    MISSING DATA allowed (units with one line drop out; unequal rater
    counts are the normal case) — the agreement coefficient that
    generalizes ``stats_fleiss_kappa`` beyond fixed rater panels.
    α = 1 − D_o/D_e with within-unit disagreement D_o = (1/n)·Σ_u
    (m_u² − Σ_c n_uc²)/(m_u−1) (each unit's rational term
    floor-quantized at 1e-9, folded as integers) and chance
    disagreement D_e = (n² − Σ_c n_c²)/(n(n−1)) from exact category
    margins over pairable values only.

    Scale: two partial→final aggregates (unit×category, then unit /
    category margins) — shuffle ∝ units, no pairwise expansion: the
    m_u² closed form replaces the actual pair join."""
    li = load_table(spark, sf_dir, "lineitem")
    cell = li.groupBy(
        F.col("l_orderkey").alias("unit"), F.col("l_returnflag").alias("cat")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    units = (
        cell.groupBy("unit")
        .agg(
            F.sum("c").cast("long").alias("m"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("sc2"),
        )
        .filter(F.col("m") >= 2)
    )
    dobs = units.agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum("m").cast("long").alias("n"),
        F.sum(
            F.floor(
                (F.col("m") * F.col("m") - F.col("sc2")).cast("double")
                / (F.col("m") - 1)
                * 1e9
            ).cast("long")
        )
        .cast("long")
        .alias("doq"),
    )
    cats = (
        cell.join(units.select("unit"), "unit")
        .groupBy("cat")
        .agg(F.sum("c").cast("long").alias("nc"))
        .agg(
            F.sum(F.col("nc") * F.col("nc")).cast("long").alias("sn2")
        )
    )
    n = F.col("n")
    d_o = F.col("doq") / 1e9 / n
    d_e = (n.cast("double") * n - F.col("sn2")) / (n.cast("double") * (n - 1))
    return dobs.crossJoin(F.broadcast(cats)).select(
        "n_units",
        n.alias("n_values"),
        F.round(d_o, 6).alias("d_observed"),
        F.round(d_e, 6).alias("d_expected"),
        F.round(1 - d_o / d_e, 6).alias("alpha"),
    )


@register(
    "stats_cochran_armitage",
    """
    WITH g AS (
        SELECT CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS w,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
                   AS r
        FROM orders GROUP BY 1
    ), s AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(r) AS BIGINT) AS rr,
               CAST(SUM(w * r) AS BIGINT) AS swr,
               CAST(SUM(w * n) AS BIGINT) AS swn,
               CAST(SUM(w * w * n) AS BIGINT) AS swwn,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM g
    )
    SELECT k AS n_groups, nn AS n_total, rr AS n_success,
           ROUND(swr - CAST(rr AS DOUBLE) / nn * swn, 4) AS t_stat,
           ROUND((swr - CAST(rr AS DOUBLE) / nn * swn)
                 / SQRT(CAST(rr AS DOUBLE) / nn
                        * (1 - CAST(rr AS DOUBLE) / nn)
                        * (swwn - CAST(swn AS DOUBLE) * swn / nn)), 4)
               AS z
    FROM s
    """,
)
def stats_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage trend test: does the fulfilled-order rate trend
    monotonically across the ordered priority classes 1-URGENT … 5-LOW
    (scores wᵢ = the ordinal itself)? T = Σwᵢrᵢ − p̂Σwᵢnᵢ with
    Var(T) = p̂(1−p̂)(Σwᵢ²nᵢ − (Σwᵢnᵢ)²/N) — the proportions
    counterpart of ``stats_jonckheere`` (which ranks a continuous
    response) and the dose-response refinement of ``agg_chi_square``
    (which ignores the ordering). All five sufficient sums are exact
    integers from one grouped pass; p̂ = R/N is the single rational,
    entering only the final closed-form scalar.

    Scale: one partial→final aggregate to 5 groups — nothing else."""
    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("w")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1))
        .cast("long")
        .alias("r"),
    )
    s = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("r").cast("long").alias("rr"),
        F.sum(F.col("w") * F.col("r")).cast("long").alias("swr"),
        F.sum(F.col("w") * F.col("n")).cast("long").alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("n")).cast("long").alias("swwn"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    nn, rr = F.col("nn"), F.col("rr")
    p = rr.cast("double") / nn
    t = F.col("swr") - p * F.col("swn")
    var = p * (1 - p) * (
        F.col("swwn") - F.col("swn").cast("double") * F.col("swn") / nn
    )
    return s.select(
        F.col("k").alias("n_groups"),
        nn.alias("n_total"),
        rr.alias("n_success"),
        F.round(t, 4).alias("t_stat"),
        F.round(t / F.sqrt(var), 4).alias("z"),
    )


@register(
    "stats_mantel_haenszel",
    """
    WITH v AS (
        SELECT date_part('year', l_shipdate) AS yr,
               CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS exposed,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS outcome
        FROM lineitem WHERE l_returnflag IN ('R', 'A')
    ), strata AS (
        SELECT yr,
               CAST(COUNT(*) FILTER (WHERE exposed = 1 AND outcome = 1)
                    AS BIGINT) AS a,
               CAST(COUNT(*) FILTER (WHERE exposed = 1 AND outcome = 0)
                    AS BIGINT) AS b,
               CAST(COUNT(*) FILTER (WHERE exposed = 0 AND outcome = 1)
                    AS BIGINT) AS c,
               CAST(COUNT(*) FILTER (WHERE exposed = 0 AND outcome = 0)
                    AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM v GROUP BY yr
    ), folds AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
               CAST(SUM(a) AS BIGINT) AS sa,
               CAST(SUM(CAST(FLOOR(CAST(a AS DOUBLE) * d / n * 1e9)
                             AS BIGINT)) AS BIGINT) AS adq,
               CAST(SUM(CAST(FLOOR(CAST(b AS DOUBLE) * c / n * 1e9)
                             AS BIGINT)) AS BIGINT) AS bcq,
               CAST(SUM(CAST(FLOOR(CAST(a + b AS DOUBLE) * (a + c) / n
                                   * 1e9) AS BIGINT)) AS BIGINT) AS eaq,
               CAST(SUM(CAST(FLOOR(CAST(a + b AS DOUBLE) * (c + d)
                                   * (a + c) * (b + d)
                                   / (CAST(n AS DOUBLE) * n * (n - 1))
                                   * 1e9) AS BIGINT)) AS BIGINT) AS vaq
        FROM strata
    )
    SELECT n_strata, sa AS sum_a,
           ROUND((adq / 1e9) / (bcq / 1e9), 6) AS or_mh,
           ROUND((sa - eaq / 1e9) * (sa - eaq / 1e9) / (vaq / 1e9), 4)
               AS chi2_cmh
    FROM folds
    """,
)
def stats_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel–Haenszel common odds ratio and Cochran–Mantel–Haenszel χ²
    across ship-year strata: is high discount (≥5%) associated with
    returns (R vs A) AFTER controlling for year? OR_MH = Σ(aᵢdᵢ/nᵢ)/
    Σ(bᵢcᵢ/nᵢ); χ²_CMH = (Σaᵢ − ΣE[aᵢ])²/ΣVar(aᵢ) with the standard
    hypergeometric moments per stratum (no continuity correction) —
    the stratified version of a single 2×2 test, immune to the
    year-mix confounding that ``stats_fisher_exact``'s pooled table
    would absorb (Simpson's-paradox guard; complements
    ``ab_diff_in_diff``). Each stratum's three rationals are
    floor-quantized at 1e-9 and folded as integers; counts are exact.

    Scale: one partial→final aggregate to ≤7 year strata, then scalar
    algebra — no shuffle beyond the strata reduce."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    v = li.select(
        F.year("l_shipdate").alias("yr"),
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("exposed"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("outcome"),
    )
    strata = v.groupBy("yr").agg(
        F.count(F.when((F.col("exposed") == 1) & (F.col("outcome") == 1), 1))
        .cast("long")
        .alias("a"),
        F.count(F.when((F.col("exposed") == 1) & (F.col("outcome") == 0), 1))
        .cast("long")
        .alias("b"),
        F.count(F.when((F.col("exposed") == 0) & (F.col("outcome") == 1), 1))
        .cast("long")
        .alias("c"),
        F.count(F.when((F.col("exposed") == 0) & (F.col("outcome") == 0), 1))
        .cast("long")
        .alias("d"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    a, b, c, d, n = (F.col(x) for x in "abcdn")
    folds = strata.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum(a).cast("long").alias("sa"),
        F.sum(F.floor(a.cast("double") * d / n * 1e9).cast("long"))
        .cast("long")
        .alias("adq"),
        F.sum(F.floor(b.cast("double") * c / n * 1e9).cast("long"))
        .cast("long")
        .alias("bcq"),
        F.sum(
            F.floor((a + b).cast("double") * (a + c) / n * 1e9).cast("long")
        )
        .cast("long")
        .alias("eaq"),
        F.sum(
            F.floor(
                (a + b).cast("double")
                * (c + d)
                * (a + c)
                * (b + d)
                / (n.cast("double") * n * (n - 1))
                * 1e9
            ).cast("long")
        )
        .cast("long")
        .alias("vaq"),
    )
    return folds.select(
        "n_strata",
        F.col("sa").alias("sum_a"),
        F.round((F.col("adq") / 1e9) / (F.col("bcq") / 1e9), 6).alias("or_mh"),
        F.round(
            (F.col("sa") - F.col("eaq") / 1e9)
            * (F.col("sa") - F.col("eaq") / 1e9)
            / (F.col("vaq") / 1e9),
            4,
        ).alias("chi2_cmh"),
    )


@register(
    "stats_gamma_concordance",
    """
    WITH o AS (
        SELECT CAST(SUBSTR(o.o_orderpriority, 1, 1) AS BIGINT) AS x,
               LEAST(CAST(COUNT(*) AS BIGINT), 7) AS y
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority
    ), cell AS (
        SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c
        FROM o GROUP BY x, y
    ), pq AS (
        SELECT
            CAST(SUM(CASE WHEN b.x > a.x AND b.y > a.y
                          THEN a.c * b.c ELSE 0 END) AS BIGINT) AS p2,
            CAST(SUM(CASE WHEN b.x > a.x AND b.y < a.y
                          THEN a.c * b.c ELSE 0 END) AS BIGINT) AS q2
        FROM cell a CROSS JOIN cell b
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n FROM cell
    )
    SELECT t.n AS n_orders, p.p2 AS p_concordant, p.q2 AS q_discordant,
           ROUND((p.p2 - CAST(q2 AS DOUBLE)) / (p.p2 + q2), 6) AS gamma
    FROM pq p CROSS JOIN tot t
    """,
)
def stats_gamma_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman–Kruskal gamma between two ordinals — order priority
    (1-URGENT … 5-LOW) vs line-count bucket (1..7, capped): γ =
    (P−Q)/(P+Q) over concordant/discordant pairs, IGNORING ties — the
    contingency-table companion to ``stats_kendall_tau`` (whose tau-b
    divides by tie-corrected margins instead; γ is the one to quote
    when most mass sits in ties). Pairs never enumerate: the 5×7 cell
    table joins against itself (≤1225 cell pairs), so P and Q are
    exact BIGINT sums of cᵢⱼ·cᵢ'ⱼ' products.

    Scale: one orderkey-co-located join + aggregate to orders, one
    aggregate to ≤35 cells, then the bounded cell self-join —
    shuffle ∝ orders, pair work O(cells²)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    base = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            F.substring("o_orderpriority", 1, 1).cast("long").alias("x"),
            F.least(F.col("cnt"), F.lit(7)).alias("y"),
        )
    )
    cell = base.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    a = cell.select(
        F.col("x").alias("ax"), F.col("y").alias("ay"), F.col("c").alias("ac")
    )
    b = cell.select(
        F.col("x").alias("bx"), F.col("y").alias("by"), F.col("c").alias("bc")
    )
    pq = a.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.when(
                (F.col("bx") > F.col("ax")) & (F.col("by") > F.col("ay")),
                F.col("ac") * F.col("bc"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("p2"),
        F.sum(
            F.when(
                (F.col("bx") > F.col("ax")) & (F.col("by") < F.col("ay")),
                F.col("ac") * F.col("bc"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("q2"),
    )
    tot = cell.agg(F.sum("c").cast("long").alias("n"))
    return pq.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_orders"),
        F.col("p2").alias("p_concordant"),
        F.col("q2").alias("q_discordant"),
        F.round(
            (F.col("p2") - F.col("q2").cast("double"))
            / (F.col("p2") + F.col("q2")),
            6,
        ).alias("gamma"),
    )


@register(
    "ml_brier_decomposition",
    """
    WITH s AS (
        SELECT LEAST(CAST(FLOOR(LEAST(value / 500.0, 1.0) * 10) AS BIGINT),
                     9) AS bin,
               CAST(FLOOR(LEAST(value / 500.0, 1.0) * 1e6) AS BIGINT) AS pq,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ), per_bin AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS nk,
               CAST(SUM(pq) AS BIGINT) AS spq,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(pq AS HUGEINT) * pq) AS HUGEINT) AS spq2,
               CAST(SUM(pq * y) AS BIGINT) AS spy
        FROM s GROUP BY bin
    ), tot AS (
        SELECT CAST(SUM(nk) AS BIGINT) AS n,
               CAST(SUM(sy) AS BIGINT) AS ny
        FROM per_bin
    ), parts AS (
        SELECT
            CAST(SUM(CAST(FLOOR(nk * (CAST(spq AS DOUBLE) / nk / 1e6
                                      - CAST(sy AS DOUBLE) / nk)
                                   * (CAST(spq AS DOUBLE) / nk / 1e6
                                      - CAST(sy AS DOUBLE) / nk)
                                   * 1e9) AS BIGINT)) AS BIGINT) AS relq,
            CAST(SUM(CAST(FLOOR(nk * (CAST(sy AS DOUBLE) / nk
                                      - CAST(t.ny AS DOUBLE) / t.n)
                                   * (CAST(sy AS DOUBLE) / nk
                                      - CAST(t.ny AS DOUBLE) / t.n)
                                   * 1e9) AS BIGINT)) AS BIGINT) AS resq,
            CAST(SUM(CAST(FLOOR((CAST(spq2 AS DOUBLE) / 1e12
                                 - 2.0 * spy / 1e6
                                 + CAST(sy AS BIGINT)) * 1e9)
                          AS BIGINT)) AS BIGINT) AS bsq
        FROM per_bin CROSS JOIN tot t
    )
    SELECT t.n, t.ny,
           ROUND(bsq / 1e9 / t.n, 6) AS brier,
           ROUND(relq / 1e9 / t.n, 6) AS reliability,
           ROUND(resq / 1e9 / t.n, 6) AS resolution,
           ROUND(CAST(t.ny AS DOUBLE) / t.n
                 * (1 - CAST(t.ny AS DOUBLE) / t.n), 6) AS uncertainty,
           ROUND(bsq / 1e9 / t.n
                 - (relq / 1e9 / t.n - resq / 1e9 / t.n
                    + CAST(t.ny AS DOUBLE) / t.n
                      * (1 - CAST(t.ny AS DOUBLE) / t.n)), 6)
               AS within_bin_gap
    FROM parts CROSS JOIN tot t
    """,
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score (Murphy '73):
    BS = reliability − resolution + uncertainty, over the same
    value/500 forecast and 10 calibration bins as
    ``ml_calibration_error`` — reliability is the calibration gap
    (smaller is better), resolution rewards bins that separate from
    the base rate, uncertainty ō(1−ō) is the data's floor.
    within_bin_gap publishes the identity's residual, which for
    non-constant forecasts inside a bin equals the within-bin
    forecast variance minus twice the within-bin forecast–outcome
    covariance — near 0 when bins are tight, and a direct audit that
    the three parts really recompose the score. Forecasts quantize at
    1e-6 (squares in 128-bit), each bin's rational terms at 1e-9, so
    every component folds as integers.

    Scale: one partial→final aggregate to 10 bins, then scalar
    algebra."""
    ev = load_table(spark, sf_dir, "events")
    p = F.least(F.col("value") / 500.0, F.lit(1.0))
    s = ev.select(
        F.least(F.floor(p * 10).cast("long"), F.lit(9)).alias("bin"),
        F.floor(p * 1e6).cast("long").alias("pq"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    per_bin = s.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.sum("pq").cast("long").alias("spq"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("pq").cast("decimal(38,0)") * F.col("pq")).alias("spq2"),
        F.sum(F.col("pq") * F.col("y")).cast("long").alias("spy"),
    )
    tot = per_bin.agg(
        F.sum("nk").cast("long").alias("n"),
        F.sum("sy").cast("long").alias("ny"),
    )
    nk = F.col("nk")
    pbar = F.col("spq").cast("double") / nk / 1e6
    obar = F.col("sy").cast("double") / nk
    gbar = F.col("ny").cast("double") / F.col("n")
    parts = per_bin.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.floor(nk * (pbar - obar) * (pbar - obar) * 1e9).cast("long")
        )
        .cast("long")
        .alias("relq"),
        F.sum(
            F.floor(nk * (obar - gbar) * (obar - gbar) * 1e9).cast("long")
        )
        .cast("long")
        .alias("resq"),
        F.sum(
            F.floor(
                (
                    F.col("spq2").cast("double") / 1e12
                    - 2.0 * F.col("spy") / 1e6
                    + F.col("sy").cast("long")
                )
                * 1e9
            ).cast("long")
        )
        .cast("long")
        .alias("bsq"),
    )
    n, ny = F.col("n"), F.col("ny")
    unc = ny.cast("double") / n * (1 - ny.cast("double") / n)
    bs = F.col("bsq") / 1e9 / n
    rel = F.col("relq") / 1e9 / n
    res = F.col("resq") / 1e9 / n
    return parts.crossJoin(F.broadcast(tot)).select(
        n,
        ny,
        F.round(bs, 6).alias("brier"),
        F.round(rel, 6).alias("reliability"),
        F.round(res, 6).alias("resolution"),
        F.round(unc, 6).alias("uncertainty"),
        F.round(bs - (rel - res + unc), 6).alias("within_bin_gap"),
    )


@register(
    "stats_circular_hours",
    """
    WITH hrs AS (
        SELECT date_part('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ), folds AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_all,
               CAST(SUM(CAST(FLOOR(n * COS(2 * PI() * h / 24.0) * 1e9)
                             AS BIGINT)) AS BIGINT) AS cq,
               CAST(SUM(CAST(FLOOR(n * SIN(2 * PI() * h / 24.0) * 1e9)
                             AS BIGINT)) AS BIGINT) AS sq
        FROM hrs
    )
    SELECT n_all AS n_events,
           ROUND(((ATAN2(sq / 1e9, cq / 1e9) / (2 * PI()) * 24.0) + 24.0)
                 % 24.0, 4) AS mean_hour,
           ROUND(SQRT((cq / 1e9) * (cq / 1e9)
                      + (sq / 1e9) * (sq / 1e9)) / n_all, 6)
               AS resultant_r,
           ROUND(n_all * ((cq / 1e9) * (cq / 1e9)
                          + (sq / 1e9) * (sq / 1e9))
                 / (CAST(n_all AS DOUBLE) * n_all), 4) AS rayleigh_z
    FROM folds
    """,
)
def stats_circular_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular (directional) statistics on event hour-of-day — the
    clock is a CIRCLE, so the arithmetic mean of {23h, 1h} is the
    nonsense 12h while the circular mean is the correct 0h: resultant
    length R̄ (0 = uniform, 1 = concentrated), circular mean hour via
    atan2, and the Rayleigh uniformity statistic z = nR̄² (Mardia &
    Jupp ch. 6) — the principled version of the peak-hour reading
    ``events_heatmap`` eyeballs. The 24 hourly cos/sin terms
    floor-quantize at 1e-9 and fold as integers, so the trigonometric
    moment is parallelism-stable.

    Scale: one aggregate to 24 cells; scalar algebra after."""
    ev = load_table(spark, sf_dir, "events")
    hrs = ev.groupBy(F.hour("ts").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    theta = 2 * F.lit(math.pi) * F.col("h") / 24.0
    folds = hrs.agg(
        F.sum("n").cast("long").alias("n_all"),
        F.sum(F.floor(F.col("n") * F.cos(theta) * 1e9).cast("long"))
        .cast("long")
        .alias("cq"),
        F.sum(F.floor(F.col("n") * F.sin(theta) * 1e9).cast("long"))
        .cast("long")
        .alias("sq"),
    )
    c = F.col("cq") / 1e9
    s = F.col("sq") / 1e9
    n = F.col("n_all")
    return folds.select(
        n.alias("n_events"),
        F.round(
            ((F.atan2(s, c) / (2 * math.pi) * 24.0) + 24.0) % 24.0, 4
        ).alias("mean_hour"),
        F.round(F.sqrt(c * c + s * s) / n, 6).alias("resultant_r"),
        F.round(
            n * (c * c + s * s) / (n.cast("double") * n), 4
        ).alias("rayleigh_z"),
    )


@register(
    "stats_gumbel_maxima",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS rev_c
        FROM orders GROUP BY 1
    ), blocks AS (
        SELECT date_part('year', day) AS yr, date_part('month', day) AS mo,
               CAST(MAX(rev_c) AS BIGINT) AS mx
        FROM daily GROUP BY 1, 2
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS b,
               CAST(SUM(mx) AS BIGINT) AS sm,
               CAST(SUM(CAST(mx AS HUGEINT) * mx) AS HUGEINT) AS smm
        FROM blocks
    ), fit AS (
        SELECT b,
               CAST(sm AS DOUBLE) / b / 100.0 AS mean_max,
               SQRT((CAST(smm AS DOUBLE) / 1e4
                     - (CAST(sm AS DOUBLE) / 100.0)
                       * (CAST(sm AS DOUBLE) / 100.0) / b) / (b - 1))
                   * 0.7796968012336761 AS sigma
        FROM s
    )
    SELECT b AS n_blocks,
           ROUND(mean_max, 2) AS mean_block_max,
           ROUND(mean_max - 0.5772156649015329 * sigma, 2) AS gumbel_mu,
           ROUND(sigma, 2) AS gumbel_sigma,
           ROUND(mean_max - 0.5772156649015329 * sigma
                 - sigma * LN(-LN(1 - 1.0 / 12)), 2) AS return_level_12mo,
           ROUND(mean_max - 0.5772156649015329 * sigma
                 - sigma * LN(-LN(1 - 1.0 / 60)), 2) AS return_level_60mo
    FROM fit
    """,
)
def stats_gumbel_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit to MONTHLY BLOCK MAXIMA of daily order
    revenue (the Fisher–Tippett block-maxima route to EVT, beside
    ``ts_pot_gpd``'s peaks-over-threshold route): method-of-moments
    σ̂ = s·√6/π, μ̂ = m̄ − γσ̂ (γ = Euler–Mascheroni), then the T-month
    return levels μ − σ·ln(−ln(1−1/T)) for T = 12 and 60 — "the
    busiest day we should provision for per year / per five years."
    Block maxima and both moments are exact integers (squares in
    128-bit); the fit is closed-form scalar algebra with the
    constants spelled to full double precision so both engines agree
    to the last bit.

    Scale: one aggregate to days, one to ≤84 month blocks."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("long"))
        .cast("long")
        .alias("rev_c")
    )
    blocks = daily.groupBy(
        F.year("day").alias("yr"), F.month("day").alias("mo")
    ).agg(F.max("rev_c").cast("long").alias("mx"))
    s = blocks.agg(
        F.count(F.lit(1)).cast("long").alias("b"),
        F.sum("mx").cast("long").alias("sm"),
        F.sum(F.col("mx").cast("decimal(38,0)") * F.col("mx")).alias("smm"),
    )
    b = F.col("b")
    mean_max = F.col("sm").cast("double") / b / 100.0
    sigma = (
        F.sqrt(
            (
                F.col("smm").cast("double") / 1e4
                - (F.col("sm").cast("double") / 100.0)
                * (F.col("sm").cast("double") / 100.0)
                / b
            )
            / (b - 1)
        )
        * 0.7796968012336761
    )
    fit = s.select(
        b, mean_max.alias("mean_max"), sigma.alias("sigma")
    )
    mu = F.col("mean_max") - 0.5772156649015329 * F.col("sigma")
    return fit.select(
        b.alias("n_blocks"),
        F.round(F.col("mean_max"), 2).alias("mean_block_max"),
        F.round(mu, 2).alias("gumbel_mu"),
        F.round(F.col("sigma"), 2).alias("gumbel_sigma"),
        F.round(
            mu - F.col("sigma") * F.log(-F.log(F.lit(1 - 1.0 / 12))), 2
        ).alias("return_level_12mo"),
        F.round(
            mu - F.col("sigma") * F.log(-F.log(F.lit(1 - 1.0 / 60))), 2
        ).alias("return_level_60mo"),
    )


@register(
    "ts_seasonal_mann_kendall",
    """
    WITH monthly AS (
        SELECT date_part('year', o_orderdate) AS yr,
               date_part('month', o_orderdate) AS mo,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1, 2
    ), pairs AS (
        SELECT a.mo,
               CASE WHEN b.rev > a.rev THEN 1
                    WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn,
               CASE WHEN b.rev = a.rev THEN 1 ELSE 0 END AS tie
        FROM monthly a JOIN monthly b
          ON b.mo = a.mo AND b.yr > a.yr
    ), per_season AS (
        SELECT mo, CAST(SUM(sgn) AS BIGINT) AS s_m,
               CAST(SUM(tie) AS BIGINT) AS ties_m,
               CAST(COUNT(*) AS BIGINT) AS pairs_m
        FROM pairs GROUP BY mo
    ), sizes AS (
        SELECT mo, CAST(COUNT(*) AS BIGINT) AS n_m
        FROM monthly GROUP BY mo
    ), tot AS (
        SELECT CAST(SUM(p.s_m) AS BIGINT) AS s,
               CAST(SUM(p.ties_m) AS BIGINT) AS ties,
               CAST(SUM(z.n_m * (z.n_m - 1) * (2 * z.n_m + 5)) AS BIGINT)
                   AS var18,
               CAST(COUNT(*) AS BIGINT) AS n_seasons
        FROM per_season p JOIN sizes z ON z.mo = p.mo
    )
    SELECT n_seasons, s AS s_total, ties,
           ROUND(var18 / 18.0, 4) AS var_s,
           ROUND(CASE WHEN s > 0 THEN (s - 1) / SQRT(var18 / 18.0)
                      WHEN s < 0 THEN (s + 1) / SQRT(var18 / 18.0)
                      ELSE 0.0 END, 4) AS z
    FROM tot
    """,
)
def ts_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann–Kendall trend test (Hirsch & Slack '84): the MK
    sign statistic is computed WITHIN each calendar month across years
    (January-vs-January, never June-vs-January) and the twelve S_m and
    null variances n(n−1)(2n+5)/18 are summed — the trend test that a
    strongly seasonal revenue series needs, where plain
    ``agg_mann_kendall`` would drown the trend in seasonal swings.
    With ≤7 years the per-season pair join is ≤21 pairs × 12 seasons
    of exact cent comparisons; z applies the standard ±1 continuity
    correction; ties are counted and exposed (exact cents make them
    rare but well-defined).

    Scale: one aggregate to ≤84 month cells; the pair join is bounded
    by seasons × C(years, 2) — constant, never fact-scale."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("long"))
        .cast("long")
        .alias("rev")
    )
    a = monthly.select(
        F.col("mo"), F.col("yr").alias("yra"), F.col("rev").alias("reva")
    )
    b = monthly.select(
        F.col("mo"), F.col("yr").alias("yrb"), F.col("rev").alias("revb")
    )
    pairs = a.join(b, "mo").filter(F.col("yrb") > F.col("yra"))
    per_season = pairs.groupBy("mo").agg(
        F.sum(
            F.when(F.col("revb") > F.col("reva"), 1)
            .when(F.col("revb") < F.col("reva"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s_m"),
        F.sum(F.when(F.col("revb") == F.col("reva"), 1).otherwise(0))
        .cast("long")
        .alias("ties_m"),
    )
    sizes = monthly.groupBy("mo").agg(F.count(F.lit(1)).cast("long").alias("n_m"))
    tot = per_season.join(sizes, "mo").agg(
        F.sum("s_m").cast("long").alias("s"),
        F.sum("ties_m").cast("long").alias("ties"),
        F.sum(
            F.col("n_m") * (F.col("n_m") - 1) * (2 * F.col("n_m") + 5)
        )
        .cast("long")
        .alias("var18"),
        F.count(F.lit(1)).cast("long").alias("n_seasons"),
    )
    s = F.col("s")
    sd = F.sqrt(F.col("var18") / 18.0)
    return tot.select(
        "n_seasons",
        s.alias("s_total"),
        "ties",
        F.round(F.col("var18") / 18.0, 4).alias("var_s"),
        F.round(
            F.when(s > 0, (s - 1) / sd)
            .when(s < 0, (s + 1) / sd)
            .otherwise(F.lit(0.0)),
            4,
        ).alias("z"),
    )


@register(
    "stats_somers_d",
    """
    WITH o AS (
        SELECT CAST(SUBSTR(o.o_orderpriority, 1, 1) AS BIGINT) AS x,
               LEAST(CAST(COUNT(*) AS BIGINT), 7) AS y
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority
    ), cell AS (
        SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM o GROUP BY x, y
    ), pq AS (
        SELECT
            CAST(SUM(CASE WHEN b.x > a.x AND b.y > a.y
                          THEN a.c * b.c ELSE 0 END) AS BIGINT) AS p2,
            CAST(SUM(CASE WHEN b.x > a.x AND b.y < a.y
                          THEN a.c * b.c ELSE 0 END) AS BIGINT) AS q2
        FROM cell a CROSS JOIN cell b
    ), marg AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST((SELECT SUM(cx * cx) FROM (
                   SELECT CAST(SUM(c) AS BIGINT) AS cx FROM cell GROUP BY x
               )) AS BIGINT) AS sx2,
               CAST((SELECT SUM(cy * cy) FROM (
                   SELECT CAST(SUM(c) AS BIGINT) AS cy FROM cell GROUP BY y
               )) AS BIGINT) AS sy2
        FROM cell
    )
    SELECT m.n AS n_orders, p.p2 AS p_concordant, p.q2 AS q_discordant,
           ROUND((p.p2 - CAST(p.q2 AS DOUBLE))
                 / ((CAST(m.n AS DOUBLE) * m.n - m.sx2) / 2), 6) AS d_yx,
           ROUND((p.p2 - CAST(p.q2 AS DOUBLE))
                 / ((CAST(m.n AS DOUBLE) * m.n - m.sy2) / 2), 6) AS d_xy
    FROM pq p CROSS JOIN marg m
    """,
)
def stats_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Somers' D, both directions, on the same priority × line-count
    ordinals as ``stats_gamma_concordance``: D_yx = (P−Q)/(pairs
    untied on x) treats y as the DEPENDENT variable (the ordinal
    regression / c-statistic view: for binary y, D_yx = 2·AUC−1),
    while γ drops ALL ties and τ-b symmetrizes — together the three
    span the tie-handling design space. Pairs never enumerate: P and
    Q reuse the ≤35-cell self-join, the untied-pair denominators come
    from margin sums (N²−Σnₓ²)/2 — all exact integers.

    Scale: identical posture to ``stats_gamma_concordance``."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    base = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            F.substring("o_orderpriority", 1, 1).cast("long").alias("x"),
            F.least(F.col("cnt"), F.lit(7)).alias("y"),
        )
    )
    cell = base.groupBy("x", "y").agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = cell.select(
        F.col("x").alias("ax"), F.col("y").alias("ay"), F.col("c").alias("ac")
    )
    b = cell.select(
        F.col("x").alias("bx"), F.col("y").alias("by"), F.col("c").alias("bc")
    )
    pq = a.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.when(
                (F.col("bx") > F.col("ax")) & (F.col("by") > F.col("ay")),
                F.col("ac") * F.col("bc"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("p2"),
        F.sum(
            F.when(
                (F.col("bx") > F.col("ax")) & (F.col("by") < F.col("ay")),
                F.col("ac") * F.col("bc"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("q2"),
    )
    mx = (
        cell.groupBy("x")
        .agg(F.sum("c").cast("long").alias("cx"))
        .agg(F.sum(F.col("cx") * F.col("cx")).cast("long").alias("sx2"))
    )
    my = (
        cell.groupBy("y")
        .agg(F.sum("c").cast("long").alias("cy"))
        .agg(F.sum(F.col("cy") * F.col("cy")).cast("long").alias("sy2"))
    )
    nn = cell.agg(F.sum("c").cast("long").alias("n"))
    num = F.col("p2") - F.col("q2").cast("double")
    n = F.col("n")
    return (
        pq.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(my))
        .select(
            n.alias("n_orders"),
            F.col("p2").alias("p_concordant"),
            F.col("q2").alias("q_discordant"),
            F.round(
                num / ((n.cast("double") * n - F.col("sx2")) / 2), 6
            ).alias("d_yx"),
            F.round(
                num / ((n.cast("double") * n - F.col("sy2")) / 2), 6
            ).alias("d_xy"),
        )
    )


@register(
    "stats_theil_u",
    """
    WITH cells AS (
        SELECT o_orderpriority AS fx, o_orderstatus AS fy,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2
    ), rx AS (
        SELECT fx, CAST(SUM(c) AS BIGINT) AS cx FROM cells GROUP BY fx
    ), ry AS (
        SELECT fy, CAST(SUM(c) AS BIGINT) AS cy FROM cells GROUP BY fy
    ), nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
    hx AS (
        SELECT CAST(SUM(CAST(FLOOR(-cx * LN(CAST(cx AS DOUBLE) / n) * 1e9)
                             AS BIGINT)) AS BIGINT) AS q
        FROM rx CROSS JOIN nn
    ), hy AS (
        SELECT CAST(SUM(CAST(FLOOR(-cy * LN(CAST(cy AS DOUBLE) / n) * 1e9)
                             AS BIGINT)) AS BIGINT) AS q
        FROM ry CROSS JOIN nn
    ), hxy AS (
        SELECT CAST(SUM(CAST(FLOOR(-c * LN(CAST(c AS DOUBLE) / n) * 1e9)
                             AS BIGINT)) AS BIGINT) AS q
        FROM cells CROSS JOIN nn
    )
    SELECT n.n AS n_orders,
           ROUND(x.q / 1e9 / n.n, 6) AS h_x,
           ROUND(y.q / 1e9 / n.n, 6) AS h_y,
           ROUND(j.q / 1e9 / n.n, 6) AS h_xy,
           ROUND((CAST(x.q AS DOUBLE) + y.q - j.q) / y.q, 6)
               AS u_y_given_x,
           ROUND((CAST(x.q AS DOUBLE) + y.q - j.q) / x.q, 6)
               AS u_x_given_y
    FROM nn n CROSS JOIN hx x CROSS JOIN hy y CROSS JOIN hxy j
    """,
)
def stats_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient between order priority and
    status: U(y|x) = (H(x)+H(y)−H(x,y))/H(y) — the ASYMMETRIC
    normalized mutual information ("knowing priority removes what
    fraction of status entropy?"), which unlike the symmetric
    ``stats_cramers_v`` distinguishes predictor from response and
    never claims association that doesn't reduce entropy. All three
    entropies fold the same 1e-9-quantized c·ln(c/n) integers as
    ``profile_mutual_info``, so both directions are
    parallelism-stable ratios of exact integer sums.

    Scale: one aggregate to the ≤15-cell contingency table."""
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("fx"),
        F.col("o_orderstatus").alias("fy"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    rx = cells.groupBy("fx").agg(F.sum("c").cast("long").alias("cx"))
    ry = cells.groupBy("fy").agg(F.sum("c").cast("long").alias("cy"))
    nn = cells.agg(F.sum("c").cast("long").alias("n"))

    def _hq(df, col):
        return df.crossJoin(F.broadcast(nn)).agg(
            F.sum(
                F.floor(
                    -F.col(col)
                    * F.log(F.col(col).cast("double") / F.col("n"))
                    * 1e9
                ).cast("long")
            )
            .cast("long")
            .alias("q")
        )

    hx = _hq(rx, "cx").select(F.col("q").alias("qx"))
    hy = _hq(ry, "cy").select(F.col("q").alias("qy"))
    hxy = _hq(cells, "c").select(F.col("q").alias("qxy"))
    n = F.col("n")
    mi = F.col("qx").cast("double") + F.col("qy") - F.col("qxy")
    return (
        nn.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .crossJoin(F.broadcast(hxy))
        .select(
            n.alias("n_orders"),
            F.round(F.col("qx") / 1e9 / n, 6).alias("h_x"),
            F.round(F.col("qy") / 1e9 / n, 6).alias("h_y"),
            F.round(F.col("qxy") / 1e9 / n, 6).alias("h_xy"),
            F.round(mi / F.col("qy"), 6).alias("u_y_given_x"),
            F.round(mi / F.col("qx"), 6).alias("u_x_given_y"),
        )
    )


@register(
    "events_poisson_dispersion",
    """
    WITH daily AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM daily
    ), mo AS (
        SELECT n,
               CAST(sx AS DOUBLE) / n AS mean_x,
               (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                   / (n - 1) AS var_x
        FROM s
    )
    SELECT n AS n_days,
           ROUND(mean_x, 4) AS mean_daily,
           ROUND(var_x, 4) AS var_daily,
           ROUND(var_x / mean_x, 4) AS dispersion_index,
           ROUND((n - 1) * var_x / mean_x, 2) AS chi2,
           ROUND(SQRT(2.0 * (n - 1) * var_x / mean_x)
                 - SQRT(2.0 * (n - 1) - 1), 4) AS z,
           CASE WHEN SQRT(2.0 * (n - 1) * var_x / mean_x)
                     - SQRT(2.0 * (n - 1) - 1) > 1.645
                THEN 1 ELSE 0 END AS overdispersed
    FROM mo
    """,
)
def events_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-of-dispersion test on daily event counts (Fisher's
    variance test): D = s²/x̄ with (n−1)·D ~ χ²_{n−1} under a Poisson
    null, normal-approximated via √(2χ²) − √(2df−1) — the go/no-go
    check before ANY Poisson-rate model (Erlang staffing in
    ``ops_erlang_c``, the power analyses): D ≫ 1 says counts are
    clumpy (bursty traffic, mixture of regimes) and a negative-
    binomial/overdispersed model is required. Moments are exact
    integer folds; everything after is closed-form.

    Scale: one aggregate to O(days); scalar algebra after."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    s = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    n = F.col("n")
    mean_x = F.col("sx").cast("double") / n
    var_x = (
        F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / n
    ) / (n - 1)
    z = F.sqrt(2.0 * (n - 1) * var_x / mean_x) - F.sqrt(
        2.0 * (n - 1) - F.lit(1)
    )
    return s.select(
        n.alias("n_days"),
        F.round(mean_x, 4).alias("mean_daily"),
        F.round(var_x, 4).alias("var_daily"),
        F.round(var_x / mean_x, 4).alias("dispersion_index"),
        F.round((n - 1) * var_x / mean_x, 2).alias("chi2"),
        F.round(z, 4).alias("z"),
        F.when(z > 1.645, 1).otherwise(0).alias("overdispersed"),
    )


@register(
    "stats_friedman_nemenyi",
    """
    WITH cell AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS blk,
               o_orderpriority AS trt,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS cell_v
        FROM orders GROUP BY 1, 2
    ), full_blk AS (
        SELECT blk FROM cell GROUP BY blk HAVING COUNT(*) = 5
    ), rnk AS (
        SELECT c.blk, c.trt,
               RANK() OVER (PARTITION BY c.blk ORDER BY c.cell_v)
               + (COUNT(*) OVER (PARTITION BY c.blk, c.cell_v) - 1) / 2.0
                   AS r
        FROM cell c JOIN full_blk f ON f.blk = c.blk
    ), means AS (
        SELECT trt, AVG(r) AS rbar,
               CAST(COUNT(*) AS BIGINT) AS n_blocks
        FROM rnk GROUP BY trt
    ), cd AS (
        SELECT 2.728 * SQRT(5.0 * (5 + 1) / (6.0 * MAX(n_blocks))) AS cdv,
               CAST(MAX(n_blocks) AS BIGINT) AS nb
        FROM means
    )
    SELECT a.trt AS trt_a, b.trt AS trt_b,
           ROUND(a.rbar, 4) AS rank_a, ROUND(b.rbar, 4) AS rank_b,
           ROUND(ABS(a.rbar - b.rbar), 4) AS rank_diff,
           ROUND(c.cdv, 4) AS critical_difference,
           CASE WHEN ABS(a.rbar - b.rbar) > c.cdv THEN 1 ELSE 0 END
               AS significant,
           c.nb AS n_blocks
    FROM means a JOIN means b ON a.trt < b.trt
    CROSS JOIN cd c
    ORDER BY trt_a, trt_b
    """,
)
def stats_friedman_nemenyi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nemenyi post-hoc critical-difference table (Demšar JMLR'06 —
    the benchmark-comparison standard) for the same month-block ×
    priority-treatment design as ``stats_friedman``: once Friedman
    rejects "all treatments equal", which PAIRS differ? Mean ranks
    per treatment are compared against CD = q_α√(k(k+1)/6N) with the
    k=5, α=0.05 studentized-range constant q = 2.728 — all 10 pairs
    published with their significance flags, the table a CD diagram
    renders. Mid-ranks come from the same exact integer cell sums as
    the omnibus test.

    Scale: aggregation to O(months × 5) cells; the pair join is 10
    rows."""
    o = load_table(spark, sf_dir, "orders")
    cell = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("blk"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("long"))
        .cast("long")
        .alias("cell_v")
    )
    full_blk = cell.groupBy("blk").agg(F.count(F.lit(1)).alias("c")).filter(
        F.col("c") == 5
    ).select("blk")
    w_rank = Window.partitionBy("blk").orderBy("cell_v")
    w_tie = Window.partitionBy("blk", "cell_v")
    rnk = cell.join(full_blk, "blk").select(
        "blk",
        "trt",
        (
            F.rank().over(w_rank)
            + (F.count(F.lit(1)).over(w_tie) - 1) / F.lit(2.0)
        ).alias("r"),
    )
    means = rnk.groupBy("trt").agg(
        F.avg("r").alias("rbar"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    )
    cd = means.agg(
        (
            F.lit(2.728)
            * F.sqrt(F.lit(5.0) * (5 + 1) / (F.lit(6.0) * F.max("n_blocks")))
        ).alias("cdv"),
        F.max("n_blocks").cast("long").alias("nb"),
    )
    a = means.select(
        F.col("trt").alias("trt_a"), F.col("rbar").alias("rbar_a")
    )
    b = means.select(
        F.col("trt").alias("trt_b"), F.col("rbar").alias("rbar_b")
    )
    return (
        a.join(b, F.col("trt_a") < F.col("trt_b"))
        .crossJoin(F.broadcast(cd))
        .select(
            "trt_a",
            "trt_b",
            F.round(F.col("rbar_a"), 4).alias("rank_a"),
            F.round(F.col("rbar_b"), 4).alias("rank_b"),
            F.round(F.abs(F.col("rbar_a") - F.col("rbar_b")), 4).alias(
                "rank_diff"
            ),
            F.round(F.col("cdv"), 4).alias("critical_difference"),
            F.when(
                F.abs(F.col("rbar_a") - F.col("rbar_b")) > F.col("cdv"), 1
            )
            .otherwise(0)
            .alias("significant"),
            F.col("nb").alias("n_blocks"),
        )
        .orderBy("trt_a", "trt_b")
    )


@register(
    "stats_winsorized_correlation",
    """
    WITH v AS (
        SELECT CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS x,
               CAST(l_quantity AS BIGINT) AS y
        FROM lineitem
    ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    xth AS (
        SELECT MIN(CASE WHEN cum >= g + 1 THEN x END) AS lo,
               MIN(CASE WHEN cum >= n - g THEN x END) AS hi
        FROM (
            SELECT x, SUM(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS cum,
                   n, CAST(FLOOR(0.1 * n) AS BIGINT) AS g
            FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS c
                  FROM v GROUP BY x) CROSS JOIN nn
        )
    ), yth AS (
        SELECT MIN(CASE WHEN cum >= g + 1 THEN y END) AS lo,
               MIN(CASE WHEN cum >= n - g THEN y END) AS hi
        FROM (
            SELECT y, SUM(c) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS cum,
                   n, CAST(FLOOR(0.1 * n) AS BIGINT) AS g
            FROM (SELECT y, CAST(COUNT(*) AS BIGINT) AS c
                  FROM v GROUP BY y) CROSS JOIN nn
        )
    ), clipped AS (
        SELECT GREATEST(xt.lo, LEAST(xt.hi, v.x)) AS xw,
               GREATEST(yt.lo, LEAST(yt.hi, v.y)) AS yw,
               v.x, v.y
        FROM v CROSS JOIN xth xt CROSS JOIN yth yt
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xw) AS BIGINT) AS sxw,
               CAST(SUM(yw) AS BIGINT) AS syw,
               CAST(SUM(CAST(xw AS HUGEINT) * xw) AS HUGEINT) AS sxxw,
               CAST(SUM(yw * yw) AS BIGINT) AS syyw,
               CAST(SUM(xw * yw) AS BIGINT) AS sxyw,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM clipped
    )
    SELECT n,
           ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)), 6) AS r_raw,
           ROUND((CAST(n AS DOUBLE) * sxyw - CAST(sxw AS DOUBLE) * syw)
                 / SQRT((CAST(n AS DOUBLE) * CAST(sxxw AS DOUBLE)
                         - CAST(sxw AS DOUBLE) * sxw)
                        * (CAST(n AS DOUBLE) * syyw
                           - CAST(syw AS DOUBLE) * syw)), 6)
               AS r_winsorized
    FROM s
    """,
)
def stats_winsorized_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized correlation (Wilcox, Robust Estimation ch. 9):
    Pearson r after clipping each margin at its own 10%/90% order
    statistics — the robust association estimate that survives the
    heavy-tailed revenue outliers which leverage plain r (reported
    beside it from the SAME pass for the contrast). The clip
    thresholds x₍g+1₎, x₍n−g₎ of both margins come from ONE
    ``grouped_order_statistics`` call over the margin-tagged rows,
    broadcast back, and all ten clipped/raw moments fold as exact
    integers (Σx² in 128-bit).

    Scale: the primitive's bucket pass and target-bucket slice over the
    2n tagged rows (shuffle ∝ bucket cells plus the target buckets'
    distinct values, no per-value frame) + one clipped scan, map-only up
    to its 1-row aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.floor(F.col("l_extendedprice") * 100.0).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
    )
    tagged = v.select(
        F.explode(
            F.array(
                F.struct(F.lit("x").alias("m"), F.col("x").alias("val")),
                F.struct(F.lit("y").alias("m"), F.col("y").alias("val")),
            )
        ).alias("t")
    ).select("t.m", "t.val", F.lit(1).alias("c"))

    def _g(n):
        return F.floor(0.1 * n).cast("long")

    # documented-superset domains: cents < 2e7, quantity < 64
    # (OPTIMIZATION_r12.md)
    ths = grouped_order_statistics(
        tagged,
        "m",
        "val",
        "c",
        {"lo": lambda n: _g(n) + 1, "hi": lambda n: n - _g(n)},
        bounds={"x": (0, 2e7), "y": (0, 64)},
    )
    th = ths.agg(
        *[
            F.max(F.when(F.col("m") == m, F.col(k))).alias(m + k)
            for m in ("x", "y")
            for k in ("lo", "hi")
        ]
    )
    clipped = v.crossJoin(F.broadcast(th)).select(
        F.greatest(F.col("xlo"), F.least(F.col("xhi"), F.col("x"))).alias("xw"),
        F.greatest(F.col("ylo"), F.least(F.col("yhi"), F.col("y"))).alias("yw"),
        "x",
        "y",
    )
    s = clipped.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xw").cast("long").alias("sxw"),
        F.sum("yw").cast("long").alias("syw"),
        F.sum(F.col("xw").cast("decimal(38,0)") * F.col("xw")).alias("sxxw"),
        F.sum(F.col("yw") * F.col("yw")).cast("long").alias("syyw"),
        F.sum(F.col("xw") * F.col("yw")).cast("long").alias("sxyw"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    n = F.col("n")

    def _r(sxy, sx, sy, sxx, syy):
        return (
            n.cast("double") * F.col(sxy) - F.col(sx).cast("double") * F.col(sy)
        ) / F.sqrt(
            (
                n.cast("double") * F.col(sxx).cast("double")
                - F.col(sx).cast("double") * F.col(sx)
            )
            * (
                n.cast("double") * F.col(syy)
                - F.col(sy).cast("double") * F.col(sy)
            )
        )

    return s.select(
        n,
        F.round(_r("sxy", "sx", "sy", "sxx", "syy"), 6).alias("r_raw"),
        F.round(_r("sxyw", "sxw", "syw", "sxxw", "syyw"), 6).alias(
            "r_winsorized"
        ),
    )


@register(
    "stats_mcnemar_bowker",
    """
    WITH per_cust AS (
        SELECT o_custkey,
               MIN({'d': o_orderdate, 'k': o_orderkey,
                    'p': o_orderpriority}).p AS first_p,
               MAX({'d': o_orderdate, 'k': o_orderkey,
                    'p': o_orderpriority}).p AS last_p
        FROM orders GROUP BY o_custkey
    ), cells AS (
        SELECT CAST(SUBSTR(first_p, 1, 1) AS BIGINT) AS i,
               CAST(SUBSTR(last_p, 1, 1) AS BIGINT) AS j,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM per_cust GROUP BY 1, 2
    ), pairs AS (
        SELECT a.i, a.j, a.c AS nij, COALESCE(b.c, 0) AS nji
        FROM cells a
        LEFT JOIN cells b ON b.i = a.j AND b.j = a.i
        WHERE a.i < a.j
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN nij + nji > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS df,
               CAST(SUM(CAST(FLOOR(
                   CASE WHEN nij + nji > 0 THEN
                       CAST((nij - nji) * (nij - nji) AS DOUBLE)
                       / (nij + nji) ELSE 0 END * 1e9) AS BIGINT))
                   AS BIGINT) AS chi_q,
               CAST(SUM(nij + nji) AS BIGINT) AS n_discordant
        FROM pairs
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_cust FROM cells
    )
    SELECT t.n_cust, s.n_discordant, s.df,
           ROUND(s.chi_q / 1e9, 4) AS chi2_bowker
    FROM s CROSS JOIN tot t
    """,
)
def stats_mcnemar_bowker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowker's test of marginal symmetry (Bowker '48 — McNemar
    generalized to a k×k table): does a customer's FIRST order
    priority distribute the same as their LAST, pairwise? χ² =
    Σ_{i<j}(n_ij−n_ji)²/(n_ij+n_ji) over the 5×5 first→last
    transition table, df = #off-diagonal pairs with traffic — the
    paired-categories drift test (did customers migrate toward
    urgency?) that an unpaired ``agg_chi_square`` cannot answer
    because it ignores the within-customer pairing. MIN_BY/MAX_BY
    with the date key make first/last deterministic; each pair's
    rational term floor-quantizes at 1e-9.

    Scale: one per-customer aggregate (shuffle ∝ customers) to a
    ≤25-cell table; the pair fold is 10 rows."""
    o = load_table(spark, sf_dir, "orders")
    key = F.struct(
        F.col("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("p"),
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.min(key).getField("p").alias("first_p"),
        F.max(key).getField("p").alias("last_p"),
    )
    cells = per_cust.groupBy(
        F.substring("first_p", 1, 1).cast("long").alias("i"),
        F.substring("last_p", 1, 1).cast("long").alias("j"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = cells.select("i", "j", F.col("c").alias("nij"))
    b = cells.select(
        F.col("j").alias("i"), F.col("i").alias("j"), F.col("c").alias("nji")
    )
    pairs = (
        a.join(b, ["i", "j"], "left")
        .filter(F.col("i") < F.col("j"))
        .select(
            "i", "j", "nij", F.coalesce(F.col("nji"), F.lit(0)).alias("nji")
        )
    )
    tot_pair = F.col("nij") + F.col("nji")
    s = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(tot_pair > 0, 1).otherwise(0)).cast("long").alias("df"),
        F.sum(
            F.floor(
                F.when(
                    tot_pair > 0,
                    ((F.col("nij") - F.col("nji")) * (F.col("nij") - F.col("nji"))).cast(
                        "double"
                    )
                    / tot_pair,
                ).otherwise(F.lit(0.0))
                * 1e9
            ).cast("long")
        )
        .cast("long")
        .alias("chi_q"),
        F.sum(tot_pair).cast("long").alias("n_discordant"),
    )
    tot = cells.agg(F.sum("c").cast("long").alias("n_cust"))
    return s.crossJoin(F.broadcast(tot)).select(
        "n_cust",
        "n_discordant",
        "df",
        F.round(F.col("chi_q") / 1e9, 4).alias("chi2_bowker"),
    )


@register(
    "stats_page_trend",
    """
    WITH cell AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS blk,
               CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS trt,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS cell_v
        FROM orders GROUP BY 1, 2
    ), full_blk AS (
        SELECT blk FROM cell GROUP BY blk HAVING COUNT(*) = 5
    ), rnk AS (
        SELECT c.blk, c.trt,
               RANK() OVER (PARTITION BY c.blk ORDER BY c.cell_v)
               + (COUNT(*) OVER (PARTITION BY c.blk, c.cell_v) - 1) / 2.0
                   AS r
        FROM cell c JOIN full_blk f ON f.blk = c.blk
    ), sums AS (
        SELECT trt, SUM(r) AS rj,
               CAST(COUNT(*) AS BIGINT) AS n_blocks
        FROM rnk GROUP BY trt
    ), l AS (
        SELECT SUM(trt * rj) AS l_stat, MAX(n_blocks) AS n
        FROM sums
    )
    SELECT CAST(5 AS BIGINT) AS k, CAST(n AS BIGINT) AS n_blocks,
           ROUND(l_stat, 2) AS page_l,
           ROUND((l_stat - n * 5.0 * (5 + 1) * (5 + 1) / 4)
                 / SQRT(CAST(n AS DOUBLE) * 5 * 5 * (5 + 1) * (5 + 1)
                        * (5 - 1) / 144), 4) AS z
    FROM l
    """,
)
def stats_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L trend test (Page '63) — the ORDERED-alternative version
    of Friedman for the same month-block × priority design: L =
    Σ_j j·R_j weights each treatment's rank sum by its hypothesized
    position, so a monotone revenue gradient across priority classes
    1→5 shows up as L above its null mean Nk(k+1)²/4 with variance
    Nk²(k+1)²(k−1)/144 — more powerful than Friedman's omnibus χ²
    when the alternative really is a trend (the within-block analogue
    of ``stats_jonckheere``). Mid-ranks reuse the exact integer cell
    sums; L and its moments are closed-form.

    Scale: aggregation to O(months × 5) cells; everything else is a
    5-row fold."""
    o = load_table(spark, sf_dir, "orders")
    cell = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("blk"),
        F.substring("o_orderpriority", 1, 1).cast("long").alias("trt"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("long"))
        .cast("long")
        .alias("cell_v")
    )
    full_blk = (
        cell.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == 5)
        .select("blk")
    )
    w_rank = Window.partitionBy("blk").orderBy("cell_v")
    w_tie = Window.partitionBy("blk", "cell_v")
    rnk = cell.join(full_blk, "blk").select(
        "blk",
        "trt",
        (
            F.rank().over(w_rank)
            + (F.count(F.lit(1)).over(w_tie) - 1) / F.lit(2.0)
        ).alias("r"),
    )
    sums = rnk.groupBy("trt").agg(
        F.sum("r").alias("rj"), F.count(F.lit(1)).cast("long").alias("n_blocks")
    )
    l = sums.agg(
        F.sum(F.col("trt") * F.col("rj")).alias("l_stat"),
        F.max("n_blocks").alias("n"),
    )
    n = F.col("n")
    mean_l = n * 5.0 * (5 + 1) * (5 + 1) / 4
    var_l = n.cast("double") * 5 * 5 * (5 + 1) * (5 + 1) * (5 - 1) / 144
    return l.select(
        F.lit(5).cast("long").alias("k"),
        n.cast("long").alias("n_blocks"),
        F.round(F.col("l_stat"), 2).alias("page_l"),
        F.round((F.col("l_stat") - mean_l) / F.sqrt(var_l), 4).alias("z"),
    )


@register(
    "ml_class_balance_weights",
    """
    WITH counts AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n
        FROM embeddings GROUP BY label
    ), w AS (
        SELECT label, n,
               (1 - 0.999) / (1 - POWER(0.999, n)) AS raw_w,
               CAST(SUM(n) OVER () AS BIGINT) AS n_total,
               CAST(COUNT(*) OVER () AS BIGINT) AS k
        FROM counts
    ), norm AS (
        SELECT label, n, raw_w, n_total, k,
               SUM(raw_w) OVER () AS wsum
        FROM w
    )
    SELECT CAST(label AS BIGINT) AS label, n AS n_samples,
           ROUND(CAST(n AS DOUBLE) / n_total, 6) AS freq,
           ROUND(raw_w, 9) AS raw_weight,
           ROUND(raw_w * k / wsum, 6) AS balanced_weight,
           ROUND((CAST(n_total AS DOUBLE) / k) / n, 6)
               AS inverse_freq_weight
    FROM norm
    ORDER BY label
    """,
)
def ml_class_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced loss weights by EFFECTIVE NUMBER of samples (Cui
    et al. CVPR'19, β = 0.999): w_c ∝ (1−β)/(1−β^{n_c}) — between
    uniform (β=0) and inverse-frequency (β→1), because the marginal
    value of the n-th sample of a class decays geometrically.
    Published per label beside the plain inverse-frequency weight
    (the naive alternative that over-boosts rare classes), normalized
    so the k weights average 1 — the table a training loop multiplies
    into its loss, feeding the imbalance diagnosis
    ``sample_balanced_downsample`` acts on. POWER(0.999, n) is one
    deterministic libm call per class on an exact integer count.

    Scale: one aggregate to k label cells; window algebra on k rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    counts = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w_all = Window.partitionBy()
    w = counts.select(
        "label",
        "n",
        ((1 - 0.999) / (1 - F.pow(F.lit(0.999), F.col("n")))).alias("raw_w"),
        F.sum("n").over(w_all).cast("long").alias("n_total"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("k"),
    )
    norm = w.select(
        "*", F.sum("raw_w").over(w_all).alias("wsum")
    )
    return norm.select(
        F.col("label").cast("long").alias("label"),
        F.col("n").alias("n_samples"),
        F.round(F.col("n").cast("double") / F.col("n_total"), 6).alias("freq"),
        F.round(F.col("raw_w"), 9).alias("raw_weight"),
        F.round(F.col("raw_w") * F.col("k") / F.col("wsum"), 6).alias(
            "balanced_weight"
        ),
        F.round(
            (F.col("n_total").cast("double") / F.col("k")) / F.col("n"), 6
        ).alias("inverse_freq_weight"),
    ).orderBy("label")


@register(
    "ml_calibration_spiegelhalter",
    """
    WITH s AS (
        SELECT LEAST(value / 500.0, 1.0) AS p,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ), folds AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR((y - p) * (1 - 2 * p) * 1e9)
                             AS BIGINT)) AS BIGINT) AS numq,
               CAST(SUM(CAST(FLOOR((1 - 2 * p) * (1 - 2 * p) * p
                                   * (1 - p) * 1e9) AS BIGINT))
                    AS BIGINT) AS varq
        FROM s
    )
    SELECT n,
           ROUND(numq / 1e9, 4) AS z_numerator,
           ROUND(varq / 1e9, 4) AS z_variance,
           ROUND((numq / 1e9) / SQRT(varq / 1e9), 4) AS spiegelhalter_z
    FROM folds
    """,
)
def ml_calibration_spiegelhalter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spiegelhalter's calibration Z (Spiegelhalter '86): the Brier
    score decomposes so that under perfect calibration E[Σ(y−p)(1−2p)]
    = 0 with variance Σ(1−2p)²p(1−p), giving a BINNING-FREE
    calibration test — no arbitrary bin edges, unlike
    ``ml_calibration_error``'s ECE and the binned
    ``ml_brier_decomposition`` (use it as the tie-breaker when bin
    choices disagree). Both folds are floor-quantized per-row at 1e-9
    and summed as integers over the same value/500 forecast as the
    rest of the calibration family.

    Scale: one map-side-combined pass; two integer cells."""
    ev = load_table(spark, sf_dir, "events")
    p = F.least(F.col("value") / 500.0, F.lit(1.0))
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    s = ev.select(p.alias("p"), y.alias("y"))
    folds = s.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.floor(
                (F.col("y") - F.col("p")) * (1 - 2 * F.col("p")) * 1e9
            ).cast("long")
        )
        .cast("long")
        .alias("numq"),
        F.sum(
            F.floor(
                (1 - 2 * F.col("p"))
                * (1 - 2 * F.col("p"))
                * F.col("p")
                * (1 - F.col("p"))
                * 1e9
            ).cast("long")
        )
        .cast("long")
        .alias("varq"),
    )
    return folds.select(
        "n",
        F.round(F.col("numq") / 1e9, 4).alias("z_numerator"),
        F.round(F.col("varq") / 1e9, 4).alias("z_variance"),
        F.round(
            (F.col("numq") / 1e9) / F.sqrt(F.col("varq") / 1e9), 4
        ).alias("spiegelhalter_z"),
    )


@register(
    "stats_dixon_q",
    """
    WITH per_nation AS (
        SELECT n.n_name,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name
    ), ranked AS (
        SELECT n_name, rev,
               ROW_NUMBER() OVER (ORDER BY rev, n_name) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM per_nation
    ), ends AS (
        SELECT
            MAX(CASE WHEN rn = 1 THEN rev END) AS x1,
            MAX(CASE WHEN rn = 2 THEN rev END) AS x2,
            MAX(CASE WHEN rn = n - 1 THEN rev END) AS xn1,
            MAX(CASE WHEN rn = n THEN rev END) AS xn,
            MAX(CASE WHEN rn = 1 THEN n_name END) AS low_name,
            MAX(CASE WHEN rn = n THEN n_name END) AS high_name,
            MAX(n) AS n
        FROM ranked
    )
    SELECT n AS n_groups,
           low_name, high_name,
           ROUND(CAST(x2 - x1 AS DOUBLE) / (xn - x1), 6) AS q_low,
           ROUND(CAST(xn - xn1 AS DOUBLE) / (xn - x1), 6) AS q_high,
           0.406 AS q_crit_05_n25,
           CASE WHEN CAST(x2 - x1 AS DOUBLE) / (xn - x1) > 0.406
                THEN 1 ELSE 0 END AS low_is_outlier,
           CASE WHEN CAST(xn - xn1 AS DOUBLE) / (xn - x1) > 0.406
                THEN 1 ELSE 0 END AS high_is_outlier
    FROM ends
    """,
)
def stats_dixon_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dixon's Q test (Dixon '50) on the 25 per-nation revenue totals:
    Q = gap/range for the smallest and largest values against the
    n=25, α=0.05 critical value 0.406 (Rorabacher '91 table) — the
    SMALL-SAMPLE outlier test for exactly the situation where z-score
    rules (``stats_esd_outliers``, ``stats_grubbs``) lose power: a
    couple dozen group aggregates, one suspicious extreme. Revenue
    totals are exact cents; both Q ratios are single divisions of
    integer gaps.

    Scale: one aggregate to 25 nation cells (broadcast dims); the
    ranking window runs over 25 rows."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per_nation = (
        o.join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("long"))
            .cast("long")
            .alias("rev")
        )
    )
    w = Window.orderBy("rev", "n_name")
    w_all = Window.partitionBy()
    ranked = per_nation.select(
        "n_name",
        "rev",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
    )
    ends = ranked.agg(
        F.max(F.when(F.col("rn") == 1, F.col("rev"))).alias("x1"),
        F.max(F.when(F.col("rn") == 2, F.col("rev"))).alias("x2"),
        F.max(F.when(F.col("rn") == F.col("n") - 1, F.col("rev"))).alias(
            "xn1"
        ),
        F.max(F.when(F.col("rn") == F.col("n"), F.col("rev"))).alias("xn"),
        F.max(F.when(F.col("rn") == 1, F.col("n_name"))).alias("low_name"),
        F.max(F.when(F.col("rn") == F.col("n"), F.col("n_name"))).alias(
            "high_name"
        ),
        F.max("n").alias("n"),
    )
    q_low = (F.col("x2") - F.col("x1")).cast("double") / (
        F.col("xn") - F.col("x1")
    )
    q_high = (F.col("xn") - F.col("xn1")).cast("double") / (
        F.col("xn") - F.col("x1")
    )
    return ends.select(
        F.col("n").alias("n_groups"),
        "low_name",
        "high_name",
        F.round(q_low, 6).alias("q_low"),
        F.round(q_high, 6).alias("q_high"),
        F.lit(0.406).alias("q_crit_05_n25"),
        F.when(q_low > 0.406, 1).otherwise(0).alias("low_is_outlier"),
        F.when(q_high > 0.406, 1).otherwise(0).alias("high_is_outlier"),
    )


@register(
    "stats_cucconi",
    """
    WITH v AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_y,
               CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS cents
        FROM lineitem WHERE l_returnflag IN ('R', 'A')
    ), grp AS (
        SELECT cents, CAST(COUNT(*) AS BIGINT) AS t,
               CAST(SUM(is_y) AS BIGINT) AS cy
        FROM v GROUP BY cents
    ), tot AS (
        SELECT CAST(SUM(t) AS BIGINT) AS nn, CAST(SUM(cy) AS BIGINT) AS m
        FROM grp
    ), cum AS (
        SELECT t, cy,
               COALESCE(SUM(t) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED
                   PRECEDING AND 1 PRECEDING), 0) AS base
        FROM grp
    ), folds AS (
        SELECT
            CAST(SUM(cy * CAST((2 * base + t + 1) AS HUGEINT)
                        * (2 * base + t + 1)) AS HUGEINT) AS s4r2,
            CAST(SUM(cy * CAST((2 * (nn + 1) - (2 * base + t + 1))
                               AS HUGEINT)
                        * (2 * (nn + 1) - (2 * base + t + 1)))
                 AS HUGEINT) AS s4a2
        FROM cum CROSS JOIN tot
    ), sc AS (
        SELECT t.nn, t.m, t.nn - t.m AS n,
               (6.0 * (CAST(f.s4r2 AS DOUBLE) / 4)
                - t.m * (t.nn + 1.0) * (2 * t.nn + 1))
               / SQRT(CAST(t.m AS DOUBLE) * (t.nn - t.m) * (t.nn + 1)
                      * (2 * t.nn + 1) * (8 * t.nn + 11) / 5) AS u,
               (6.0 * (CAST(f.s4a2 AS DOUBLE) / 4)
                - t.m * (t.nn + 1.0) * (2 * t.nn + 1))
               / SQRT(CAST(t.m AS DOUBLE) * (t.nn - t.m) * (t.nn + 1)
                      * (2 * t.nn + 1) * (8 * t.nn + 11) / 5) AS vv,
               2.0 * (CAST(t.nn AS DOUBLE) * t.nn - 4)
               / ((2 * t.nn + 5.0) * (8 * t.nn + 11)) - 1 AS rho
        FROM folds f CROSS JOIN tot t
    )
    SELECT m AS n_y, n AS n_x,
           ROUND(u, 4) AS u_stat, ROUND(vv, 4) AS v_stat,
           ROUND(rho, 6) AS rho,
           ROUND((u * u + vv * vv - 2 * rho * u * vv)
                 / (2 * (1 - rho * rho)), 4) AS cucconi_c
    FROM sc
    """,
)
def stats_cucconi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cucconi's joint location-scale test (Cucconi '68; Marozzi '09
    revival) on returned-vs-available revenues: U standardizes Σr²
    (squared midranks of sample Y), V standardizes the anti-rank sum
    Σ(N+1−r)², and C = (U²+V²−2ρUV)/(2(1−ρ²)) ~ χ²₂ rejects if EITHER
    the center or the spread moved — one test instead of the
    Mann–Whitney × Mood pair, and historically it PREDATES the
    better-known Lepage. In DOUBLED half-units 2r = 2·base+t+1 is an
    integer per tie group, so Σ4r² and Σ4(N+1−r)² fold as exact
    128-bit integers over the distinct-value frame; ρ and both
    standardizations are closed-form in N, m.

    Scale: the standard demote-to-distinct posture — one shuffle to
    distinct cents, O(distinct) windows, scalar algebra."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    v = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_y"),
        F.floor(F.col("l_extendedprice") * 100.0).cast("long").alias("cents"),
    )
    grp = v.groupBy("cents").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum("is_y").cast("long").alias("cy"),
    )
    tot = grp.agg(
        F.sum("t").cast("long").alias("nn"),
        F.sum("cy").cast("long").alias("m"),
    )
    # round-6 window-audit fix: bucketed two-level cumulative (exclusive
    # base = inclusive sum minus the tie group's own count)
    cum = with_global_order(grp, "cents", cumsums={"ct": "t"}).select(
        "t", "cy", (F.col("ct") - F.col("t")).alias("base")
    )
    r2 = 2 * F.col("base") + F.col("t") + 1
    a2 = 2 * (F.col("nn") + 1) - r2
    folds = cum.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.col("cy") * r2.cast("decimal(38,0)") * r2).alias("s4r2"),
        F.sum(F.col("cy") * a2.cast("decimal(38,0)") * a2).alias("s4a2"),
    )
    nn, m = F.col("nn"), F.col("m")
    denom = F.sqrt(
        m.cast("double")
        * (nn - m)
        * (nn + 1)
        * (2 * nn + 1)
        * (8 * nn + 11)
        / 5
    )
    u = (
        6.0 * (F.col("s4r2").cast("double") / 4)
        - m * (nn + F.lit(1.0)) * (2 * nn + 1)
    ) / denom
    vv = (
        6.0 * (F.col("s4a2").cast("double") / 4)
        - m * (nn + F.lit(1.0)) * (2 * nn + 1)
    ) / denom
    rho = 2.0 * (nn.cast("double") * nn - 4) / (
        (2 * nn + F.lit(5.0)) * (8 * nn + 11)
    ) - 1
    sc = folds.crossJoin(F.broadcast(tot)).select(
        m.alias("n_y"),
        (nn - m).alias("n_x"),
        u.alias("u"),
        vv.alias("vv"),
        rho.alias("rho"),
    )
    return sc.select(
        "n_y",
        "n_x",
        F.round(F.col("u"), 4).alias("u_stat"),
        F.round(F.col("vv"), 4).alias("v_stat"),
        F.round(F.col("rho"), 6).alias("rho"),
        F.round(
            (
                F.col("u") * F.col("u")
                + F.col("vv") * F.col("vv")
                - 2 * F.col("rho") * F.col("u") * F.col("vv")
            )
            / (2 * (1 - F.col("rho") * F.col("rho"))),
            4,
        ).alias("cucconi_c"),
    )


@register(
    "stats_lepage",
    """
    WITH v AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_y,
               CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS cents
        FROM lineitem WHERE l_returnflag IN ('R', 'A')
    ), grp AS (
        SELECT cents, CAST(COUNT(*) AS BIGINT) AS t,
               CAST(SUM(is_y) AS BIGINT) AS cy
        FROM v GROUP BY cents
    ), tot AS (
        SELECT CAST(SUM(t) AS BIGINT) AS nn, CAST(SUM(cy) AS BIGINT) AS m,
               CAST(SUM(t * (t - 1) * (t + 1)) AS BIGINT) AS tie3
        FROM grp
    ), cum AS (
        SELECT t, cy,
               COALESCE(SUM(t) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED
                   PRECEDING AND 1 PRECEDING), 0) AS base
        FROM grp
    ), folds AS (
        SELECT
            CAST(SUM(cy * (2 * base + t + 1)) AS BIGINT) AS w2,
            CAST(SUM(cy * LEAST(2 * base + t + 1,
                                2 * (nn + 1) - (2 * base + t + 1)))
                 AS BIGINT) AS a2
        FROM cum CROSS JOIN tot
    ), sc AS (
        SELECT t.nn, t.m, t.nn - t.m AS n,
               (f.w2 / 2.0 - t.m * (t.nn + 1.0) / 2)
               / SQRT(CAST(t.m AS DOUBLE) * (t.nn - t.m)
                      / (12.0 * t.nn * (t.nn - 1))
                      * (CAST(t.nn AS DOUBLE) * t.nn * t.nn - t.nn
                         - t.tie3)) AS z_w,
               CASE WHEN t.nn % 2 = 0 THEN
                   (f.a2 / 2.0 - t.m * (t.nn + 2.0) / 4)
                   / SQRT(CAST(t.m AS DOUBLE) * (t.nn - t.m)
                          * (t.nn + 2) * (t.nn - 2)
                          / (48.0 * (t.nn - 1)))
               ELSE
                   (f.a2 / 2.0 - t.m * (t.nn + 1.0) * (t.nn + 1)
                    / (4.0 * t.nn))
                   / SQRT(CAST(t.m AS DOUBLE) * (t.nn - t.m) * (t.nn + 1)
                          * (3 + CAST(t.nn AS DOUBLE) * t.nn)
                          / (48.0 * t.nn * t.nn))
               END AS z_a
        FROM folds f CROSS JOIN tot t
    )
    SELECT m AS n_y, n AS n_x,
           ROUND(z_w, 4) AS z_wilcoxon,
           ROUND(z_a, 4) AS z_ansari,
           ROUND(z_w * z_w + z_a * z_a, 4) AS lepage_l
    FROM sc
    """,
)
def stats_lepage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lepage's joint test (Lepage '71): L = Z²_Wilcoxon + Z²_Ansari ~
    χ²₂ — the textbook location-scale combination, reported beside
    ``stats_cucconi`` because the two disagree exactly when the
    location and scale shifts interact (Cucconi models their
    correlation ρ, Lepage assumes the components independent).
    Wilcoxon uses the tie-CORRECTED variance (N³−N−Σt(t²−1) term);
    Ansari–Bradley scores min(r, N+1−r) fold in half-units with the
    standard even/odd-N moments. All sums are exact integers off the
    distinct-value frame.

    Scale: identical posture to ``stats_cucconi`` — one grouped
    shuffle, O(distinct) window, closed-form scalars."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    v = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_y"),
        F.floor(F.col("l_extendedprice") * 100.0).cast("long").alias("cents"),
    )
    grp = v.groupBy("cents").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum("is_y").cast("long").alias("cy"),
    )
    tot = grp.agg(
        F.sum("t").cast("long").alias("nn"),
        F.sum("cy").cast("long").alias("m"),
        F.sum(F.col("t") * (F.col("t") - 1) * (F.col("t") + 1))
        .cast("long")
        .alias("tie3"),
    )
    # round-6 window-audit fix: bucketed two-level cumulative (exclusive
    # base = inclusive sum minus the tie group's own count)
    cum = with_global_order(grp, "cents", cumsums={"ct": "t"}).select(
        "t", "cy", (F.col("ct") - F.col("t")).alias("base")
    )
    r2 = 2 * F.col("base") + F.col("t") + 1
    folds = cum.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.col("cy") * r2).cast("long").alias("w2"),
        F.sum(
            F.col("cy") * F.least(r2, 2 * (F.col("nn") + 1) - r2)
        )
        .cast("long")
        .alias("a2"),
    )
    nn, m = F.col("nn"), F.col("m")
    z_w = (F.col("w2") / 2.0 - m * (nn + F.lit(1.0)) / 2) / F.sqrt(
        m.cast("double")
        * (nn - m)
        / (12.0 * nn * (nn - 1))
        * (nn.cast("double") * nn * nn - nn - F.col("tie3"))
    )
    z_a_even = (F.col("a2") / 2.0 - m * (nn + F.lit(2.0)) / 4) / F.sqrt(
        m.cast("double") * (nn - m) * (nn + 2) * (nn - 2) / (48.0 * (nn - 1))
    )
    z_a_odd = (
        F.col("a2") / 2.0 - m * (nn + F.lit(1.0)) * (nn + 1) / (4.0 * nn)
    ) / F.sqrt(
        m.cast("double")
        * (nn - m)
        * (nn + 1)
        * (3 + nn.cast("double") * nn)
        / (48.0 * nn * nn)
    )
    z_a = F.when(nn % 2 == 0, z_a_even).otherwise(z_a_odd)
    sc = folds.crossJoin(F.broadcast(tot)).select(
        m.alias("n_y"),
        (nn - m).alias("n_x"),
        z_w.alias("z_w"),
        z_a.alias("z_a"),
    )
    return sc.select(
        "n_y",
        "n_x",
        F.round(F.col("z_w"), 4).alias("z_wilcoxon"),
        F.round(F.col("z_a"), 4).alias("z_ansari"),
        F.round(
            F.col("z_w") * F.col("z_w") + F.col("z_a") * F.col("z_a"), 4
        ).alias("lepage_l"),
    )


@register(
    "stats_quade_test",
    """
    WITH cell AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS blk,
               o_orderpriority AS trt,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS cell_v
        FROM orders GROUP BY 1, 2
    ), full_blk AS (
        SELECT blk FROM cell GROUP BY blk HAVING COUNT(*) = 5
    ), rnk AS (
        SELECT c.blk, c.trt,
               RANK() OVER (PARTITION BY c.blk ORDER BY c.cell_v)
               + (COUNT(*) OVER (PARTITION BY c.blk, c.cell_v) - 1) / 2.0
                   AS r
        FROM cell c JOIN full_blk f ON f.blk = c.blk
    ), ranges AS (
        SELECT c.blk, MAX(c.cell_v) - MIN(c.cell_v) AS rng
        FROM cell c JOIN full_blk f ON f.blk = c.blk
        GROUP BY c.blk
    ), qrank AS (
        SELECT blk,
               RANK() OVER (ORDER BY rng)
               + (COUNT(*) OVER (PARTITION BY rng) - 1) / 2.0 AS q
        FROM ranges
    ), s AS (
        SELECT r.trt,
               CAST(2 * q.q * (2 * r.r - 6) AS BIGINT) AS s4
        FROM rnk r JOIN qrank q ON q.blk = r.blk
    ), folds AS (
        SELECT CAST(SUM(CAST(s4 AS HUGEINT) * s4) AS HUGEINT) AS a16,
               CAST((SELECT COUNT(*) FROM full_blk) AS BIGINT) AS b
        FROM s
    ), sj AS (
        SELECT CAST(SUM(sj2) AS HUGEINT) AS b16 FROM (
            SELECT CAST(SUM(s4) AS HUGEINT) * CAST(SUM(s4) AS HUGEINT)
                   AS sj2
            FROM s GROUP BY trt
        )
    )
    SELECT f.b AS n_blocks, CAST(5 AS BIGINT) AS k,
           CAST(4 AS BIGINT) AS df1,
           CAST((f.b - 1) * 4 AS BIGINT) AS df2,
           ROUND((f.b - 1.0) * CAST(s.b16 AS DOUBLE)
                 / (f.b * CAST(f.a16 AS DOUBLE)
                    - CAST(s.b16 AS DOUBLE)), 4) AS f_quade
    FROM folds f CROSS JOIN sj s
    """,
)
def stats_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade's test (Quade '79) on the month-block × priority design:
    unlike Friedman (which gives every month equal say), blocks are
    WEIGHTED by the rank Q_i of their within-block RANGE, so months
    where priorities actually differ dominate — the more powerful
    choice when effect sizes vary across blocks (k ≤ 5, Conover's
    guidance). S_ij = Q_i(r_ij − (k+1)/2) is held in QUARTER-units so
    the doubled products 2Q·(2r−6) are exact integers, A = ΣS²,
    B = ΣS_j²/b fold in 128-bit, and F = (b−1)B/(A−B) is evaluated
    with b multiplied through — no rational intermediate anywhere.

    Scale: O(months × 5) cells; two small rank windows."""
    o = load_table(spark, sf_dir, "orders")
    cell = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("blk"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("long"))
        .cast("long")
        .alias("cell_v")
    )
    full_blk = (
        cell.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == 5)
        .select("blk")
    )
    w_rank = Window.partitionBy("blk").orderBy("cell_v")
    w_tie = Window.partitionBy("blk", "cell_v")
    rnk = cell.join(full_blk, "blk").select(
        "blk",
        "trt",
        (
            F.rank().over(w_rank)
            + (F.count(F.lit(1)).over(w_tie) - 1) / F.lit(2.0)
        ).alias("r"),
    )
    ranges = (
        cell.join(full_blk, "blk")
        .groupBy("blk")
        .agg((F.max("cell_v") - F.min("cell_v")).alias("rng"))
    )
    w_q = Window.orderBy("rng")
    w_qt = Window.partitionBy("rng")
    qrank = ranges.select(
        "blk",
        (
            F.rank().over(w_q)
            + (F.count(F.lit(1)).over(w_qt) - 1) / F.lit(2.0)
        ).alias("q"),
    )
    s = rnk.join(qrank, "blk").select(
        "trt",
        (2 * F.col("q") * (2 * F.col("r") - 6)).cast("long").alias("s4"),
    )
    folds = s.agg(
        F.sum(F.col("s4").cast("decimal(38,0)") * F.col("s4")).alias("a16")
    )
    b_cnt = full_blk.agg(F.count(F.lit(1)).cast("long").alias("b"))
    sj = (
        s.groupBy("trt")
        .agg(F.sum("s4").cast("decimal(38,0)").alias("sjv"))
        .agg(F.sum(F.col("sjv") * F.col("sjv")).alias("b16"))
    )
    b = F.col("b")
    return (
        folds.crossJoin(F.broadcast(b_cnt))
        .crossJoin(F.broadcast(sj))
        .select(
            b.alias("n_blocks"),
            F.lit(5).cast("long").alias("k"),
            F.lit(4).cast("long").alias("df1"),
            ((b - 1) * 4).cast("long").alias("df2"),
            F.round(
                (b - F.lit(1.0)) * F.col("b16").cast("double")
                / (
                    b * F.col("a16").cast("double")
                    - F.col("b16").cast("double")
                ),
                4,
            ).alias("f_quade"),
        )
    )


@register(
    "sample_ratio_estimator",
    """
    WITH aux AS (
        SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS x
        FROM lineitem GROUP BY l_orderkey
    ), base AS (
        SELECT o.o_orderkey,
               CAST(FLOOR(o.o_totalprice * 100.0) AS BIGINT) AS y,
               a.x,
               (('0x' || SUBSTRING(MD5(CAST(o.o_orderkey AS VARCHAR)),
                                   1, 15))::BIGINT) AS h60
        FROM orders o JOIN aux a ON a.l_orderkey = o.o_orderkey
    ), pop AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pop,
               CAST(SUM(y) AS BIGINT) AS y_tot,
               CAST(SUM(x) AS BIGINT) AS x_tot
        FROM base
    ), samp AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_s,
               CAST(SUM(y) AS BIGINT) AS y_s,
               CAST(SUM(x) AS BIGINT) AS x_s
        FROM base
        WHERE h60 < CAST(FLOOR(0.1 * 1152921504606846976) AS BIGINT)
    )
    SELECT p.n_pop, s.n_s AS n_sample,
           ROUND(p.y_tot / 100.0, 2) AS true_total,
           ROUND((CAST(s.y_s AS DOUBLE) * p.n_pop / s.n_s) / 100.0, 2)
               AS expansion_estimate,
           ROUND((CAST(s.y_s AS DOUBLE) / s.x_s * p.x_tot) / 100.0, 2)
               AS ratio_estimate,
           ROUND(ABS(CAST(s.y_s AS DOUBLE) * p.n_pop / s.n_s - p.y_tot)
                 / p.y_tot, 6) AS rel_err_expansion,
           ROUND(ABS(CAST(s.y_s AS DOUBLE) / s.x_s * p.x_tot - p.y_tot)
                 / p.y_tot, 6) AS rel_err_ratio
    FROM pop p CROSS JOIN samp s
    """,
)
def sample_ratio_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio estimation with a known auxiliary total (Cochran ch. 6):
    from a deterministic 10% hash sample of orders, estimate total
    revenue two ways — the plain expansion N·ȳ_s and the ratio
    estimator (Σy_s/Σx_s)·X using line-count as the auxiliary whose
    population total IS known (it's COUNT(lineitem)) — and audit both
    against the truth in the same row. Revenue correlates with
    line count only moderately on this fixture (within-order price
    variance), so the two estimators trade places sample-by-sample —
    exactly why BOTH audits are published side by side instead of
    assuming the textbook ratio win; the tests pin both errors under
    5% (``sample_horvitz_thompson``'s design-based cousin).

    Scale: one orderkey-co-located join + two scalar reduces; the
    hash sample is reproducible at any parallelism."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    aux = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    base = o.join(aux, o.o_orderkey == aux.l_orderkey).select(
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("y"),
        "x",
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15),
            16,
            10,
        )
        .cast("bigint")
        .alias("h60"),
    )
    pop = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_pop"),
        F.sum("y").cast("long").alias("y_tot"),
        F.sum("x").cast("long").alias("x_tot"),
    )
    thresh = F.floor(F.lit(0.1) * F.lit(float(1 << 60))).cast("long")
    samp = base.filter(F.col("h60") < thresh).agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("y").cast("long").alias("y_s"),
        F.sum("x").cast("long").alias("x_s"),
    )
    exp_est = F.col("y_s").cast("double") * F.col("n_pop") / F.col("n_s")
    ratio_est = F.col("y_s").cast("double") / F.col("x_s") * F.col("x_tot")
    return pop.crossJoin(F.broadcast(samp)).select(
        "n_pop",
        F.col("n_s").alias("n_sample"),
        F.round(F.col("y_tot") / 100.0, 2).alias("true_total"),
        F.round(exp_est / 100.0, 2).alias("expansion_estimate"),
        F.round(ratio_est / 100.0, 2).alias("ratio_estimate"),
        F.round(
            F.abs(exp_est - F.col("y_tot")) / F.col("y_tot"), 6
        ).alias("rel_err_expansion"),
        F.round(
            F.abs(ratio_est - F.col("y_tot")) / F.col("y_tot"), 6
        ).alias("rel_err_ratio"),
    )


@register(
    "ml_exposure_fairness",
    """
    WITH ranked AS (
        SELECT p.p_brand,
               CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100.0) AS BIGINT))
                    AS BIGINT) AS rel,
               ROW_NUMBER() OVER (
                   ORDER BY SUM(CAST(FLOOR(l.l_extendedprice * 100.0)
                                     AS BIGINT)) DESC, p.p_partkey)
                   AS rnk
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand, p.p_partkey
    ), top AS (
        SELECT * FROM ranked WHERE rnk <= 100
    ), per_grp AS (
        SELECT p_brand,
               CAST(SUM(CAST(FLOOR(1.0 / LOG2(rnk + 1.0) * 1e9)
                             AS BIGINT)) AS BIGINT) AS expo_q,
               CAST(SUM(rel) AS BIGINT) AS rel_sum,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM top GROUP BY p_brand
    ), tot AS (
        SELECT CAST(SUM(expo_q) AS BIGINT) AS expo_tot,
               CAST(SUM(rel_sum) AS BIGINT) AS rel_tot
        FROM per_grp
    )
    SELECT g.p_brand AS brand, g.n_items,
           ROUND(CAST(g.expo_q AS DOUBLE) / t.expo_tot, 6)
               AS exposure_share,
           ROUND(CAST(g.rel_sum AS DOUBLE) / t.rel_tot, 6)
               AS relevance_share,
           ROUND((CAST(g.expo_q AS DOUBLE) / t.expo_tot)
                 / (CAST(g.rel_sum AS DOUBLE) / t.rel_tot), 4)
               AS disparity_ratio
    FROM per_grp g CROSS JOIN tot t
    ORDER BY exposure_share DESC, brand
    """,
)
def ml_exposure_fairness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fairness of exposure in a ranking (Singh & Joachims KDD'18):
    rank the top-100 parts by revenue, weight position r by the DCG
    exposure 1/log₂(r+1), and compare each BRAND's share of exposure
    against its share of relevance (revenue) — equal shares
    (disparity_ratio = 1) is the "exposure proportional to merit"
    criterion; a brand above 1 hogs ranking real estate beyond its
    revenue. This is the group-level audit a ranked-results surface
    runs beside ``ml_ndcg``'s pure quality number. Exposure weights
    floor-quantize at 1e-9; relevance is exact cents.

    Scale: one partial→final aggregate to parts, a top-100 window,
    then ≤25 brand cells."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    ranked = (
        li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100.0).cast("long"))
            .cast("long")
            .alias("rel")
        )
        .select(
            "p_brand",
            "rel",
            F.row_number()
            .over(Window.orderBy(F.desc("rel"), F.asc("p_partkey")))
            .alias("rnk"),
        )
        .filter(F.col("rnk") <= 100)
    )
    per_grp = ranked.groupBy("p_brand").agg(
        F.sum(
            F.floor(1.0 / F.log2(F.col("rnk") + F.lit(1.0)) * 1e9).cast(
                "long"
            )
        )
        .cast("long")
        .alias("expo_q"),
        F.sum("rel").cast("long").alias("rel_sum"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )
    tot = per_grp.agg(
        F.sum("expo_q").cast("long").alias("expo_tot"),
        F.sum("rel_sum").cast("long").alias("rel_tot"),
    )
    es = F.col("expo_q").cast("double") / F.col("expo_tot")
    rs = F.col("rel_sum").cast("double") / F.col("rel_tot")
    return (
        per_grp.crossJoin(F.broadcast(tot))
        .select(
            F.col("p_brand").alias("brand"),
            "n_items",
            F.round(es, 6).alias("exposure_share"),
            F.round(rs, 6).alias("relevance_share"),
            F.round(es / rs, 4).alias("disparity_ratio"),
        )
        .orderBy(F.desc("exposure_share"), "brand")
    )


@register(
    "text_keyword_log_odds",
    """
    WITH srcs AS (
        SELECT source, ROW_NUMBER() OVER (ORDER BY source) AS rn
        FROM (SELECT DISTINCT source FROM documents)
    ), words AS (
        SELECT s.rn AS side, word, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents d
        JOIN srcs s ON s.source = d.source AND s.rn <= 2,
        UNNEST(STRING_SPLIT(TRIM(d.text), ' ')) AS t(word)
        WHERE word <> ''
        GROUP BY s.rn, word
    ), wide AS (
        SELECT word,
               CAST(COALESCE(SUM(CASE WHEN side = 1 THEN c END), 0)
                    AS BIGINT) AS y1,
               CAST(COALESCE(SUM(CASE WHEN side = 2 THEN c END), 0)
                    AS BIGINT) AS y2,
               CAST(SUM(c) AS BIGINT) AS a_w
        FROM words GROUP BY word
    ), tot AS (
        SELECT CAST(SUM(y1) AS BIGINT) AS n1,
               CAST(SUM(y2) AS BIGINT) AS n2,
               CAST(SUM(a_w) AS BIGINT) AS a0
        FROM wide
    ), z AS (
        SELECT w.word, w.y1, w.y2,
               (LN((w.y1 + w.a_w * 0.01)
                   / (t.n1 + t.a0 * 0.01 - w.y1 - w.a_w * 0.01))
                - LN((w.y2 + w.a_w * 0.01)
                     / (t.n2 + t.a0 * 0.01 - w.y2 - w.a_w * 0.01)))
               / SQRT(1.0 / (w.y1 + w.a_w * 0.01)
                      + 1.0 / (w.y2 + w.a_w * 0.01)) AS zscore
        FROM wide w CROSS JOIN tot t
    )
    SELECT word, y1 AS count_src1, y2 AS count_src2,
           ROUND(zscore, 4) AS log_odds_z
    FROM z
    ORDER BY ABS(zscore) DESC, word
    LIMIT 10
    """,
)
def text_keyword_log_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monroe–Colaresi–Quinn log-odds ratio with an informative
    Dirichlet prior ('Fightin' Words', Pol. Analysis '08) between the
    two lexicographically-first sources: δ_w = logit₁(w) − logit₂(w)
    with the corpus-wide counts (scaled to 1%) as prior
    pseudo-counts, standardized by √(1/(y₁+a) + 1/(y₂+a)) — the
    principled "which words distinguish these two corpora" list that
    raw tf-idf contrast gets wrong for rare words (the prior shrinks
    them). Top-10 by |z| published; counts are exact integers, the
    logits deterministic closed forms.

    Scale: one explode-aggregate to (side, word), a word-level
    pivot, scalar algebra per word — shuffle ∝ vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    srcs = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            F.row_number().over(Window.orderBy("source")).alias("rn"),
        )
        .filter(F.col("rn") <= 2)
    )
    words = (
        docs.join(srcs, "source")
        .select(
            F.col("rn").alias("side"),
            F.explode(F.split(F.trim("text"), " ")).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("side", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wide = words.groupBy("word").agg(
        F.coalesce(F.sum(F.when(F.col("side") == 1, F.col("c"))), F.lit(0))
        .cast("long")
        .alias("y1"),
        F.coalesce(F.sum(F.when(F.col("side") == 2, F.col("c"))), F.lit(0))
        .cast("long")
        .alias("y2"),
        F.sum("c").cast("long").alias("a_w"),
    )
    tot = wide.agg(
        F.sum("y1").cast("long").alias("n1"),
        F.sum("y2").cast("long").alias("n2"),
        F.sum("a_w").cast("long").alias("a0"),
    )
    a_w = F.col("a_w") * 0.01
    a0 = F.col("a0") * 0.01
    delta = F.log(
        (F.col("y1") + a_w) / (F.col("n1") + a0 - F.col("y1") - a_w)
    ) - F.log((F.col("y2") + a_w) / (F.col("n2") + a0 - F.col("y2") - a_w))
    z = delta / F.sqrt(
        1.0 / (F.col("y1") + a_w) + 1.0 / (F.col("y2") + a_w)
    )
    return (
        wide.crossJoin(F.broadcast(tot))
        .select(
            "word",
            F.col("y1").alias("count_src1"),
            F.col("y2").alias("count_src2"),
            F.round(z, 4).alias("log_odds_z"),
        )
        .orderBy(F.abs(F.col("log_odds_z")).desc(), F.asc("word"))
        .limit(10)
    )


@register(
    "ml_kappa_weighted",
    """
    WITH per_cust AS (
        SELECT o_custkey,
               MIN({'d': o_orderdate, 'k': o_orderkey,
                    'p': o_orderpriority}).p AS first_p,
               MAX({'d': o_orderdate, 'k': o_orderkey,
                    'p': o_orderpriority}).p AS last_p
        FROM orders GROUP BY o_custkey
    ), cells AS (
        SELECT CAST(SUBSTR(first_p, 1, 1) AS BIGINT) AS i,
               CAST(SUBSTR(last_p, 1, 1) AS BIGINT) AS j,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM per_cust GROUP BY 1, 2
    ), marg AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells
    ), ri AS (
        SELECT i, CAST(SUM(c) AS BIGINT) AS ci FROM cells GROUP BY i
    ), cj AS (
        SELECT j, CAST(SUM(c) AS BIGINT) AS cj FROM cells GROUP BY j
    ), obs AS (
        SELECT
            CAST(SUM(c * (i - j) * (i - j)) AS BIGINT) AS oq,
            CAST(SUM(c * ABS(i - j)) AS BIGINT) AS ol
        FROM cells
    ), expd AS (
        SELECT
            CAST(SUM(CAST(FLOOR(CAST(r.ci AS DOUBLE) * s.cj / m.n
                                * (r.i - s.j) * (r.i - s.j) * 1e6)
                          AS BIGINT)) AS BIGINT) AS eq,
            CAST(SUM(CAST(FLOOR(CAST(r.ci AS DOUBLE) * s.cj / m.n
                                * ABS(r.i - s.j) * 1e6) AS BIGINT))
                 AS BIGINT) AS el
        FROM ri r CROSS JOIN cj s CROSS JOIN marg m
    )
    SELECT m.n AS n_cust,
           ROUND(1 - CAST(o.oq AS DOUBLE) / (e.eq / 1e6), 6)
               AS kappa_quadratic,
           ROUND(1 - CAST(o.ol AS DOUBLE) / (e.el / 1e6), 6)
               AS kappa_linear
    FROM obs o CROSS JOIN expd e CROSS JOIN marg m
    """,
)
def ml_kappa_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Cohen's kappa (Cohen '68) on the first→last priority
    transition table — quadratic and linear weights in one pass:
    κ_w = 1 − Σw·O/Σw·E punishes a 1→5 disagreement 16× (quadratic)
    or 4× (linear) harder than 1→2, which the unweighted
    ``ml_cohens_kappa`` cannot express for ORDINAL categories
    (quadratic κ is also identically the ICC of the paired ordinals —
    the bridge to ``stats_icc_oneway``). Observed weighted
    disagreement is an exact integer; the expected table's 25
    rationals floor-quantize at 1e-6; first/last use the same
    struct-ordered deterministic pick as ``stats_mcnemar_bowker``.

    Scale: one per-customer aggregate to a ≤25-cell table; 25-row
    margin cross join."""
    o = load_table(spark, sf_dir, "orders")
    key = F.struct(
        F.col("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("p"),
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.min(key).getField("p").alias("first_p"),
        F.max(key).getField("p").alias("last_p"),
    )
    cells = per_cust.groupBy(
        F.substring("first_p", 1, 1).cast("long").alias("i"),
        F.substring("last_p", 1, 1).cast("long").alias("j"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    marg = cells.agg(F.sum("c").cast("long").alias("n"))
    ri = cells.groupBy("i").agg(F.sum("c").cast("long").alias("ci"))
    cj = cells.groupBy("j").agg(F.sum("c").cast("long").alias("cj"))
    obs = cells.agg(
        F.sum(
            F.col("c") * (F.col("i") - F.col("j")) * (F.col("i") - F.col("j"))
        )
        .cast("long")
        .alias("oq"),
        F.sum(F.col("c") * F.abs(F.col("i") - F.col("j")))
        .cast("long")
        .alias("ol"),
    )
    expd = (
        ri.crossJoin(cj)
        .crossJoin(F.broadcast(marg))
        .agg(
            F.sum(
                F.floor(
                    F.col("ci").cast("double")
                    * F.col("cj")
                    / F.col("n")
                    * (F.col("i") - F.col("j"))
                    * (F.col("i") - F.col("j"))
                    * 1e6
                ).cast("long")
            )
            .cast("long")
            .alias("eq"),
            F.sum(
                F.floor(
                    F.col("ci").cast("double")
                    * F.col("cj")
                    / F.col("n")
                    * F.abs(F.col("i") - F.col("j"))
                    * 1e6
                ).cast("long")
            )
            .cast("long")
            .alias("el"),
        )
    )
    return (
        obs.crossJoin(F.broadcast(expd))
        .crossJoin(F.broadcast(marg))
        .select(
            F.col("n").alias("n_cust"),
            F.round(
                1 - F.col("oq").cast("double") / (F.col("eq") / 1e6), 6
            ).alias("kappa_quadratic"),
            F.round(
                1 - F.col("ol").cast("double") / (F.col("el") / 1e6), 6
            ).alias("kappa_linear"),
        )
    )


@register(
    "ts_spectral_flatness",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1
    ), idx AS (
        SELECT cnt, ROW_NUMBER() OVER (ORDER BY day) - 1 AS t,
               AVG(cnt) OVER () AS mu,
               COUNT(*) OVER () AS n
        FROM daily
    ), p AS (
        SELECT per.p,
               CAST(SUM(CAST(FLOOR((cnt - mu)
                   * COS(2 * PI() * t / per.p) * 1e6) AS BIGINT)) AS BIGINT)
                   AS c_q,
               CAST(SUM(CAST(FLOOR((cnt - mu)
                   * SIN(2 * PI() * t / per.p) * 1e6) AS BIGINT)) AS BIGINT)
                   AS s_q,
               CAST(MAX(n) AS BIGINT) AS n
        FROM idx CROSS JOIN (SELECT UNNEST(RANGE(2, 17)) AS p) per
        GROUP BY per.p
    ), pw AS (
        SELECT p,
               ((c_q / 1e6) * (c_q / 1e6) + (s_q / 1e6) * (s_q / 1e6))
                   / n AS power
        FROM p
    ), folds AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(FLOOR(LN(power) * 1e9) AS BIGINT))
                    AS BIGINT) AS lnq,
               CAST(SUM(CAST(FLOOR(power * 1e6) AS BIGINT)) AS BIGINT)
                   AS sq,
               MAX(CASE WHEN power = (SELECT MAX(power) FROM pw)
                        THEN p END) AS peak_p
        FROM pw
    )
    SELECT k AS n_frequencies,
           ROUND(EXP(lnq / 1e9 / k) / (sq / 1e6 / k), 6)
               AS spectral_flatness,
           CAST(peak_p AS BIGINT) AS peak_period_days,
           ROUND(sq / 1e6 / k, 4) AS mean_power
    FROM folds
    """,
)
def ts_spectral_flatness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral flatness (Wiener entropy) of the daily event-count
    spectrum over periods 2–16 days: geometric mean power / arithmetic
    mean power — 1 for white noise (flat spectrum), → 0 when one line
    (here the weekly cadence; peak period published) concentrates the
    energy. The single-number "is this series tone-like or
    noise-like" summary that decides whether seasonal modeling
    (``ts_seasonality``, ``ts_welch_periodogram``) is worth a
    pipeline stage. Trig terms quantize at 1e-6; the geometric mean
    folds ln(power) at 1e-9 as integers.

    Scale: one aggregate to O(days), 15 frequency cells."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w_ord = Window.orderBy("day")
    w_all = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    idx = daily.select(
        "cnt",
        (F.row_number().over(w_ord) - 1).alias("t"),
        F.avg("cnt").over(w_all).alias("mu"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    ps = spark.range(2, 17).select(F.col("id").cast("int").alias("p"))
    theta = 2 * math.pi * F.col("t") / F.col("p")
    p = (
        idx.crossJoin(F.broadcast(ps))
        .groupBy("p")
        .agg(
            F.sum(
                F.floor((F.col("cnt") - F.col("mu")) * F.cos(theta) * 1e6)
                .cast("long")
            )
            .cast("long")
            .alias("c_q"),
            F.sum(
                F.floor((F.col("cnt") - F.col("mu")) * F.sin(theta) * 1e6)
                .cast("long")
            )
            .cast("long")
            .alias("s_q"),
            F.max("n").cast("long").alias("n"),
        )
    )
    pw = p.select(
        "p",
        (
            (
                (F.col("c_q") / 1e6) * (F.col("c_q") / 1e6)
                + (F.col("s_q") / 1e6) * (F.col("s_q") / 1e6)
            )
            / F.col("n")
        ).alias("power"),
    )
    mx = pw.agg(F.max("power").alias("mxp"))
    folds = pw.crossJoin(F.broadcast(mx)).agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.floor(F.log("power") * 1e9).cast("long"))
        .cast("long")
        .alias("lnq"),
        F.sum(F.floor(F.col("power") * 1e6).cast("long"))
        .cast("long")
        .alias("sq"),
        F.max(
            F.when(F.col("power") == F.col("mxp"), F.col("p"))
        ).alias("peak_p"),
    )
    k = F.col("k")
    return folds.select(
        k.alias("n_frequencies"),
        F.round(
            F.exp(F.col("lnq") / 1e9 / k) / (F.col("sq") / 1e6 / k), 6
        ).alias("spectral_flatness"),
        F.col("peak_p").cast("long").alias("peak_period_days"),
        F.round(F.col("sq") / 1e6 / k, 4).alias("mean_power"),
    )


@register(
    "ml_recall_at_fpr",
    """
    WITH s AS (
        SELECT CAST(FLOOR(LEAST(value / 500.0, 1.0) * 1e6) AS BIGINT)
                   AS sq,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ), grp AS (
        SELECT sq, CAST(SUM(y) AS BIGINT) AS pos,
               CAST(SUM(1 - y) AS BIGINT) AS neg
        FROM s GROUP BY sq
    ), tot AS (
        SELECT CAST(SUM(pos) AS BIGINT) AS p,
               CAST(SUM(neg) AS BIGINT) AS n
        FROM grp
    ), cum AS (
        SELECT sq, pos, neg,
               SUM(neg) OVER (ORDER BY sq DESC ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS fp_at,
               SUM(pos) OVER (ORDER BY sq DESC ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS tp_at
        FROM grp
    ), pick AS (
        SELECT MAX(CASE WHEN ok THEN sq END) AS thresh_q,
               MAX(CASE WHEN ok THEN tp_at END) AS tp,
               MAX(CASE WHEN ok THEN fp_at END) AS fp
        FROM (
            SELECT c.sq, c.tp_at, c.fp_at,
                   c.fp_at * 100 <= t.n
                   AND c.sq = (SELECT MIN(c2.sq) FROM cum c2
                               CROSS JOIN tot t2
                               WHERE c2.fp_at * 100 <= t2.n) AS ok
            FROM cum c CROSS JOIN tot t
        )
    )
    SELECT t.p AS n_pos, t.n AS n_neg,
           ROUND(p2.thresh_q / 1e6, 6) AS threshold,
           ROUND(CAST(p2.fp AS DOUBLE) / t.n, 6) AS achieved_fpr,
           ROUND(CAST(p2.tp AS DOUBLE) / t.p, 6) AS recall_at_1pct_fpr
    FROM pick p2 CROSS JOIN tot t
    """,
)
def ml_recall_at_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating point at a FIXED false-positive budget: the lowest
    score threshold whose FPR stays ≤ 1%, and the recall it buys —
    the number a production alerting/triage system actually commits
    to ("we can page on at most 1% of benign traffic"), which a
    scalar AUC (``ml_auc_roc``) deliberately averages away. The scan
    walks the distinct-score cumulative frame from the top; threshold
    selection compares exact integers (fp·100 ≤ n avoids any rational
    FPR), and the achieved FPR is published because score ties mean
    you rarely land exactly on the budget.

    Scale: demote-to-distinct — one shuffle to score groups, one
    descending cumulative window."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.floor(F.least(F.col("value") / 500.0, F.lit(1.0)) * 1e6)
        .cast("long")
        .alias("sq"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    grp = s.groupBy("sq").agg(
        F.sum("y").cast("long").alias("pos"),
        F.sum(1 - F.col("y")).cast("long").alias("neg"),
    )
    tot = grp.agg(
        F.sum("pos").cast("long").alias("p"),
        F.sum("neg").cast("long").alias("n"),
    )
    w_desc = Window.orderBy(F.desc("sq")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grp.select(
        "sq",
        F.sum("neg").over(w_desc).alias("fp_at"),
        F.sum("pos").over(w_desc).alias("tp_at"),
    )
    ok = cum.crossJoin(F.broadcast(tot)).filter(
        F.col("fp_at") * 100 <= F.col("n")
    )
    pick = ok.agg(
        F.min("sq").alias("thresh_q"),
        F.max("tp_at").alias("tp"),
        F.max("fp_at").alias("fp"),
    )
    return pick.crossJoin(F.broadcast(tot)).select(
        F.col("p").alias("n_pos"),
        F.col("n").alias("n_neg"),
        F.round(F.col("thresh_q") / 1e6, 6).alias("threshold"),
        F.round(F.col("fp").cast("double") / F.col("n"), 6).alias(
            "achieved_fpr"
        ),
        F.round(F.col("tp").cast("double") / F.col("p"), 6).alias(
            "recall_at_1pct_fpr"
        ),
    )


@register(
    "stats_cox_stuart",
    """
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT))
                    AS BIGINT) AS rev
        FROM lineitem GROUP BY 1
    ), seq AS (
        SELECT rev, ROW_NUMBER() OVER (ORDER BY day) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM daily
    ), pairs AS (
        SELECT a.rev AS x1, b.rev AS x2
        FROM seq a JOIN seq b
          ON b.i = a.i + (a.n + a.n % 2) / 2
         AND a.i <= a.n - (a.n + a.n % 2) / 2
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN x2 > x1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_up,
               CAST(SUM(CASE WHEN x2 < x1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_down,
               CAST(SUM(CASE WHEN x2 = x1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_ties
        FROM pairs
    )
    SELECT n_pairs, n_up, n_down, n_ties,
           ROUND((n_up - 0.5 * (n_up + n_down))
                 / SQRT(0.25 * (n_up + n_down)), 4) AS z
    FROM s
    """,
)
def stats_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox–Stuart trend test (Cox & Stuart '55): pair day i with day
    i + n/2 and sign-test the second-half-vs-first-half comparisons —
    the assumption-free trend screen that needs NOTHING but signs
    (monotone-transform invariant, outlier-immune), the five-minute
    check before the heavier ``agg_mann_kendall``/``agg_theil_sen``
    machinery. Ties (possible in exact cents) drop out per the sign
    test; z = (U − m/2)/√(m/4) over the untied pairs. The ceil(n/2) offset
    join is exact integer index arithmetic; for odd n the middle day
    drops out (the classic alignment).

    Scale: one aggregate to O(days); the pair join is an equi-join on
    the shifted index."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100.0).cast("long"))
        .cast("long")
        .alias("rev")
    )
    w_ord = Window.orderBy("day")
    w_all = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    seq = daily.select(
        "rev",
        F.row_number().over(w_ord).alias("i"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
    )
    offset = ((F.col("na") + F.col("na") % 2) / 2).cast("long")
    a = seq.select(
        F.col("rev").alias("x1"),
        F.col("i").alias("ia"),
        F.col("n").alias("na"),
    ).filter(
        F.col("ia")
        <= F.col("na") - ((F.col("na") + F.col("na") % 2) / 2).cast("long")
    )
    b = seq.select(F.col("rev").alias("x2"), F.col("i").alias("ib"))
    pairs = a.join(b, F.col("ib") == F.col("ia") + offset)
    s = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("x2") > F.col("x1"), 1).otherwise(0))
        .cast("long")
        .alias("n_up"),
        F.sum(F.when(F.col("x2") < F.col("x1"), 1).otherwise(0))
        .cast("long")
        .alias("n_down"),
        F.sum(F.when(F.col("x2") == F.col("x1"), 1).otherwise(0))
        .cast("long")
        .alias("n_ties"),
    )
    m = F.col("n_up") + F.col("n_down")
    return s.select(
        "n_pairs",
        "n_up",
        "n_down",
        "n_ties",
        F.round(
            (F.col("n_up") - 0.5 * m) / F.sqrt(0.25 * m), 4
        ).alias("z"),
    )


@register(
    "ts_kupiec_pof",
    """
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 10000.0) AS BIGINT))
                    AS BIGINT) AS rev_q
        FROM lineitem GROUP BY 1
    ), rets AS (
        SELECT CAST(FLOOR(LN(CAST(rev_q AS DOUBLE)
                             / LAG(rev_q) OVER (ORDER BY day)) * 1e6)
                    AS BIGINT) AS r
        FROM daily
    ), rr AS (SELECT r FROM rets WHERE r IS NOT NULL),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rr),
    var5 AS (
        SELECT MIN(r) AS var_q FROM (
            SELECT r, SUM(c) OVER (ORDER BY r ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS cum, n
            FROM (SELECT r, CAST(COUNT(*) AS BIGINT) AS c FROM rr
                  GROUP BY r) CROSS JOIN nn
        ) WHERE cum >= CAST(CEIL(0.05 * n) AS BIGINT)
    ), viol AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS x
        FROM rr CROSS JOIN var5 WHERE r < var_q
    )
    SELECT n.n AS n_days, ROUND(v5.var_q / 1e6, 6) AS var_5pct_return,
           v.x AS n_violations,
           ROUND(CAST(v.x AS DOUBLE) / n.n, 6) AS violation_rate,
           ROUND(-2 * ((n.n - v.x) * LN(0.95) + v.x * LN(0.05)
                 - (n.n - v.x) * LN(1 - CAST(v.x AS DOUBLE) / n.n)
                 - v.x * LN(CAST(v.x AS DOUBLE) / n.n)), 4) AS lr_pof
    FROM nn n CROSS JOIN var5 v5 CROSS JOIN viol v
    """,
)
def ts_kupiec_pof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kupiec proportion-of-failures VaR backtest (Kupiec '95): take
    the in-sample 5% VaR of daily log revenue returns (exact order
    statistic over the quantized-return distinct frame — the same
    quantile discipline as ``ts_var_cvar``), count days breaching it,
    and test whether the violation rate is consistent with 5% via the
    binomial likelihood ratio LR_pof = −2ln[(1−p)^{n−x}p^x /
    ((1−x̂)^{n−x}x̂^x)] ~ χ²₁ — the regulatory (Basel) first question
    about any risk model. In-sample the rate lands near 5% by
    construction, so LR_pof ≈ small — which IS the audit: the
    quantile and the count agree through two different paths.

    Scale: O(days) frame, one distinct-value cumulative window."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 10000.0).cast("long"))
        .cast("long")
        .alias("rev_q")
    )
    w_ord = Window.orderBy("day")
    rets = daily.select(
        F.floor(
            F.log(F.col("rev_q").cast("double") / F.lag("rev_q").over(w_ord))
            * 1e6
        )
        .cast("long")
        .alias("r")
    ).filter(F.col("r").isNotNull())
    nn = rets.agg(F.count(F.lit(1)).cast("long").alias("n"))
    grp = rets.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w_cum = Window.orderBy("r").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grp.crossJoin(F.broadcast(nn)).select(
        "r",
        F.sum("c").over(w_cum).alias("cum"),
        F.col("n"),
    )
    var5 = cum.filter(
        F.col("cum") >= F.ceil(0.05 * F.col("n")).cast("long")
    ).agg(F.min("r").alias("var_q"))
    viol = rets.crossJoin(F.broadcast(var5)).filter(
        F.col("r") < F.col("var_q")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    n, x = F.col("n"), F.col("x")
    xr = x.cast("double") / n
    lr = -2 * (
        (n - x) * F.log(F.lit(0.95))
        + x * F.log(F.lit(0.05))
        - (n - x) * F.log(1 - xr)
        - x * F.log(xr)
    )
    return (
        nn.crossJoin(F.broadcast(var5))
        .crossJoin(F.broadcast(viol))
        .select(
            n.alias("n_days"),
            F.round(F.col("var_q") / 1e6, 6).alias("var_5pct_return"),
            x.alias("n_violations"),
            F.round(xr, 6).alias("violation_rate"),
            F.round(lr, 4).alias("lr_pof"),
        )
    )


def _poisson_em_sql() -> str:
    step = """
    , est{K} AS (
        SELECT g.x, g.f,
               1.0 / (1.0 + EXP(-(LN(p.pi / (1 - p.pi))
                     + g.x * LN(p.l1 / p.l2) - (p.l1 - p.l2)))) AS gam
        FROM grp g CROSS JOIN par{P} p
    ), folds{K} AS (
        SELECT CAST(SUM(f) AS BIGINT) AS nf,
               CAST(SUM(CAST(FLOOR(f * gam * 1e9) AS BIGINT)) AS BIGINT)
                   AS fg,
               CAST(SUM(CAST(FLOOR(f * gam * x * 1e6) AS BIGINT))
                    AS BIGINT) AS fgx,
               CAST(SUM(CAST(FLOOR(f * (1 - gam) * x * 1e6) AS BIGINT))
                    AS BIGINT) AS fhx
        FROM est{K}
    ), par{K} AS (
        SELECT (fg / 1e9) / nf AS pi,
               (fgx / 1e6) / (fg / 1e9) AS l1,
               (fhx / 1e6) / (nf - fg / 1e9) AS l2
        FROM folds{K}
    )"""
    body = "".join(step.format(K=k, P=k - 1) for k in (1, 2, 3))
    return f"""
    WITH daily AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), grp AS (
        SELECT x, CAST(COUNT(*) AS BIGINT) AS f FROM daily GROUP BY x
    ), qs AS (
        SELECT MIN(CASE WHEN cum >= CAST(CEIL(0.25 * n) AS BIGINT)
                   THEN x END) AS q1,
               MIN(CASE WHEN cum >= CAST(CEIL(0.75 * n) AS BIGINT)
                   THEN x END) AS q3
        FROM (
            SELECT x, SUM(f) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS cum,
                   SUM(f) OVER () AS n
            FROM grp
        )
    ), par0 AS (
        SELECT 0.5 AS pi, CAST(q1 AS DOUBLE) AS l1,
               CAST(q3 AS DOUBLE) AS l2
        FROM qs
    ){body}
    SELECT CAST(3 AS BIGINT) AS em_iterations,
           ROUND(p.pi, 6) AS pi_low,
           ROUND(p.l1, 4) AS lambda_low,
           ROUND(p.l2, 4) AS lambda_high,
           ROUND(p.l2 / p.l1, 4) AS separation_ratio
    FROM par3 p
    """


@register("ml_poisson_mixture_em", _poisson_em_sql())
def ml_poisson_mixture_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component Poisson mixture on daily event counts by THREE
    unrolled EM iterations — the model ``events_poisson_dispersion``
    motivates (overdispersion usually IS a regime mixture: quiet days
    vs campaign days). E-step responsibilities are one logistic
    closed form per DISTINCT count value (γ = σ(logit π + x·ln(λ₁/λ₂)
    − (λ₁−λ₂)) — Poisson likelihood ratios fold into the logit, no
    factorials needed); M-step weighted sums floor-quantize (1e-9 for
    γ mass, 1e-6 for γ·x) before integer folding, so all three
    iterations are engine-identical. Initialized deterministically at
    the count quartiles with π = 0.5; the separation ratio λ₂/λ₁
    says whether two regimes are really there.

    Scale: EM runs entirely on the O(distinct daily counts) frame —
    fact-scale work is one aggregate; each iteration is a broadcast
    of 3 scalars."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    grp = daily.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("f"))
    w_cum = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = grp.select(
        "x",
        F.sum("f").over(w_cum).alias("cum"),
        F.sum("f").over(w_all).alias("n"),
    )
    qs = cum.agg(
        F.min(
            F.when(
                F.col("cum") >= F.ceil(0.25 * F.col("n")).cast("long"),
                F.col("x"),
            )
        ).alias("q1"),
        F.min(
            F.when(
                F.col("cum") >= F.ceil(0.75 * F.col("n")).cast("long"),
                F.col("x"),
            )
        ).alias("q3"),
    )
    par = qs.select(
        F.lit(0.5).alias("pi"),
        F.col("q1").cast("double").alias("l1"),
        F.col("q3").cast("double").alias("l2"),
    )
    for _ in range(3):
        est = grp.crossJoin(F.broadcast(par)).select(
            "x",
            "f",
            (
                1.0
                / (
                    1.0
                    + F.exp(
                        -(
                            F.log(F.col("pi") / (1 - F.col("pi")))
                            + F.col("x") * F.log(F.col("l1") / F.col("l2"))
                            - (F.col("l1") - F.col("l2"))
                        )
                    )
                )
            ).alias("gam"),
        )
        folds = est.agg(
            F.sum("f").cast("long").alias("nf"),
            F.sum(F.floor(F.col("f") * F.col("gam") * 1e9).cast("long"))
            .cast("long")
            .alias("fg"),
            F.sum(
                F.floor(F.col("f") * F.col("gam") * F.col("x") * 1e6).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("fgx"),
            F.sum(
                F.floor(
                    F.col("f") * (1 - F.col("gam")) * F.col("x") * 1e6
                ).cast("long")
            )
            .cast("long")
            .alias("fhx"),
        )
        par = folds.select(
            ((F.col("fg") / 1e9) / F.col("nf")).alias("pi"),
            ((F.col("fgx") / 1e6) / (F.col("fg") / 1e9)).alias("l1"),
            (
                (F.col("fhx") / 1e6)
                / (F.col("nf") - F.col("fg") / 1e9)
            ).alias("l2"),
        )
    return par.select(
        F.lit(3).cast("long").alias("em_iterations"),
        F.round(F.col("pi"), 6).alias("pi_low"),
        F.round(F.col("l1"), 4).alias("lambda_low"),
        F.round(F.col("l2"), 4).alias("lambda_high"),
        F.round(F.col("l2") / F.col("l1"), 4).alias("separation_ratio"),
    )


@register(
    "stats_kendall_w",
    """
    WITH cell AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS blk,
               o_orderpriority AS trt,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS cell_v
        FROM orders GROUP BY 1, 2
    ), full_blk AS (
        SELECT blk FROM cell GROUP BY blk HAVING COUNT(*) = 5
    ), rnk AS (
        SELECT c.blk, c.trt,
               RANK() OVER (PARTITION BY c.blk ORDER BY c.cell_v)
               + (COUNT(*) OVER (PARTITION BY c.blk, c.cell_v) - 1) / 2.0
                   AS r
        FROM cell c JOIN full_blk f ON f.blk = c.blk
    ), rsums AS (
        SELECT trt, SUM(r) AS rj,
               CAST(COUNT(*) AS BIGINT) AS m
        FROM rnk GROUP BY trt
    ), s AS (
        SELECT CAST(MAX(m) AS BIGINT) AS m,
               SUM((rj - (SELECT AVG(rj) FROM rsums))
                   * (rj - (SELECT AVG(rj) FROM rsums))) AS ss,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM rsums
    )
    SELECT m AS n_blocks, k,
           ROUND(12.0 * ss
                 / (CAST(m AS DOUBLE) * m * k * (k * k - 1)), 6)
               AS kendall_w,
           ROUND(CAST(m AS DOUBLE) * (k - 1) * 12.0 * ss
                 / (CAST(m AS DOUBLE) * m * k * (k * k - 1)), 4)
               AS friedman_chi2_identity
    FROM s
    """,
)
def stats_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W (Kendall & Babington
    Smith '39) — do the m month-blocks AGREE on how the five priority
    classes rank? W = 12·SS(R_j)/(m²k(k²−1)) ∈ [0,1]: 1 = every month
    produces the identical ranking, 0 = no agreement — the effect
    SIZE whose significance test is exactly Friedman's
    (χ²_F = m(k−1)·W, published as friedman_chi2_identity so the gate
    pins the algebraic bridge to ``stats_friedman``). Midranks from
    the exact integer cell sums; SS folds over 5 rank sums.

    Scale: O(months × 5) cells, 5-row algebra."""
    o = load_table(spark, sf_dir, "orders")
    cell = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("blk"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("long"))
        .cast("long")
        .alias("cell_v")
    )
    full_blk = (
        cell.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == 5)
        .select("blk")
    )
    w_rank = Window.partitionBy("blk").orderBy("cell_v")
    w_tie = Window.partitionBy("blk", "cell_v")
    rnk = cell.join(full_blk, "blk").select(
        "trt",
        (
            F.rank().over(w_rank)
            + (F.count(F.lit(1)).over(w_tie) - 1) / F.lit(2.0)
        ).alias("r"),
    )
    rsums = rnk.groupBy("trt").agg(
        F.sum("r").alias("rj"), F.count(F.lit(1)).cast("long").alias("m")
    )
    mean_rj = rsums.agg(F.avg("rj").alias("mu"))
    s = rsums.crossJoin(F.broadcast(mean_rj)).agg(
        F.max("m").cast("long").alias("m"),
        F.sum(
            (F.col("rj") - F.col("mu")) * (F.col("rj") - F.col("mu"))
        ).alias("ss"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    m, k = F.col("m"), F.col("k")
    w = 12.0 * F.col("ss") / (m.cast("double") * m * k * (k * k - 1))
    return s.select(
        m.alias("n_blocks"),
        k,
        F.round(w, 6).alias("kendall_w"),
        F.round(m.cast("double") * (k - 1) * w, 4).alias(
            "friedman_chi2_identity"
        ),
    )


@register(
    "stats_newcombe_ci",
    """
    WITH arms AS (
        SELECT CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS arm,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem WHERE l_returnflag IN ('R', 'A')
    ), s AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS x
        FROM arms GROUP BY arm
    ), wil AS (
        SELECT arm, n, x,
               CAST(x AS DOUBLE) / n AS p,
               (CAST(x AS DOUBLE) + 1.9208) / (n + 3.8416)
               - 1.96 * SQRT((CAST(x AS DOUBLE) * (n - x) / n + 0.9604))
                 / (n + 3.8416) AS lo,
               (CAST(x AS DOUBLE) + 1.9208) / (n + 3.8416)
               + 1.96 * SQRT((CAST(x AS DOUBLE) * (n - x) / n + 0.9604))
                 / (n + 3.8416) AS hi
        FROM s
    ), pair AS (
        SELECT a.n AS n1, a.x AS x1, a.p AS p1, a.lo AS l1, a.hi AS u1,
               b.n AS n2, b.x AS x2, b.p AS p2, b.lo AS l2, b.hi AS u2
        FROM (SELECT * FROM wil WHERE arm = 1) a
        CROSS JOIN (SELECT * FROM wil WHERE arm = 0) b
    )
    SELECT n1 AS n_exposed, n2 AS n_unexposed,
           ROUND(p1, 6) AS p_exposed,
           ROUND(p2, 6) AS p_unexposed,
           ROUND(p1 - p2, 6) AS diff,
           ROUND(p1 - p2 - SQRT((p1 - l1) * (p1 - l1)
                                + (u2 - p2) * (u2 - p2)), 6) AS ci_lower,
           ROUND(p1 - p2 + SQRT((u1 - p1) * (u1 - p1)
                                + (p2 - l2) * (p2 - l2)), 6) AS ci_upper
    FROM pair
    """,
)
def stats_newcombe_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newcombe's hybrid score CI for a DIFFERENCE of proportions
    (Newcombe '98 method 10; the interval recommended over the naive
    Wald by every modern guideline): compute each arm's Wilson
    interval (the ``stats_wilson_ci`` machinery at z = 1.96) and
    square-and-add the one-sided margins around p̂₁−p̂₂ — never
    degenerate at 0/1 proportions and respects the [−1,1] range,
    which the Wald difference interval in ``stats_two_proportion_z``
    does not. Applied to the return rate of discounted (≥5%) vs
    undiscounted lines. Counts exact; all algebra closed-form with
    z² = 3.8416 spelled out so both engines agree bitwise.

    Scale: one conditional-count pass, two scalar Wilson intervals."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    arms = li.select(
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("arm"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    s = arms.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("x"),
    )
    n, x = F.col("n"), F.col("x")
    center = (x.cast("double") + 1.9208) / (n + 3.8416)
    half = (
        1.96
        * F.sqrt(x.cast("double") * (n - x) / n + 0.9604)
        / (n + 3.8416)
    )
    wil = s.select(
        "arm",
        n,
        x,
        (x.cast("double") / n).alias("p"),
        (center - half).alias("lo"),
        (center + half).alias("hi"),
    )
    a = wil.filter(F.col("arm") == 1).select(
        F.col("n").alias("n1"), F.col("x").alias("x1"),
        F.col("p").alias("p1"), F.col("lo").alias("l1"),
        F.col("hi").alias("u1"),
    )
    b = wil.filter(F.col("arm") == 0).select(
        F.col("n").alias("n2"), F.col("x").alias("x2"),
        F.col("p").alias("p2"), F.col("lo").alias("l2"),
        F.col("hi").alias("u2"),
    )
    p1, p2 = F.col("p1"), F.col("p2")
    return a.crossJoin(F.broadcast(b)).select(
        F.col("n1").alias("n_exposed"),
        F.col("n2").alias("n_unexposed"),
        F.round(p1, 6).alias("p_exposed"),
        F.round(p2, 6).alias("p_unexposed"),
        F.round(p1 - p2, 6).alias("diff"),
        F.round(
            p1
            - p2
            - F.sqrt(
                (p1 - F.col("l1")) * (p1 - F.col("l1"))
                + (F.col("u2") - p2) * (F.col("u2") - p2)
            ),
            6,
        ).alias("ci_lower"),
        F.round(
            p1
            - p2
            + F.sqrt(
                (F.col("u1") - p1) * (F.col("u1") - p1)
                + (p2 - F.col("l2")) * (p2 - F.col("l2"))
            ),
            6,
        ).alias("ci_upper"),
    )


@register(
    "stats_cronbach_alpha",
    """
    WITH cell AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS blk,
               o_orderpriority AS item,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS v
        FROM orders GROUP BY 1, 2
    ), full_blk AS (
        SELECT blk FROM cell GROUP BY blk HAVING COUNT(*) = 5
    ), kept AS (
        SELECT c.blk, c.item, c.v FROM cell c
        JOIN full_blk f ON f.blk = c.blk
    ), item_var AS (
        SELECT item,
               (CAST(SUM(CAST(v AS HUGEINT) * v) AS DOUBLE)
                - CAST(SUM(v) AS DOUBLE) * SUM(v) / COUNT(*))
               / (COUNT(*) - 1) AS vi
        FROM kept GROUP BY item
    ), totals AS (
        SELECT blk, CAST(SUM(v) AS BIGINT) AS tv FROM kept GROUP BY blk
    ), total_var AS (
        SELECT (CAST(SUM(CAST(tv AS HUGEINT) * tv) AS DOUBLE)
                - CAST(SUM(tv) AS DOUBLE) * SUM(tv) / COUNT(*))
               / (COUNT(*) - 1) AS vt,
               CAST(COUNT(*) AS BIGINT) AS m
        FROM totals
    ), s AS (
        SELECT (SELECT CAST(SUM(CAST(FLOOR(vi) AS HUGEINT)) AS DOUBLE)
                FROM item_var) AS svi,
               vt, m, CAST(5 AS BIGINT) AS k
        FROM total_var
    )
    SELECT m AS n_blocks, k AS n_items,
           ROUND(svi / 1e4, 4) AS sum_item_var_dollars2,
           ROUND(vt / 1e4, 4) AS total_var_dollars2,
           ROUND((k / (k - 1.0)) * (1 - svi / vt), 6) AS cronbach_alpha
    FROM s
    """,
)
def stats_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha (Cronbach '51) treating the five priority
    classes as ITEMS measured across month blocks: α = k/(k−1)·
    (1 − Σσᵢ²/σ_T²) — high when the five monthly series co-move (one
    underlying "month demand" factor), the internal-consistency view
    of the same design ``stats_kendall_w`` scores by ranks and
    ``stats_icc_oneway`` scores as variance shares (α is the
    mean-of-all-split-halves reliability). Item and total variances
    come from exact integer sums (squares in 128-bit).

    Scale: O(months × 5) cells; scalar algebra."""
    o = load_table(spark, sf_dir, "orders")
    cell = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("blk"),
        F.col("o_orderpriority").alias("item"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("long"))
        .cast("long")
        .alias("v")
    )
    full_blk = (
        cell.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == 5)
        .select("blk")
    )
    kept = cell.join(full_blk, "blk")

    def _var(df, col, grp=None):
        agg = (
            (
                F.sum(F.col(col).cast("decimal(38,0)") * F.col(col)).cast(
                    "double"
                )
                - F.sum(col).cast("double") * F.sum(col) / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("vv")
        return df.groupBy(grp).agg(agg) if grp else df.agg(agg)

    item_var = _var(kept, "v", "item")
    # the five per-item variances are deterministic scalars, but their
    # plain double SUM is addition-order-sensitive — floor to whole
    # cents² and fold in decimal so both engines agree bitwise
    svi = item_var.agg(
        F.sum(F.floor(F.col("vv")).cast("decimal(38,0)"))
        .cast("double")
        .alias("svi")
    )
    totals = kept.groupBy("blk").agg(F.sum("v").cast("long").alias("tv"))
    total_var = totals.agg(
        (
            (
                F.sum(F.col("tv").cast("decimal(38,0)") * F.col("tv")).cast(
                    "double"
                )
                - F.sum("tv").cast("double") * F.sum("tv") / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("vt"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    k = F.lit(5.0)
    return svi.crossJoin(F.broadcast(total_var)).select(
        F.col("m").alias("n_blocks"),
        F.lit(5).cast("long").alias("n_items"),
        F.round(F.col("svi") / 1e4, 4).alias("sum_item_var_dollars2"),
        F.round(F.col("vt") / 1e4, 4).alias("total_var_dollars2"),
        F.round((k / (k - 1)) * (1 - F.col("svi") / F.col("vt")), 6).alias(
            "cronbach_alpha"
        ),
    )


@register(
    "ml_ece_adaptive",
    """
    WITH s AS (
        SELECT event_id,
               CAST(FLOOR(LEAST(value / 500.0, 1.0) * 1e6) AS BIGINT)
                   AS sq,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ), binned AS (
        SELECT NTILE(10) OVER (ORDER BY sq, event_id) AS bin, sq, y
        FROM s
    ), per_bin AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS nk,
               CAST(SUM(sq) AS BIGINT) AS ssq,
               CAST(SUM(y) AS BIGINT) AS sy
        FROM binned GROUP BY bin
    ), tot AS (SELECT CAST(SUM(nk) AS BIGINT) AS n FROM per_bin)
    SELECT t.n,
           CAST(10 AS BIGINT) AS n_bins,
           ROUND(SUM(CAST(FLOOR(nk * ABS(CAST(ssq AS DOUBLE) / nk / 1e6
                                         - CAST(sy AS DOUBLE) / nk)
                                * 1e9) AS BIGINT)) / 1e9 / t.n, 6)
               AS ece_equal_mass,
           ROUND(MAX(ABS(CAST(ssq AS DOUBLE) / nk / 1e6
                         - CAST(sy AS DOUBLE) / nk)), 6) AS mce_equal_mass
    FROM per_bin CROSS JOIN tot t
    GROUP BY t.n
    """,
)
def ml_ece_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive (equal-MASS) expected calibration error — deciles of
    the score distribution instead of fixed-width bins: every bin
    holds n/10 points, so no bin is starved and the ECE estimate
    stops depending on where the score mass happens to sit (the known
    failure of fixed-width ECE that Nixon et al. '19 documented;
    compare against ``ml_calibration_error``'s fixed bins and
    ``ml_calibration_spiegelhalter``'s bin-free Z — three estimators,
    one question). NTILE is made deterministic by the total order
    (score, event_id); per-bin |conf − acc| gaps floor-quantize at
    1e-9 before the weighted fold; MCE (worst bin) published beside
    ECE.

    Scale: distributed NTILE (round-6 window-audit fix — bucketed
    two-level rank + tile arithmetic, functions/orderstat.py) then 10
    cells."""
    from hive_processor_spark.functions.orderstat import ntile_expr

    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "event_id",
        F.floor(F.least(F.col("value") / 500.0, F.lit(1.0)) * 1e6)
        .cast("long")
        .alias("sq"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    n_all = s.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    binned = (
        with_global_order(s, "sq", ["event_id"], rank="r")
        .crossJoin(F.broadcast(n_all))
        .select(
            ntile_expr(F.col("r"), F.col("n_all"), 10).alias("bin"),
            "sq",
            "y",
        )
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.sum("sq").cast("long").alias("ssq"),
        F.sum("y").cast("long").alias("sy"),
    )
    tot = per_bin.agg(F.sum("nk").cast("long").alias("n"))
    gap = F.abs(
        F.col("ssq").cast("double") / F.col("nk") / 1e6
        - F.col("sy").cast("double") / F.col("nk")
    )
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.lit(10).cast("long").alias("n_bins"),
            F.round(
                F.sum(F.floor(F.col("nk") * gap * 1e9).cast("long"))
                / 1e9
                / F.max("n"),
                6,
            ).alias("ece_equal_mass"),
            F.round(F.max(gap), 6).alias("mce_equal_mass"),
        )
    )


@register(
    "stats_jackknife_groups",
    """
    WITH v AS (
        SELECT c.c_nationkey AS g,
               CAST(FLOOR(o.o_totalprice * 100.0) AS BIGINT) AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), per AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(y) AS BIGINT) AS sg
        FROM v GROUP BY g
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS gg,
               CAST(SUM(ng) AS BIGINT) AS n,
               CAST(SUM(sg) AS BIGINT) AS s
        FROM per
    ), loo AS (
        SELECT p.g,
               (CAST(t.s - p.sg AS DOUBLE) / (t.n - p.ng)) AS theta_g,
               t.gg, t.n, t.s
        FROM per p CROSS JOIN tot t
    ), mo AS (
        SELECT MAX(gg) AS gg, MAX(n) AS n, MAX(s) AS s,
               AVG(theta_g) AS theta_bar,
               SUM((theta_g - (SELECT AVG(theta_g) FROM loo))
                   * (theta_g - (SELECT AVG(theta_g) FROM loo))) AS ssq
        FROM loo
    )
    SELECT CAST(gg AS BIGINT) AS n_groups, CAST(n AS BIGINT) AS n_obs,
           ROUND(CAST(s AS DOUBLE) / n / 100.0, 4) AS mean_dollars,
           ROUND(SQRT((gg - 1.0) / gg * ssq) / 100.0, 4)
               AS jackknife_se_dollars,
           ROUND((CAST(s AS DOUBLE) / n
                  - 1.96 * SQRT((gg - 1.0) / gg * ssq)) / 100.0, 4)
               AS ci_lower_dollars,
           ROUND((CAST(s AS DOUBLE) / n
                  + 1.96 * SQRT((gg - 1.0) / gg * ssq)) / 100.0, 4)
               AS ci_upper_dollars
    FROM mo
    """,
)
def stats_jackknife_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped (delete-one-cluster) jackknife SE for mean order value
    with customer NATIONS as the resampling unit (Shao & Tu ch. 5;
    the survey-world's default variance estimator when observations
    cluster): each leave-one-nation-out estimate θ₍₋g₎ =
    (T−T_g)/(N−n_g) falls out of the total-minus-group sums in ONE
    pass — no replication of the data, 25 scalar replicates — and
    SE² = (G−1)/G·Σ(θ₍₋g₎−θ̄)². Against the i.i.d. SE this bakes in
    the intra-nation correlation that ``sample_design_effect``
    measures as DEFF — the two should (and do) tell one story. Sums
    exact; replicate algebra on 25 rows.

    Scale: one partial→final aggregate to clusters; the jackknife
    itself never touches row data again."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    v = o.join(c, c.c_custkey == o.o_custkey).select(
        F.col("c_nationkey").alias("g"),
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("y"),
    )
    per = v.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("y").cast("long").alias("sg"),
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("gg"),
        F.sum("ng").cast("long").alias("n"),
        F.sum("sg").cast("long").alias("s"),
    )
    loo = per.crossJoin(F.broadcast(tot)).select(
        (
            (F.col("s") - F.col("sg")).cast("double")
            / (F.col("n") - F.col("ng"))
        ).alias("theta_g"),
        "gg",
        "n",
        "s",
    )
    tbar = loo.agg(F.avg("theta_g").alias("tb"))
    mo = loo.crossJoin(F.broadcast(tbar)).agg(
        F.max("gg").alias("gg"),
        F.max("n").alias("n"),
        F.max("s").alias("s"),
        F.sum(
            (F.col("theta_g") - F.col("tb"))
            * (F.col("theta_g") - F.col("tb"))
        ).alias("ssq"),
    )
    gg = F.col("gg")
    se = F.sqrt((gg - F.lit(1.0)) / gg * F.col("ssq"))
    mean = F.col("s").cast("double") / F.col("n")
    return mo.select(
        gg.cast("long").alias("n_groups"),
        F.col("n").cast("long").alias("n_obs"),
        F.round(mean / 100.0, 4).alias("mean_dollars"),
        F.round(se / 100.0, 4).alias("jackknife_se_dollars"),
        F.round((mean - 1.96 * se) / 100.0, 4).alias("ci_lower_dollars"),
        F.round((mean + 1.96 * se) / 100.0, 4).alias("ci_upper_dollars"),
    )


@register(
    "ml_auc_delong_ci",
    """
    WITH s AS (
        SELECT CAST(FLOOR(LEAST(value / 500.0, 1.0) * 1e6) AS BIGINT)
                   AS sq,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ), grp AS (
        SELECT sq, CAST(SUM(y) AS BIGINT) AS pos,
               CAST(SUM(1 - y) AS BIGINT) AS neg
        FROM s GROUP BY sq
    ), tot AS (
        SELECT CAST(SUM(pos) AS BIGINT) AS m, CAST(SUM(neg) AS BIGINT) AS n
        FROM grp
    ), cum AS (
        SELECT sq, pos, neg,
               COALESCE(SUM(neg) OVER (ORDER BY sq ROWS BETWEEN UNBOUNDED
                   PRECEDING AND 1 PRECEDING), 0) AS neg_below,
               COALESCE(SUM(pos) OVER (ORDER BY sq ROWS BETWEEN UNBOUNDED
                   PRECEDING AND 1 PRECEDING), 0) AS pos_below
        FROM grp
    ), comp AS (
        SELECT c.pos, c.neg,
               (c.neg_below + 0.5 * c.neg) / t.n AS v10,
               (t.m - c.pos_below - 0.5 * c.pos) / t.m AS v01_neg
        FROM cum c CROSS JOIN tot t
    ), auc AS (
        SELECT CAST(SUM(CAST(FLOOR(pos * v10 * 1e9) AS BIGINT))
                    AS BIGINT) AS aq
        FROM comp
    ), s10 AS (
        SELECT SUM(pos * (v10 - (SELECT aq / 1e9
                                 / (SELECT m FROM tot) FROM auc))
                   * (v10 - (SELECT aq / 1e9
                             / (SELECT m FROM tot) FROM auc)))
               / ((SELECT m FROM tot) - 1) AS var10
        FROM comp
    ), s01 AS (
        SELECT SUM(neg * (v01_neg - (SELECT aq / 1e9
                                     / (SELECT m FROM tot) FROM auc))
                   * (v01_neg - (SELECT aq / 1e9
                                 / (SELECT m FROM tot) FROM auc)))
               / ((SELECT n FROM tot) - 1) AS var01
        FROM comp
    )
    SELECT t.m AS n_pos, t.n AS n_neg,
           ROUND(a.aq / 1e9 / t.m, 6) AS auc,
           ROUND(SQRT(v10.var10 / t.m + v01.var01 / t.n), 6)
               AS delong_se,
           ROUND(a.aq / 1e9 / t.m
                 - 1.96 * SQRT(v10.var10 / t.m + v01.var01 / t.n), 6)
               AS ci_lower,
           ROUND(a.aq / 1e9 / t.m
                 + 1.96 * SQRT(v10.var10 / t.m + v01.var01 / t.n), 6)
               AS ci_upper
    FROM tot t CROSS JOIN auc a
    CROSS JOIN s10 v10 CROSS JOIN s01 v01
    """,
)
def ml_auc_delong_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC with DeLong's nonparametric confidence interval (DeLong,
    DeLong & Clarke-Pearson '88): the structural components — per
    POSITIVE, the fraction of negatives scored below it (mid-rank for
    ties); per NEGATIVE, the mirrored quantity — are CONSTANT within a
    distinct-score group, so both component variances S₁₀, S₀₁ fold
    over the grouped frame with conditional prefix sums, and
    SE² = S₁₀/m + S₀₁/n. The number ``ml_auc_roc`` should never be
    quoted without (and the variance machinery two-model DeLong tests
    build on). The AUC itself is the pos-weighted mean of v10,
    quantized at 1e-9 — it reproduces the rank-formula AUC exactly,
    which the tests pin.

    Scale: demote-to-distinct — one shuffle to score groups, two
    prefix windows, scalar algebra."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.floor(F.least(F.col("value") / 500.0, F.lit(1.0)) * 1e6)
        .cast("long")
        .alias("sq"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    grp = s.groupBy("sq").agg(
        F.sum("y").cast("long").alias("pos"),
        F.sum(1 - F.col("y")).cast("long").alias("neg"),
    )
    tot = grp.agg(
        F.sum("pos").cast("long").alias("m"),
        F.sum("neg").cast("long").alias("n"),
    )
    w_prev = Window.orderBy("sq").rowsBetween(Window.unboundedPreceding, -1)
    cum = grp.select(
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w_prev), F.lit(0)).alias("neg_below"),
        F.coalesce(F.sum("pos").over(w_prev), F.lit(0)).alias("pos_below"),
    )
    comp = cum.crossJoin(F.broadcast(tot)).select(
        "pos",
        "neg",
        ((F.col("neg_below") + 0.5 * F.col("neg")) / F.col("n")).alias("v10"),
        (
            (F.col("m") - F.col("pos_below") - 0.5 * F.col("pos"))
            / F.col("m")
        ).alias("v01_neg"),
        "m",
        "n",
    )
    auc = comp.agg(
        F.sum(F.floor(F.col("pos") * F.col("v10") * 1e9).cast("long"))
        .cast("long")
        .alias("aq"),
        F.max("m").alias("m"),
        F.max("n").alias("n"),
    )
    a_val = auc.select(
        (F.col("aq") / 1e9 / F.col("m")).alias("a"),
        "m",
        "n",
    )
    vs = comp.crossJoin(F.broadcast(a_val.select("a"))).agg(
        (
            F.sum(
                F.col("pos")
                * (F.col("v10") - F.col("a"))
                * (F.col("v10") - F.col("a"))
            )
            / (F.max("m") - 1)
        ).alias("var10"),
        (
            F.sum(
                F.col("neg")
                * (F.col("v01_neg") - F.col("a"))
                * (F.col("v01_neg") - F.col("a"))
            )
            / (F.max("n") - 1)
        ).alias("var01"),
    )
    se = F.sqrt(F.col("var10") / F.col("m") + F.col("var01") / F.col("n"))
    return a_val.crossJoin(F.broadcast(vs)).select(
        F.col("m").alias("n_pos"),
        F.col("n").alias("n_neg"),
        F.round(F.col("a"), 6).alias("auc"),
        F.round(se, 6).alias("delong_se"),
        F.round(F.col("a") - 1.96 * se, 6).alias("ci_lower"),
        F.round(F.col("a") + 1.96 * se, 6).alias("ci_upper"),
    )


@register(
    "stats_anova_welch",
    """
    WITH v AS (
        SELECT o_orderpriority AS g,
               CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS y
        FROM orders
    ), per AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM v GROUP BY g
    ), mo AS (
        SELECT g, n,
               CAST(sy AS DOUBLE) / n AS mean_g,
               (CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * sy / n) / (n - 1) AS var_g
        FROM per
    ), w AS (
        SELECT g, n, mean_g, var_g, n / var_g AS wi FROM mo
    ), tot AS (
        SELECT SUM(wi) AS wsum,
               SUM(wi * mean_g) AS wmean_num,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM w
    ), parts AS (
        SELECT t.k,
               SUM(x.wi * (x.mean_g - t.wmean_num / t.wsum)
                   * (x.mean_g - t.wmean_num / t.wsum)) / (t.k - 1)
                   AS num,
               SUM((1 - x.wi / t.wsum) * (1 - x.wi / t.wsum)
                   / (x.n - 1)) AS hsum
        FROM w x CROSS JOIN tot t
        GROUP BY t.k, t.wsum, t.wmean_num
    )
    SELECT k AS n_groups,
           ROUND(num / (1 + 2.0 * (k - 2) / (k * k - 1.0) * hsum), 4)
               AS welch_f,
           ROUND((CAST(k AS DOUBLE) * k - 1)
                 / (3.0 * hsum), 2) AS df2_approx,
           CAST(k - 1 AS BIGINT) AS df1
    FROM parts
    """,
)
def stats_anova_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA (Welch '51) across the
    five priority classes: groups are weighted by wᵢ = nᵢ/sᵢ², so
    unequal variances do NOT inflate the test the way classical
    ``stats_anova_oneway`` does (its F assumes homoscedasticity —
    run ``stats_bartlett`` to see whether that assumption even
    holds, then believe this one): F* = Σwᵢ(x̄ᵢ−x̄_w)²/(k−1) /
    (1 + 2(k−2)/(k²−1)·Λ) with Λ = Σ(1−wᵢ/W)²/(nᵢ−1) and
    Satterthwaite-style df₂ = (k²−1)/(3Λ). All group moments are
    exact integers (squares in 128-bit); the weighted algebra runs
    on 5 rows.

    Scale: one partial→final aggregate to 5 groups."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("y"),
    )
    per = v.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    mo = per.select(
        "g",
        "n",
        (F.col("sy").cast("double") / F.col("n")).alias("mean_g"),
        (
            (
                F.col("syy").cast("double")
                - F.col("sy").cast("double") * F.col("sy") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("var_g"),
    )
    w = mo.select(
        "g", "n", "mean_g", "var_g", (F.col("n") / F.col("var_g")).alias("wi")
    )
    tot = w.agg(
        F.sum("wi").alias("wsum"),
        F.sum(F.col("wi") * F.col("mean_g")).alias("wmean_num"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    xw = F.col("wmean_num") / F.col("wsum")
    parts = w.crossJoin(F.broadcast(tot)).groupBy("k", "wsum", "wmean_num").agg(
        (
            F.sum(
                F.col("wi") * (F.col("mean_g") - xw) * (F.col("mean_g") - xw)
            )
            / (F.col("k") - 1)
        ).alias("num"),
        F.sum(
            (1 - F.col("wi") / F.col("wsum"))
            * (1 - F.col("wi") / F.col("wsum"))
            / (F.col("n") - 1)
        ).alias("hsum"),
    )
    k = F.col("k")
    return parts.select(
        k.alias("n_groups"),
        F.round(
            F.col("num")
            / (1 + 2.0 * (k - 2) / (k * k - F.lit(1.0)) * F.col("hsum")),
            4,
        ).alias("welch_f"),
        F.round(
            (k.cast("double") * k - 1) / (3.0 * F.col("hsum")), 2
        ).alias("df2_approx"),
        (k - 1).cast("long").alias("df1"),
    )


@register(
    "stats_bartlett",
    """
    WITH v AS (
        SELECT o_orderpriority AS g,
               CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS y
        FROM orders
    ), per AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM v GROUP BY g
    ), mo AS (
        SELECT g, n,
               (CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * sy / n) / (n - 1) AS var_g
        FROM per
    ), parts AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nn,
               CAST(COUNT(*) AS BIGINT) AS k,
               SUM((n - 1) * var_g) AS pooled_num,
               CAST(SUM(CAST(FLOOR((n - 1) * LN(var_g) * 1e6) AS BIGINT))
                    AS BIGINT) AS lnq,
               SUM(1.0 / (n - 1)) AS invsum
        FROM mo
    )
    SELECT k AS n_groups, nn AS n_obs,
           ROUND(((nn - k) * LN(pooled_num / (nn - k)) - lnq / 1e6)
                 / (1 + (invsum - 1.0 / (nn - k)) / (3.0 * (k - 1))), 4)
               AS bartlett_chi2,
           CAST(k - 1 AS BIGINT) AS df
    FROM parts
    """,
)
def stats_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of variance homogeneity (Bartlett '37) across
    the priority classes: χ² = [(N−k)ln s²_p − Σ(nᵢ−1)ln sᵢ²]/C with
    the standard correction C — the PARAMETRIC sphericity check whose
    robust cousin is the registered ``stats_levene`` (quote Bartlett
    under normality for power, Levene when tails are heavy; together
    they gate the classical-vs-Welch ANOVA choice). Group variances
    come from exact integer moments; each (nᵢ−1)ln sᵢ² term
    floor-quantizes at 1e-6 so the k-term fold is order-free.

    Scale: one partial→final aggregate to 5 groups."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("y"),
    )
    per = v.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    mo = per.select(
        "n",
        (
            (
                F.col("syy").cast("double")
                - F.col("sy").cast("double") * F.col("sy") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("var_g"),
    )
    parts = mo.agg(
        F.sum("n").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum((F.col("n") - 1) * F.col("var_g")).alias("pooled_num"),
        F.sum(
            F.floor((F.col("n") - 1) * F.log("var_g") * 1e6).cast("long")
        )
        .cast("long")
        .alias("lnq"),
        F.sum(1.0 / (F.col("n") - 1)).alias("invsum"),
    )
    nn, k = F.col("nn"), F.col("k")
    chi2 = (
        (nn - k) * F.log(F.col("pooled_num") / (nn - k)) - F.col("lnq") / 1e6
    ) / (
        1
        + (F.col("invsum") - F.lit(1.0) / (nn - k)) / (3.0 * (k - 1))
    )
    return parts.select(
        k.alias("n_groups"),
        nn.alias("n_obs"),
        F.round(chi2, 4).alias("bartlett_chi2"),
        (k - 1).cast("long").alias("df"),
    )


@register(
    "stats_median_ci",
    """
    WITH v AS (
        SELECT CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS c
        FROM orders
    ), grp AS (
        SELECT c, CAST(COUNT(*) AS BIGINT) AS f FROM v GROUP BY c
    ), nn AS (SELECT CAST(SUM(f) AS BIGINT) AS n FROM grp),
    cum AS (
        SELECT c, SUM(f) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS cc, n
        FROM grp CROSS JOIN nn
    ), ranks AS (
        SELECT n,
               CAST(FLOOR((n - 1.96 * SQRT(CAST(n AS DOUBLE))) / 2)
                    AS BIGINT) AS rl,
               CAST(CEIL(1 + (n + 1.96 * SQRT(CAST(n AS DOUBLE))) / 2)
                    AS BIGINT) AS ru,
               CAST(CEIL(0.5 * n) AS BIGINT) AS rm
        FROM nn
    )
    SELECT r.n AS n_obs,
           ROUND((SELECT MIN(c) FROM cum WHERE cc >= r.rm) / 100.0, 2)
               AS median_dollars,
           ROUND((SELECT MIN(c) FROM cum WHERE cc >= r.rl) / 100.0, 2)
               AS ci_lower_dollars,
           ROUND((SELECT MIN(c) FROM cum WHERE cc >= r.ru) / 100.0, 2)
               AS ci_upper_dollars,
           CAST(r.rl AS BIGINT) AS rank_lower,
           CAST(r.ru AS BIGINT) AS rank_upper
    FROM ranks r
    """,
)
def stats_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free confidence interval for the MEDIAN order value
    by the binomial order-statistic bounds (Conover §3.2): the 95% CI
    is [x₍rₗ₎, x₍rᵤ₎] with rₗ = ⌊(n−1.96√n)/2⌋, rᵤ = ⌈1+(n+1.96√n)/2⌉
    — exact coverage guarantees from the binomial(n, ½) ranks, no
    normality, no bootstrap, no density estimate (the interval
    ``agg_exact_median`` should have been quoting all along). All
    three order statistics read off one distinct-value cumulative
    frame with exact integer ranks.

    Scale: demote-to-distinct; one cumulative window."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("c"))
    grp = v.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("f"))
    nn = grp.agg(F.sum("f").cast("long").alias("n"))
    # round-6 window-audit fix: bucketed two-level cumulative
    cum = with_global_order(grp, "c", cumsums={"cc": "f"}).select("c", "cc")
    n = F.col("n")
    ranks = nn.select(
        n,
        F.floor((n - 1.96 * F.sqrt(n.cast("double"))) / 2)
        .cast("long")
        .alias("rl"),
        F.ceil(1 + (n + 1.96 * F.sqrt(n.cast("double"))) / 2)
        .cast("long")
        .alias("ru"),
        F.ceil(0.5 * n).cast("long").alias("rm"),
    )
    j = cum.crossJoin(F.broadcast(ranks))
    pick = j.agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("cc") >= F.col("rm"), F.col("c"))).alias("med"),
        F.min(F.when(F.col("cc") >= F.col("rl"), F.col("c"))).alias("lo"),
        F.min(F.when(F.col("cc") >= F.col("ru"), F.col("c"))).alias("hi"),
        F.max("rl").alias("rl"),
        F.max("ru").alias("ru"),
    )
    return pick.select(
        F.col("n").alias("n_obs"),
        F.round(F.col("med") / 100.0, 2).alias("median_dollars"),
        F.round(F.col("lo") / 100.0, 2).alias("ci_lower_dollars"),
        F.round(F.col("hi") / 100.0, 2).alias("ci_upper_dollars"),
        F.col("rl").alias("rank_lower"),
        F.col("ru").alias("rank_upper"),
    )


@register(
    "stats_tukey_hsd",
    """
    WITH v AS (
        SELECT o_orderpriority AS g,
               CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS y
        FROM orders
    ), per AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM v GROUP BY g
    ), mse AS (
        SELECT SUM(CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * sy / n)
               / (SUM(n) - COUNT(*)) AS msw,
               CAST(SUM(n) - COUNT(*) AS BIGINT) AS dfw
        FROM per
    ), pairs AS (
        SELECT a.g AS g_a, b.g AS g_b,
               CAST(a.sy AS DOUBLE) / a.n AS m_a,
               CAST(b.sy AS DOUBLE) / b.n AS m_b,
               a.n AS n_a, b.n AS n_b
        FROM per a JOIN per b ON a.g < b.g
    )
    SELECT p.g_a, p.g_b,
           ROUND((p.m_a - p.m_b) / 100.0, 2) AS mean_diff_dollars,
           ROUND(3.858 * SQRT(m.msw / 2
                 * (1.0 / p.n_a + 1.0 / p.n_b)) / 100.0, 2)
               AS hsd_dollars,
           CASE WHEN ABS(p.m_a - p.m_b)
                     > 3.858 * SQRT(m.msw / 2
                                    * (1.0 / p.n_a + 1.0 / p.n_b))
                THEN 1 ELSE 0 END AS significant,
           m.dfw AS df_within
    FROM pairs p CROSS JOIN mse m
    ORDER BY g_a, g_b
    """,
)
def stats_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey's HSD post-hoc table (Tukey '49) for the five priority
    means: all 10 pairwise mean differences against the honestly-
    significant-difference q·√(MSW/2·(1/nₐ+1/n_b)) at the k=5, df=∞
    studentized-range critical value 3.858 (the Tukey–Kramer unequal-n
    form) — the parametric mean-comparison companion to the rank-based
    ``stats_friedman_nemenyi``, controlling the familywise error that
    10 naive t-tests would inflate. MSW comes from exact per-group
    integer moments; the pair table is 10 rows of scalar algebra.

    Scale: one partial→final aggregate to 5 groups; the pair join is
    C(5,2) rows."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("y"),
    )
    per = v.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    mse = per.agg(
        (
            F.sum(
                F.col("syy").cast("double")
                - F.col("sy").cast("double") * F.col("sy") / F.col("n")
            )
            / (F.sum("n") - F.count(F.lit(1)))
        ).alias("msw"),
        (F.sum("n") - F.count(F.lit(1))).cast("long").alias("dfw"),
    )
    a = per.select(
        F.col("g").alias("g_a"),
        (F.col("sy").cast("double") / F.col("n")).alias("m_a"),
        F.col("n").alias("n_a"),
    )
    b = per.select(
        F.col("g").alias("g_b"),
        (F.col("sy").cast("double") / F.col("n")).alias("m_b"),
        F.col("n").alias("n_b"),
    )
    pairs = a.join(b, F.col("g_a") < F.col("g_b"))
    hsd = 3.858 * F.sqrt(
        F.col("msw") / 2 * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return (
        pairs.crossJoin(F.broadcast(mse))
        .select(
            "g_a",
            "g_b",
            F.round((F.col("m_a") - F.col("m_b")) / 100.0, 2).alias(
                "mean_diff_dollars"
            ),
            F.round(hsd / 100.0, 2).alias("hsd_dollars"),
            F.when(F.abs(F.col("m_a") - F.col("m_b")) > hsd, 1)
            .otherwise(0)
            .alias("significant"),
            F.col("dfw").alias("df_within"),
        )
        .orderBy("g_a", "g_b")
    )


@register(
    "ml_ks_separation",
    """
    WITH s AS (
        SELECT CAST(FLOOR(LEAST(value / 500.0, 1.0) * 1e6) AS BIGINT)
                   AS sq,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ), grp AS (
        SELECT sq, CAST(SUM(y) AS BIGINT) AS pos,
               CAST(SUM(1 - y) AS BIGINT) AS neg
        FROM s GROUP BY sq
    ), tot AS (
        SELECT CAST(SUM(pos) AS BIGINT) AS m, CAST(SUM(neg) AS BIGINT) AS n
        FROM grp
    ), cum AS (
        SELECT sq,
               SUM(pos) OVER (ORDER BY sq ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS cpos,
               SUM(neg) OVER (ORDER BY sq ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS cneg
        FROM grp
    ), gaps AS (
        SELECT c.sq,
               ABS(CAST(c.cpos AS DOUBLE) / t.m
                   - CAST(c.cneg AS DOUBLE) / t.n) AS gap
        FROM cum c CROSS JOIN tot t
    ), best AS (
        SELECT sq, gap,
               ROW_NUMBER() OVER (ORDER BY gap DESC, sq) AS rk
        FROM gaps
    )
    SELECT t.m AS n_pos, t.n AS n_neg,
           ROUND(b.gap, 6) AS ks_statistic,
           ROUND(b.sq / 1e6, 6) AS ks_threshold
    FROM best b CROSS JOIN tot t WHERE b.rk = 1
    """,
)
def ml_ks_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KS separation statistic of credit scoring: max |F_pos(s) −
    F_neg(s)| over score thresholds — equivalently the best achievable
    Youden J (TPR−FPR) over ALL operating points, with the threshold
    where it happens — the one-number model-power summary risk teams
    quote beside AUC (``ml_auc_delong_ci``) and the fixed-budget
    operating point (``ml_recall_at_fpr``); same estimator family as
    ``stats_ks_test`` but between the score distributions of the two
    LABEL classes. CDF gaps are ratios of exact integer cumulative
    counts; the argmax tie-breaks on score.

    Scale: demote-to-distinct, one cumulative window, one top-1."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.floor(F.least(F.col("value") / 500.0, F.lit(1.0)) * 1e6)
        .cast("long")
        .alias("sq"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    grp = s.groupBy("sq").agg(
        F.sum("y").cast("long").alias("pos"),
        F.sum(1 - F.col("y")).cast("long").alias("neg"),
    )
    tot = grp.agg(
        F.sum("pos").cast("long").alias("m"),
        F.sum("neg").cast("long").alias("n"),
    )
    w_cum = Window.orderBy("sq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grp.select(
        "sq",
        F.sum("pos").over(w_cum).alias("cpos"),
        F.sum("neg").over(w_cum).alias("cneg"),
    )
    gaps = cum.crossJoin(F.broadcast(tot)).select(
        "sq",
        F.abs(
            F.col("cpos").cast("double") / F.col("m")
            - F.col("cneg").cast("double") / F.col("n")
        ).alias("gap"),
        "m",
        "n",
    )
    best = gaps.select(
        "*", F.row_number().over(Window.orderBy(F.desc("gap"), F.asc("sq"))).alias("rk")
    ).filter(F.col("rk") == 1)
    return best.select(
        F.col("m").alias("n_pos"),
        F.col("n").alias("n_neg"),
        F.round(F.col("gap"), 6).alias("ks_statistic"),
        F.round(F.col("sq") / 1e6, 6).alias("ks_threshold"),
    )


@register(
    "stats_sobel_mediation",
    """
    WITH v AS (
        SELECT CAST(FLOOR(l_discount * 10000.0) AS BIGINT) AS x,
               CAST(l_quantity AS BIGINT) AS m,
               CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS y
        FROM lineitem
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(m) AS BIGINT) AS sm,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(m * m) AS BIGINT) AS smm,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
               CAST(SUM(x * m) AS BIGINT) AS sxm,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(m AS HUGEINT) * y) AS HUGEINT) AS smy
        FROM v
    ), c AS (
        SELECT n,
               CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS cxx,
               CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * sm / n AS cmm,
               CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy,
               CAST(sxm AS DOUBLE) - CAST(sx AS DOUBLE) * sm / n AS cxm,
               CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n AS cxy,
               CAST(smy AS DOUBLE) - CAST(sm AS DOUBLE) * sy / n AS cmy
        FROM s
    ), fit AS (
        SELECT n,
               cxm / cxx AS a,
               (cmm - (cxm / cxx) * cxm) / ((n - 2) * cxx) AS se_a2,
               (cxx * cmy - cxm * cxy) / (cxx * cmm - cxm * cxm) AS b,
               (cmm * cxy - cxm * cmy) / (cxx * cmm - cxm * cxm) AS cprime,
               cxy / cxx AS c_total,
               cxx, cmm, cyy, cxm, cxy, cmy
        FROM c
    ), se AS (
        SELECT n, a, se_a2, b, cprime, c_total,
               ((cyy - cprime * cxy - b * cmy) / (n - 3))
               * cxx / (cxx * cmm - cxm * cxm) AS se_b2
        FROM fit
    )
    SELECT n,
           ROUND(a, 6) AS a_x_to_m,
           ROUND(b, 6) AS b_m_to_y,
           ROUND(cprime, 6) AS c_prime_direct,
           ROUND(c_total, 6) AS c_total,
           ROUND(a * b, 6) AS indirect_effect,
           ROUND(a * b / c_total, 6) AS proportion_mediated,
           ROUND(a * b / SQRT(b * b * se_a2 + a * a * se_b2), 4)
               AS sobel_z
    FROM se
    """,
)
def stats_sobel_mediation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sobel mediation test (Baron & Kenny '86; Sobel '82) on the
    discount → quantity → revenue chain: a (X→M slope), b (M→Y slope
    CONTROLLING X, from the closed-form two-predictor OLS), the direct
    effect c′ and the decomposition c = c′ + a·b (total = direct +
    indirect, which the columns let the reader verify), with Sobel's
    z = ab/√(b²SE_a² + a²SE_b²) for the indirect path — the "does the
    discount move revenue THROUGH quantity" question, one causal rung
    above ``stats_partial_corr``'s symmetric control. All ten raw
    moments are exact integers (the y cross-products in 128-bit); the
    2×2 normal-equation solve is explicit algebra, no matrix library.

    Scale: one map-side-combined pass to ten cells."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.floor(F.col("l_discount") * 10000.0).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("m"),
        F.floor(F.col("l_extendedprice") * 100.0).cast("long").alias("y"),
    )
    x, m, y = F.col("x"), F.col("m"), F.col("y")
    s = v.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(m).cast("long").alias("sm"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(m * m).cast("long").alias("smm"),
        F.sum(y.cast("decimal(38,0)") * y).alias("syy"),
        F.sum(x * m).cast("long").alias("sxm"),
        F.sum(x.cast("decimal(38,0)") * y).alias("sxy"),
        F.sum(m.cast("decimal(38,0)") * y).alias("smy"),
    )
    n = F.col("n")
    cxx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / n
    cmm = F.col("smm").cast("double") - F.col("sm").cast("double") * F.col("sm") / n
    cyy = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / n
    cxm = F.col("sxm").cast("double") - F.col("sx").cast("double") * F.col("sm") / n
    cxy = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / n
    cmy = F.col("smy").cast("double") - F.col("sm").cast("double") * F.col("sy") / n
    c = s.select(
        n,
        cxx.alias("cxx"),
        cmm.alias("cmm"),
        cyy.alias("cyy"),
        cxm.alias("cxm"),
        cxy.alias("cxy"),
        cmy.alias("cmy"),
    )
    a = F.col("cxm") / F.col("cxx")
    det = F.col("cxx") * F.col("cmm") - F.col("cxm") * F.col("cxm")
    b = (F.col("cxx") * F.col("cmy") - F.col("cxm") * F.col("cxy")) / det
    cprime = (F.col("cmm") * F.col("cxy") - F.col("cxm") * F.col("cmy")) / det
    fit = c.select(
        n,
        a.alias("a"),
        (
            (F.col("cmm") - a * F.col("cxm")) / ((n - 2) * F.col("cxx"))
        ).alias("se_a2"),
        b.alias("b"),
        cprime.alias("cprime"),
        (F.col("cxy") / F.col("cxx")).alias("c_total"),
        "cxx",
        "cmm",
        "cyy",
        "cxm",
        "cxy",
        "cmy",
    )
    se_b2 = (
        (
            F.col("cyy")
            - F.col("cprime") * F.col("cxy")
            - F.col("b") * F.col("cmy")
        )
        / (n - 3)
    ) * F.col("cxx") / (
        F.col("cxx") * F.col("cmm") - F.col("cxm") * F.col("cxm")
    )
    se = fit.select(
        n, "a", "se_a2", "b", "cprime", "c_total", se_b2.alias("se_b2")
    )
    ab = F.col("a") * F.col("b")
    return se.select(
        n,
        F.round(F.col("a"), 6).alias("a_x_to_m"),
        F.round(F.col("b"), 6).alias("b_m_to_y"),
        F.round(F.col("cprime"), 6).alias("c_prime_direct"),
        F.round(F.col("c_total"), 6).alias("c_total"),
        F.round(ab, 6).alias("indirect_effect"),
        F.round(ab / F.col("c_total"), 6).alias("proportion_mediated"),
        F.round(
            ab
            / F.sqrt(
                F.col("b") * F.col("b") * F.col("se_a2")
                + F.col("a") * F.col("a") * F.col("se_b2")
            ),
            4,
        ).alias("sobel_z"),
    )


@register(
    "ml_mcnemar_models",
    """
    WITH s AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               CASE WHEN value >= 100.0 THEN 1 ELSE 0 END AS m1,
               CASE WHEN value >= 200.0 THEN 1 ELSE 0 END AS m2
        FROM events
    ), cells AS (
        SELECT
            CAST(COUNT(*) FILTER (WHERE (m1 = y) AND (m2 <> y))
                 AS BIGINT) AS b,
            CAST(COUNT(*) FILTER (WHERE (m1 <> y) AND (m2 = y))
                 AS BIGINT) AS c,
            CAST(COUNT(*) FILTER (WHERE (m1 = y) AND (m2 = y))
                 AS BIGINT) AS both_right,
            CAST(COUNT(*) FILTER (WHERE (m1 <> y) AND (m2 <> y))
                 AS BIGINT) AS both_wrong
        FROM s
    )
    SELECT b AS only_m1_right, c AS only_m2_right,
           both_right, both_wrong,
           ROUND(CAST((b - c) * (b - c) AS DOUBLE) / (b + c), 4)
               AS mcnemar_chi2,
           ROUND(CAST(ABS(b - c) - 1 AS DOUBLE)
                 * (ABS(b - c) - 1) / (b + c), 4)
               AS mcnemar_chi2_corrected
    FROM cells
    """,
)
def ml_mcnemar_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for comparing TWO CLASSIFIERS on the same
    examples (Dietterich '98's recommended cheap model-comparison
    test): thresholds 100 and 200 on the score predict purchase, and
    only the DISCORDANT counts matter — b (model-1 right where
    model-2 wrong) vs c (the reverse); χ² = (b−c)²/(b+c), with the
    Edwards continuity-corrected form beside it. The paired design
    makes this strictly more powerful than comparing two accuracy
    numbers from ``ml_confusion_matrix``, because the shared examples
    cancel. One conditional-count pass, all integers.

    Scale: single map-side-combined aggregation, four cells."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.when(F.col("value") >= 100.0, 1).otherwise(0).alias("m1"),
        F.when(F.col("value") >= 200.0, 1).otherwise(0).alias("m2"),
    )
    cells = s.agg(
        F.count(
            F.when((F.col("m1") == F.col("y")) & (F.col("m2") != F.col("y")), 1)
        )
        .cast("long")
        .alias("b"),
        F.count(
            F.when((F.col("m1") != F.col("y")) & (F.col("m2") == F.col("y")), 1)
        )
        .cast("long")
        .alias("c"),
        F.count(
            F.when((F.col("m1") == F.col("y")) & (F.col("m2") == F.col("y")), 1)
        )
        .cast("long")
        .alias("both_right"),
        F.count(
            F.when((F.col("m1") != F.col("y")) & (F.col("m2") != F.col("y")), 1)
        )
        .cast("long")
        .alias("both_wrong"),
    )
    b, c = F.col("b"), F.col("c")
    return cells.select(
        b.alias("only_m1_right"),
        c.alias("only_m2_right"),
        "both_right",
        "both_wrong",
        F.round(((b - c) * (b - c)).cast("double") / (b + c), 4).alias(
            "mcnemar_chi2"
        ),
        F.round(
            (F.abs(b - c) - 1).cast("double") * (F.abs(b - c) - 1) / (b + c),
            4,
        ).alias("mcnemar_chi2_corrected"),
    )


@register(
    "text_source_overlap_matrix",
    """
    WITH words AS (
        SELECT DISTINCT source, word
        FROM documents,
        UNNEST(STRING_SPLIT(TRIM(text), ' ')) AS t(word)
        WHERE word <> ''
    ), sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS v FROM words
        GROUP BY source
    ), inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS common
        FROM words a JOIN words b
          ON a.word = b.word AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b, sa.v AS vocab_a, sb.v AS vocab_b,
           i.common AS vocab_common,
           ROUND(CAST(i.common AS DOUBLE)
                 / (sa.v + sb.v - i.common), 6) AS jaccard,
           ROUND(CAST(i.common AS DOUBLE) / LEAST(sa.v, sb.v), 6)
               AS containment
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    ORDER BY src_a, src_b
    """,
)
def text_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap matrix across ALL document sources:
    Jaccard and max-containment for every source pair from one
    distinct (source, word) frame self-joined on the word — the
    corpus-curation heat map behind mixture decisions ("these two
    sources are near-duplicates of each other; don't double-weight
    them"), generalizing ``sketch_kmv_jaccard``'s two-source sketch
    estimate to the exact full matrix (at this source count the exact
    join IS the at-scale answer: the frame is vocab-sized, not
    corpus-sized). Counts exact; C(sources,2) output rows.

    Scale: explode to distinct (source, word) once (shuffle ∝
    vocab × sources), then a word-keyed equi-join."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            "source", F.explode(F.split(F.trim("text"), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .distinct()
    )
    sizes = words.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    a = words.select(F.col("source").alias("src_a"), "word")
    b = words.select(F.col("source").alias("src_b"), F.col("word").alias("wb"))
    inter = (
        a.join(b, (F.col("word") == F.col("wb")) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("v").alias("vocab_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("v").alias("vocab_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "vocab_a",
            "vocab_b",
            F.col("common").alias("vocab_common"),
            F.round(
                F.col("common").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("common")),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("common").cast("double")
                / F.least(F.col("vocab_a"), F.col("vocab_b")),
                6,
            ).alias("containment"),
        )
        .orderBy("src_a", "src_b")
    )


@register(
    "ml_partial_auc",
    """
    WITH s AS (
        SELECT CAST(FLOOR(LEAST(value / 500.0, 1.0) * 1e6) AS BIGINT)
                   AS sq,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ), grp AS (
        SELECT sq, CAST(SUM(y) AS BIGINT) AS pos,
               CAST(SUM(1 - y) AS BIGINT) AS neg
        FROM s GROUP BY sq
    ), tot AS (
        SELECT CAST(SUM(pos) AS BIGINT) AS m, CAST(SUM(neg) AS BIGINT) AS n
        FROM grp
    ), cum AS (
        SELECT sq, pos, neg,
               SUM(pos) OVER (ORDER BY sq DESC ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS tp,
               SUM(neg) OVER (ORDER BY sq DESC ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS fp
        FROM grp
    ), seg AS (
        SELECT (fp - neg) AS fp0, fp AS fp1,
               (tp - pos) AS tp0, tp AS tp1, t.m, t.n
        FROM cum CROSS JOIN tot t WHERE neg > 0
    ), clip AS (
        SELECT m, n, fp0, fp1, tp0, tp1,
               LEAST(CAST(fp1 AS DOUBLE), CAST(n // 10 AS DOUBLE)) AS fp1c,
               CASE WHEN fp1 > fp0 THEN
                   tp0 + (tp1 - tp0)
                   * (LEAST(CAST(fp1 AS DOUBLE), CAST(n // 10 AS DOUBLE))
                      - fp0)
                   / (fp1 - fp0)
               ELSE CAST(tp1 AS DOUBLE) END AS tp1c
        FROM seg WHERE fp0 < n // 10
    ), area AS (
        SELECT CAST(SUM(CAST(FLOOR((fp1c - fp0) * (tp0 + tp1c) / 2 * 1e2)
                             AS BIGINT)) AS HUGEINT) AS aq,
               MAX(m) AS m, MAX(n) AS n
        FROM clip
    )
    SELECT m AS n_pos, n AS n_neg,
           ROUND(CAST(aq AS DOUBLE) / 1e2 / m / n, 6) AS pauc_0_10,
           ROUND(CAST(aq AS DOUBLE) / 1e2 / m / n
                 / (CAST(n // 10 AS DOUBLE) / n), 6) AS pauc_normalized,
           ROUND(0.5 * (1 + (CAST(aq AS DOUBLE) / 1e2 / m / n
                             - (CAST(n // 10 AS DOUBLE) / n)
                               * (CAST(n // 10 AS DOUBLE) / n) / 2)
                        / ((CAST(n // 10 AS DOUBLE) / n)
                           - (CAST(n // 10 AS DOUBLE) / n)
                             * (CAST(n // 10 AS DOUBLE) / n) / 2)), 6)
               AS mcclish_spauc
    FROM area
    """,
)
def ml_partial_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial AUC over FPR ∈ [0, 0.1] (McClish '89): the area that
    actually matters when you will never operate past a 10%
    false-positive budget — two models with equal full AUC routinely
    swap order here, which is why ``ml_recall_at_fpr`` (one point),
    this (the region), and ``ml_auc_delong_ci`` (the whole curve with
    error bars) form one toolkit. The ROC step segments come from the
    descending-score cumulative frame; the boundary segment is
    linearly interpolated at the EXACT-INTEGER cap ⌊n/10⌋ false
    positives (a float 0.1·n cap was measured to constant-fold
    differently between engines and flip one floor — integer caps
    remove the whole class), each trapezoid quantized at 1e-2
    count-units into a 128-bit fold; f₀ = ⌊n/10⌋/n is carried through
    the normalizations. Reported raw, normalized by the region width, and
    McClish-standardized to [0.5, 1].

    Scale: demote-to-distinct, one window, scalar algebra."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.floor(F.least(F.col("value") / 500.0, F.lit(1.0)) * 1e6)
        .cast("long")
        .alias("sq"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    grp = s.groupBy("sq").agg(
        F.sum("y").cast("long").alias("pos"),
        F.sum(1 - F.col("y")).cast("long").alias("neg"),
    )
    tot = grp.agg(
        F.sum("pos").cast("long").alias("m"),
        F.sum("neg").cast("long").alias("n"),
    )
    w_desc = Window.orderBy(F.desc("sq")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grp.select(
        "pos",
        "neg",
        F.sum("pos").over(w_desc).alias("tp"),
        F.sum("neg").over(w_desc).alias("fp"),
    )
    seg = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("neg") > 0)
        .select(
            (F.col("fp") - F.col("neg")).alias("fp0"),
            F.col("fp").alias("fp1"),
            (F.col("tp") - F.col("pos")).alias("tp0"),
            F.col("tp").alias("tp1"),
            "m",
            "n",
        )
    )
    fcap = F.expr("n div 10").cast("double")
    fp1c = F.least(F.col("fp1").cast("double"), fcap)
    tp1c = F.when(
        F.col("fp1") > F.col("fp0"),
        F.col("tp0")
        + (F.col("tp1") - F.col("tp0"))
        * (fp1c - F.col("fp0"))
        / (F.col("fp1") - F.col("fp0")),
    ).otherwise(F.col("tp1").cast("double"))
    clip = seg.filter(F.col("fp0") < fcap).select(
        "m",
        "n",
        "fp0",
        "tp0",
        fp1c.alias("fp1c"),
        tp1c.alias("tp1c"),
    )
    area = clip.agg(
        F.sum(
            F.floor(
                (F.col("fp1c") - F.col("fp0"))
                * (F.col("tp0") + F.col("tp1c"))
                / 2
                * 1e2
            )
            .cast("long")
            .cast("decimal(38,0)")
        ).alias("aq"),
        F.max("m").alias("m"),
        F.max("n").alias("n"),
    )
    pauc = F.col("aq").cast("double") / 1e2 / F.col("m") / F.col("n")
    f0 = F.expr("n div 10").cast("double") / F.col("n")
    return area.select(
        F.col("m").alias("n_pos"),
        F.col("n").alias("n_neg"),
        F.round(pauc, 6).alias("pauc_0_10"),
        F.round(pauc / f0, 6).alias("pauc_normalized"),
        F.round(
            0.5 * (1 + (pauc - f0 * f0 / 2) / (f0 - f0 * f0 / 2)), 6
        ).alias("mcclish_spauc"),
    )


def _hotelling_sql() -> str:
    # shared centered-moment fragments keep the SQL readable: the 3x3
    # pooled covariance entries and mean gaps are all named once
    return """
    WITH v AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS grp,
               CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS x1,
               CAST(l_quantity AS BIGINT) AS x2,
               CAST(FLOOR(l_discount * 10000.0) AS BIGINT) AS x3
        FROM lineitem WHERE l_returnflag IN ('R', 'A')
    ), per AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x1) AS BIGINT) AS s1,
               CAST(SUM(x2) AS BIGINT) AS s2,
               CAST(SUM(x3) AS BIGINT) AS s3,
               CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
               CAST(SUM(x2 * x2) AS BIGINT) AS s22,
               CAST(SUM(x3 * x3) AS BIGINT) AS s33,
               CAST(SUM(x1 * x2) AS BIGINT) AS s12,
               CAST(SUM(x1 * x3) AS BIGINT) AS s13,
               CAST(SUM(x2 * x3) AS BIGINT) AS s23
        FROM v GROUP BY grp
    ), cen AS (
        SELECT grp, n,
               CAST(s1 AS DOUBLE) / n AS m1,
               CAST(s2 AS DOUBLE) / n AS m2,
               CAST(s3 AS DOUBLE) / n AS m3,
               CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n AS c11,
               CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n AS c22,
               CAST(s33 AS DOUBLE) - CAST(s3 AS DOUBLE) * s3 / n AS c33,
               CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n AS c12,
               CAST(s13 AS DOUBLE) - CAST(s1 AS DOUBLE) * s3 / n AS c13,
               CAST(s23 AS DOUBLE) - CAST(s2 AS DOUBLE) * s3 / n AS c23
        FROM per
    ), pool AS (
        SELECT a.n AS n1, b.n AS n2,
               a.m1 - b.m1 AS d1, a.m2 - b.m2 AS d2, a.m3 - b.m3 AS d3,
               (a.c11 + b.c11) / (a.n + b.n - 2) AS p11,
               (a.c22 + b.c22) / (a.n + b.n - 2) AS p22,
               (a.c33 + b.c33) / (a.n + b.n - 2) AS p33,
               (a.c12 + b.c12) / (a.n + b.n - 2) AS p12,
               (a.c13 + b.c13) / (a.n + b.n - 2) AS p13,
               (a.c23 + b.c23) / (a.n + b.n - 2) AS p23
        FROM (SELECT * FROM cen WHERE grp = 1) a
        CROSS JOIN (SELECT * FROM cen WHERE grp = 0) b
    ), inv AS (
        SELECT n1, n2, d1, d2, d3,
               p11 * (p22 * p33 - p23 * p23)
               - p12 * (p12 * p33 - p23 * p13)
               + p13 * (p12 * p23 - p22 * p13) AS det,
               (p22 * p33 - p23 * p23) AS a11,
               (p13 * p23 - p12 * p33) AS a12,
               (p12 * p23 - p13 * p22) AS a13,
               (p11 * p33 - p13 * p13) AS a22,
               (p13 * p12 - p11 * p23) AS a23,
               (p11 * p22 - p12 * p12) AS a33
        FROM pool
    ), quad AS (
        SELECT n1, n2,
               (d1 * (a11 * d1 + a12 * d2 + a13 * d3)
                + d2 * (a12 * d1 + a22 * d2 + a23 * d3)
                + d3 * (a13 * d1 + a23 * d2 + a33 * d3)) / det AS q
        FROM inv
    )
    SELECT n1 AS n_returned, n2 AS n_available,
           ROUND(CAST(n1 AS DOUBLE) * n2 / (n1 + n2) * q, 4)
               AS hotelling_t2,
           ROUND(CAST(n1 AS DOUBLE) * n2 / (n1 + n2) * q
                 * (n1 + n2 - 3 - 1.0) / ((n1 + n2 - 2.0) * 3), 4)
               AS f_stat,
           CAST(3 AS BIGINT) AS df1,
           CAST(n1 + n2 - 3 - 1 AS BIGINT) AS df2
    FROM quad
    """


@register("stats_hotelling_t2", _hotelling_sql())
def stats_hotelling_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hotelling's T² two-sample test (Hotelling '31) on the THREE-
    dimensional mean vector (price, quantity, discount) of returned vs
    available lines: T² = n₁n₂/N · dᵀS_p⁻¹d with the pooled covariance
    inverted by EXPLICIT 3×3 cofactor algebra (no matrix library, no
    driver solve — the quadratic form is nine named scalar
    expressions), then F = T²(N−p−1)/((N−2)p) with (3, N−4) df. One
    multivariate test replaces three marginal Welch tests AND respects
    the covariate correlations ``stats_partial_corr`` measures — a
    mean shift hidden along a correlated direction is exactly what the
    marginals miss. All twelve raw moments per group are exact
    integers (price squares in 128-bit).

    Scale: one partial→final aggregate to 2 groups × 10 cells; the
    matrix algebra is row-local scalar math."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    v = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("grp"),
        F.floor(F.col("l_extendedprice") * 100.0).cast("long").alias("x1"),
        F.col("l_quantity").cast("long").alias("x2"),
        F.floor(F.col("l_discount") * 10000.0).cast("long").alias("x3"),
    )
    x1, x2, x3 = F.col("x1"), F.col("x2"), F.col("x3")
    per = v.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x1).cast("long").alias("s1"),
        F.sum(x2).cast("long").alias("s2"),
        F.sum(x3).cast("long").alias("s3"),
        F.sum(x1.cast("decimal(38,0)") * x1).alias("s11"),
        F.sum(x2 * x2).cast("long").alias("s22"),
        F.sum(x3 * x3).cast("long").alias("s33"),
        F.sum(x1 * x2).cast("long").alias("s12"),
        F.sum(x1 * x3).cast("long").alias("s13"),
        F.sum(x2 * x3).cast("long").alias("s23"),
    )
    n = F.col("n")
    cen = per.select(
        "grp",
        n,
        (F.col("s1").cast("double") / n).alias("m1"),
        (F.col("s2").cast("double") / n).alias("m2"),
        (F.col("s3").cast("double") / n).alias("m3"),
        (F.col("s11").cast("double") - F.col("s1").cast("double") * F.col("s1") / n).alias("c11"),
        (F.col("s22").cast("double") - F.col("s2").cast("double") * F.col("s2") / n).alias("c22"),
        (F.col("s33").cast("double") - F.col("s3").cast("double") * F.col("s3") / n).alias("c33"),
        (F.col("s12").cast("double") - F.col("s1").cast("double") * F.col("s2") / n).alias("c12"),
        (F.col("s13").cast("double") - F.col("s1").cast("double") * F.col("s3") / n).alias("c13"),
        (F.col("s23").cast("double") - F.col("s2").cast("double") * F.col("s3") / n).alias("c23"),
    )
    a = cen.filter(F.col("grp") == 1).select(
        *[F.col(c).alias(f"a_{c}") for c in cen.columns if c != "grp"]
    )
    b = cen.filter(F.col("grp") == 0).select(
        *[F.col(c).alias(f"b_{c}") for c in cen.columns if c != "grp"]
    )
    j = a.crossJoin(F.broadcast(b))
    dfree = F.col("a_n") + F.col("b_n") - 2
    pool = j.select(
        F.col("a_n").alias("n1"),
        F.col("b_n").alias("n2"),
        (F.col("a_m1") - F.col("b_m1")).alias("d1"),
        (F.col("a_m2") - F.col("b_m2")).alias("d2"),
        (F.col("a_m3") - F.col("b_m3")).alias("d3"),
        ((F.col("a_c11") + F.col("b_c11")) / dfree).alias("p11"),
        ((F.col("a_c22") + F.col("b_c22")) / dfree).alias("p22"),
        ((F.col("a_c33") + F.col("b_c33")) / dfree).alias("p33"),
        ((F.col("a_c12") + F.col("b_c12")) / dfree).alias("p12"),
        ((F.col("a_c13") + F.col("b_c13")) / dfree).alias("p13"),
        ((F.col("a_c23") + F.col("b_c23")) / dfree).alias("p23"),
    )
    p11, p22, p33 = F.col("p11"), F.col("p22"), F.col("p33")
    p12, p13, p23 = F.col("p12"), F.col("p13"), F.col("p23")
    inv = pool.select(
        "n1",
        "n2",
        "d1",
        "d2",
        "d3",
        (
            p11 * (p22 * p33 - p23 * p23)
            - p12 * (p12 * p33 - p23 * p13)
            + p13 * (p12 * p23 - p22 * p13)
        ).alias("det"),
        (p22 * p33 - p23 * p23).alias("a11"),
        (p13 * p23 - p12 * p33).alias("a12"),
        (p12 * p23 - p13 * p22).alias("a13"),
        (p11 * p33 - p13 * p13).alias("a22"),
        (p13 * p12 - p11 * p23).alias("a23"),
        (p11 * p22 - p12 * p12).alias("a33"),
    )
    d1, d2, d3 = F.col("d1"), F.col("d2"), F.col("d3")
    q = (
        d1 * (F.col("a11") * d1 + F.col("a12") * d2 + F.col("a13") * d3)
        + d2 * (F.col("a12") * d1 + F.col("a22") * d2 + F.col("a23") * d3)
        + d3 * (F.col("a13") * d1 + F.col("a23") * d2 + F.col("a33") * d3)
    ) / F.col("det")
    quad = inv.select("n1", "n2", q.alias("q"))
    n1, n2 = F.col("n1"), F.col("n2")
    t2 = n1.cast("double") * n2 / (n1 + n2) * F.col("q")
    return quad.select(
        n1.alias("n_returned"),
        n2.alias("n_available"),
        F.round(t2, 4).alias("hotelling_t2"),
        F.round(
            t2 * (n1 + n2 - 3 - F.lit(1.0)) / ((n1 + n2 - F.lit(2.0)) * 3), 4
        ).alias("f_stat"),
        F.lit(3).cast("long").alias("df1"),
        (n1 + n2 - 3 - 1).cast("long").alias("df2"),
    )


@register(
    "stats_dagostino_skew",
    """
    WITH v AS (
        SELECT CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS y
        FROM orders
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s1,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS s2,
               CAST(SUM(CAST(y AS HUGEINT) * y * y) AS HUGEINT) AS s3
        FROM v
    ), mo AS (
        SELECT n,
               CAST(s1 AS DOUBLE) / n AS m1,
               CAST(s2 AS DOUBLE) / n
               - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                   AS mu2,
               CAST(s3 AS DOUBLE) / n
               - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
               + 2 * (CAST(s1 AS DOUBLE) / n)
                 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                   AS mu3
        FROM s
    ), g AS (
        SELECT n, mu3 / POWER(mu2, 1.5) AS g1 FROM mo
    ), tr AS (
        SELECT n, g1,
               g1 * SQRT((n + 1.0) * (n + 3) / (6.0 * (n - 2))) AS yy,
               3.0 * (CAST(n AS DOUBLE) * n + 27 * n - 70) * (n + 1)
               * (n + 3)
               / ((n - 2.0) * (n + 5) * (n + 7) * (n + 9)) AS beta2
        FROM g
    ), w AS (
        SELECT n, g1, yy,
               SQRT(-1 + SQRT(2 * (beta2 - 1))) AS ww
        FROM tr
    )
    SELECT n AS n_obs, ROUND(g1, 6) AS sample_skewness,
           ROUND((1 / SQRT(LN(ww)))
                 * LN(yy / SQRT(2 / (ww * ww - 1))
                      + SQRT((yy / SQRT(2 / (ww * ww - 1)))
                             * (yy / SQRT(2 / (ww * ww - 1))) + 1)), 4)
               AS dagostino_z
    FROM w
    """,
)
def stats_dagostino_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Agostino's skewness test (D'Agostino '70): the sample skewness
    g₁ is carried through the exact Johnson-SU normalizing transform —
    Y = g₁√((n+1)(n+3)/(6(n−2))), W² = √(2(β₂−1))−1 with β₂ the exact
    null kurtosis of g₁, z = δ·asinh(Y/α) — giving a z-statistic whose
    null really is N(0,1) even at moderate n, unlike the raw g₁/se
    rule of thumb (and unlike ``stats_jarque_bera``, which needs both
    moments and larger n for its χ² to hold). The first three raw
    moments are exact integers (cubes in 128-bit); the transform is
    fixed-form scalar algebra.

    Scale: one map-side-combined pass to 4 cells."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("y"))
    y = F.col("y")
    s = v.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y).cast("long").alias("s1"),
        F.sum(y.cast("decimal(38,0)") * y).alias("s2"),
        F.sum(y.cast("decimal(38,0)") * y * y).alias("s3"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    m2r = F.col("s2").cast("double") / n
    m3r = F.col("s3").cast("double") / n
    mu2 = m2r - m1 * m1
    mu3 = m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1
    g = s.select(n, (mu3 / F.pow(mu2, 1.5)).alias("g1"))
    yy = F.col("g1") * F.sqrt(
        (n + F.lit(1.0)) * (n + 3) / (6.0 * (n - 2))
    )
    beta2 = (
        3.0
        * (n.cast("double") * n + 27 * n - 70)
        * (n + 1)
        * (n + 3)
        / ((n - F.lit(2.0)) * (n + 5) * (n + 7) * (n + 9))
    )
    tr = g.select(n, "g1", yy.alias("yy"), beta2.alias("beta2"))
    ww = F.sqrt(-1 + F.sqrt(2 * (F.col("beta2") - 1)))
    w = tr.select(n, "g1", "yy", ww.alias("ww"))
    alpha = F.sqrt(2 / (F.col("ww") * F.col("ww") - 1))
    z = (1 / F.sqrt(F.log(F.col("ww")))) * F.log(
        F.col("yy") / alpha
        + F.sqrt((F.col("yy") / alpha) * (F.col("yy") / alpha) + 1)
    )
    return w.select(
        n.alias("n_obs"),
        F.round(F.col("g1"), 6).alias("sample_skewness"),
        F.round(z, 4).alias("dagostino_z"),
    )


@register(
    "stats_median_test",
    """
    WITH v AS (
        SELECT o_orderpriority AS g,
               CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS y
        FROM orders
    ), grp AS (
        SELECT y, CAST(COUNT(*) AS BIGINT) AS f FROM v GROUP BY y
    ), med AS (
        SELECT MIN(y) AS m FROM (
            SELECT y, SUM(f) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS cc,
                   SUM(f) OVER () AS n
            FROM grp
        ) WHERE cc >= CAST(CEIL(0.5 * n) AS BIGINT)
    ), cells AS (
        SELECT v.g,
               CAST(COUNT(*) FILTER (WHERE v.y > med.m) AS BIGINT)
                   AS above,
               CAST(COUNT(*) FILTER (WHERE v.y <= med.m) AS BIGINT)
                   AS at_or_below
        FROM v CROSS JOIN med GROUP BY v.g
    ), tot AS (
        SELECT CAST(SUM(above) AS BIGINT) AS ta,
               CAST(SUM(at_or_below) AS BIGINT) AS tb,
               CAST(SUM(above + at_or_below) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM cells
    ), chi AS (
        SELECT t.k, t.n,
               CAST(SUM(
                   CAST(FLOOR(
                       (c.above - CAST(c.above + c.at_or_below AS DOUBLE)
                                  * t.ta / t.n)
                       * (c.above - CAST(c.above + c.at_or_below AS DOUBLE)
                                    * t.ta / t.n)
                       / (CAST(c.above + c.at_or_below AS DOUBLE)
                          * t.ta / t.n)
                       * 1e9) AS BIGINT)
                   + CAST(FLOOR(
                       (c.at_or_below
                        - CAST(c.above + c.at_or_below AS DOUBLE)
                          * t.tb / t.n)
                       * (c.at_or_below
                          - CAST(c.above + c.at_or_below AS DOUBLE)
                            * t.tb / t.n)
                       / (CAST(c.above + c.at_or_below AS DOUBLE)
                          * t.tb / t.n)
                       * 1e9) AS BIGINT)) AS BIGINT) AS chiq
        FROM cells c CROSS JOIN tot t
        GROUP BY t.k, t.n
    )
    SELECT k AS n_groups, n AS n_obs,
           CAST(k - 1 AS BIGINT) AS df,
           ROUND(chiq / 1e9, 4) AS median_test_chi2
    FROM chi
    """,
)
def stats_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's MEDIAN test across the five priority classes (Brown &
    Mood '51 — the k-sample location screen, not to be confused with
    the registered two-sample ``stats_mood_scale``): dichotomize every
    order at the GRAND exact median (demote-to-distinct order
    statistic), then χ²₄ on the k×2 above/at-or-below table. It only
    uses signs around one quantile, so it survives arbitrary outliers
    and wildly unequal variances where ``stats_kruskal_wallis`` pays a
    power price — the standard robustness/power trade inside the
    k-sample family. Each cell's (O−E)²/E floor-quantizes at 1e-9.

    Scale: one grouped frame for the median, one conditional count to
    5×2 cells."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("y"),
    )
    grp = v.groupBy("y").agg(F.count(F.lit(1)).cast("long").alias("f"))
    # round-6 window-audit fix: bucketed two-level cumulative + one
    # broadcast total instead of two whole-frame windows
    nn = grp.agg(F.sum("f").cast("long").alias("n"))
    med = (
        with_global_order(grp, "y", cumsums={"cc": "f"})
        .crossJoin(F.broadcast(nn))
        .filter(F.col("cc") >= F.ceil(0.5 * F.col("n")).cast("long"))
        .agg(F.min("y").alias("m"))
    )
    cells = (
        v.crossJoin(F.broadcast(med))
        .groupBy("g")
        .agg(
            F.count(F.when(F.col("y") > F.col("m"), 1))
            .cast("long")
            .alias("above"),
            F.count(F.when(F.col("y") <= F.col("m"), 1))
            .cast("long")
            .alias("at_or_below"),
        )
    )
    tot = cells.agg(
        F.sum("above").cast("long").alias("ta"),
        F.sum("at_or_below").cast("long").alias("tb"),
        F.sum(F.col("above") + F.col("at_or_below")).cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    rowtot = F.col("above") + F.col("at_or_below")
    ea = rowtot.cast("double") * F.col("ta") / F.col("n")
    eb = rowtot.cast("double") * F.col("tb") / F.col("n")
    chi = (
        cells.crossJoin(F.broadcast(tot))
        .groupBy("k", "n")
        .agg(
            F.sum(
                F.floor(
                    (F.col("above") - ea) * (F.col("above") - ea) / ea * 1e9
                ).cast("long")
                + F.floor(
                    (F.col("at_or_below") - eb)
                    * (F.col("at_or_below") - eb)
                    / eb
                    * 1e9
                ).cast("long")
            )
            .cast("long")
            .alias("chiq")
        )
    )
    return chi.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_obs"),
        (F.col("k") - 1).cast("long").alias("df"),
        F.round(F.col("chiq") / 1e9, 4).alias("median_test_chi2"),
    )


@register(
    "ml_calibration_slope",
    """
    WITH s AS (
        SELECT event_id,
               CAST(FLOOR(LEAST(value / 500.0, 1.0) * 1e6) AS BIGINT)
                   AS sq,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ), binned AS (
        SELECT NTILE(10) OVER (ORDER BY sq, event_id) AS bin, sq, y
        FROM s
    ), per_bin AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS nk,
               CAST(SUM(sq) AS BIGINT) AS spq,
               CAST(SUM(y) AS BIGINT) AS sy
        FROM binned GROUP BY bin
    ), folds AS (
        SELECT CAST(SUM(nk) AS BIGINT) AS w,
               CAST(SUM(spq) AS BIGINT) AS sx_q,
               CAST(SUM(sy) AS BIGINT) AS sy_t,
               CAST(SUM(CAST(FLOOR(CAST(spq AS DOUBLE) * spq / nk / 1e6)
                             AS BIGINT)) AS HUGEINT) AS sxx_q,
               CAST(SUM(CAST(FLOOR(CAST(spq AS DOUBLE) * sy / nk)
                             AS BIGINT)) AS BIGINT) AS sxy_q
        FROM per_bin
    )
    SELECT w AS n_obs,
           ROUND((CAST(w AS DOUBLE) * (sxy_q / 1e6)
                  - (sx_q / 1e6) * sy_t)
                 / (CAST(w AS DOUBLE) * (CAST(sxx_q AS DOUBLE) / 1e6)
                    - (sx_q / 1e6) * (sx_q / 1e6)), 6)
               AS calibration_slope,
           ROUND((CAST(sy_t AS DOUBLE)
                  - (CAST(w AS DOUBLE) * (sxy_q / 1e6)
                     - (sx_q / 1e6) * sy_t)
                    / (CAST(w AS DOUBLE) * (CAST(sxx_q AS DOUBLE) / 1e6)
                       - (sx_q / 1e6) * (sx_q / 1e6))
                    * (sx_q / 1e6)) / w, 6) AS calibration_intercept,
           ROUND(CAST(sy_t AS DOUBLE) / w - (sx_q / 1e6) / w, 6)
               AS calibration_in_the_large
    FROM folds
    """,
)
def ml_calibration_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration slope and intercept (Cox '58 recalibration form,
    size-weighted over the same deterministic deciles as
    ``ml_ece_adaptive``): regress observed outcome rate on mean
    forecast across bins — slope 1 / intercept 0 is perfect
    calibration, slope < 1 means forecasts are overconfident at the
    extremes (need shrinking), and calibration-in-the-large
    (ȳ − p̄) is the overall bias — together the three-number
    recalibration prescription where ECE only scores the error.
    Because bin totals ARE exact integers (nk·x̄_k = Σsq exactly),
    the WLS sufficient sums fold as integers with the two rational
    terms floor-quantized.

    Scale: one distributed-NTILE pass (round-6 window-audit fix) +
    10-cell algebra, same posture as ``ml_ece_adaptive``."""
    from hive_processor_spark.functions.orderstat import ntile_expr

    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "event_id",
        F.floor(F.least(F.col("value") / 500.0, F.lit(1.0)) * 1e6)
        .cast("long")
        .alias("sq"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    n_all = s.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    binned = (
        with_global_order(s, "sq", ["event_id"], rank="r")
        .crossJoin(F.broadcast(n_all))
        .select(
            ntile_expr(F.col("r"), F.col("n_all"), 10).alias("bin"),
            "sq",
            "y",
        )
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.sum("sq").cast("long").alias("spq"),
        F.sum("y").cast("long").alias("sy"),
    )
    folds = per_bin.agg(
        F.sum("nk").cast("long").alias("w"),
        F.sum("spq").cast("long").alias("sx_q"),
        F.sum("sy").cast("long").alias("sy_t"),
        F.sum(
            F.floor(
                F.col("spq").cast("double") * F.col("spq") / F.col("nk") / 1e6
            )
            .cast("long")
            .cast("decimal(38,0)")
        ).alias("sxx_q"),
        F.sum(
            F.floor(
                F.col("spq").cast("double") * F.col("sy") / F.col("nk")
            ).cast("long")
        )
        .cast("long")
        .alias("sxy_q"),
    )
    w = F.col("w")
    sx = F.col("sx_q") / 1e6
    slope = (
        w.cast("double") * (F.col("sxy_q") / 1e6) - sx * F.col("sy_t")
    ) / (
        w.cast("double") * (F.col("sxx_q").cast("double") / 1e6) - sx * sx
    )
    intercept = (F.col("sy_t").cast("double") - slope * sx) / w
    citl = F.col("sy_t").cast("double") / w - sx / w
    return folds.select(
        w.alias("n_obs"),
        F.round(slope, 6).alias("calibration_slope"),
        F.round(intercept, 6).alias("calibration_intercept"),
        F.round(citl, 6).alias("calibration_in_the_large"),
    )


@register(
    "ml_decision_curve",
    """
    WITH s AS (
        SELECT CAST(FLOOR(LEAST(value / 500.0, 1.0) * 1e6) AS BIGINT)
                   AS sq,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ), grp AS (
        SELECT sq, CAST(SUM(y) AS BIGINT) AS pos,
               CAST(SUM(1 - y) AS BIGINT) AS neg
        FROM s GROUP BY sq
    ), tot AS (
        SELECT CAST(SUM(pos) AS BIGINT) AS m, CAST(SUM(neg) AS BIGINT) AS n
        FROM grp
    ), pts AS (
        SELECT UNNEST([0.05, 0.10, 0.20, 0.30, 0.50]) AS pt
    ), at_thresh AS (
        SELECT p.pt,
               CAST(COALESCE(SUM(CASE WHEN g.sq >= CAST(FLOOR(p.pt * 1e6)
                                                        AS BIGINT)
                                      THEN g.pos END), 0) AS BIGINT) AS tp,
               CAST(COALESCE(SUM(CASE WHEN g.sq >= CAST(FLOOR(p.pt * 1e6)
                                                        AS BIGINT)
                                      THEN g.neg END), 0) AS BIGINT) AS fp
        FROM pts p CROSS JOIN grp g
        GROUP BY p.pt
    )
    SELECT a.pt AS threshold_prob,
           ROUND((CAST(a.tp AS DOUBLE)
                  - CAST(a.fp AS DOUBLE) * a.pt / (1 - a.pt))
                 / (t.m + t.n), 6) AS net_benefit_model,
           ROUND((CAST(t.m AS DOUBLE)
                  - CAST(t.n AS DOUBLE) * a.pt / (1 - a.pt))
                 / (t.m + t.n), 6) AS net_benefit_treat_all,
           0.0 AS net_benefit_treat_none,
           CASE WHEN (CAST(a.tp AS DOUBLE)
                      - CAST(a.fp AS DOUBLE) * a.pt / (1 - a.pt))
                     / (t.m + t.n)
                     > GREATEST((CAST(t.m AS DOUBLE)
                                 - CAST(t.n AS DOUBLE) * a.pt / (1 - a.pt))
                                / (t.m + t.n), 0.0)
                THEN 1 ELSE 0 END AS model_wins
    FROM at_thresh a CROSS JOIN tot t
    ORDER BY a.pt
    """,
)
def ml_decision_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-curve analysis (Vickers & Elkin '06): at each threshold
    probability p_t — the odds at which a user of the model would
    accept one false positive per p_t/(1−p_t) true positives — the
    NET BENEFIT (TP − FP·p_t/(1−p_t))/N of acting on score ≥ p_t,
    against the treat-ALL and treat-NONE policies. This is the
    utility-facing view the accuracy metrics (``ml_mcc_fbeta``,
    ``ml_partial_auc``) can't give: a model is only WORTH USING at
    thresholds where its curve clears both trivial policies, flagged
    per row. Counts are exact integers off the distinct-score frame;
    the thresholds map onto the same 1e-6 score grid.

    Scale: demote-to-distinct, one conditional aggregate per 5
    thresholds."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.floor(F.least(F.col("value") / 500.0, F.lit(1.0)) * 1e6)
        .cast("long")
        .alias("sq"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    grp = s.groupBy("sq").agg(
        F.sum("y").cast("long").alias("pos"),
        F.sum(1 - F.col("y")).cast("long").alias("neg"),
    )
    tot = grp.agg(
        F.sum("pos").cast("long").alias("m"),
        F.sum("neg").cast("long").alias("n"),
    )
    pts = spark.createDataFrame(
        [(0.05,), (0.10,), (0.20,), (0.30,), (0.50,)], ["pt"]
    )
    thresh_q = F.floor(F.col("pt") * 1e6).cast("long")
    at_thresh = (
        pts.crossJoin(grp)
        .groupBy("pt")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("sq") >= thresh_q, F.col("pos"))),
                F.lit(0),
            )
            .cast("long")
            .alias("tp"),
            F.coalesce(
                F.sum(F.when(F.col("sq") >= thresh_q, F.col("neg"))),
                F.lit(0),
            )
            .cast("long")
            .alias("fp"),
        )
    )
    j = at_thresh.crossJoin(F.broadcast(tot))
    odds = F.col("pt") / (1 - F.col("pt"))
    nb_model = (
        F.col("tp").cast("double") - F.col("fp").cast("double") * odds
    ) / (F.col("m") + F.col("n"))
    nb_all = (
        F.col("m").cast("double") - F.col("n").cast("double") * odds
    ) / (F.col("m") + F.col("n"))
    return j.select(
        F.col("pt").alias("threshold_prob"),
        F.round(nb_model, 6).alias("net_benefit_model"),
        F.round(nb_all, 6).alias("net_benefit_treat_all"),
        F.lit(0.0).alias("net_benefit_treat_none"),
        F.when(nb_model > F.greatest(nb_all, F.lit(0.0)), 1)
        .otherwise(0)
        .alias("model_wins"),
    ).orderBy("threshold_prob")


def _rbo_weights(p: float = 0.9, depth: int = 50):
    """W(m) = sum_{d=m..depth} p^(d-1)/d — embedded as literals so both
    engines share the exact same doubles (no per-engine pow/ln)."""
    ws = []
    for m in range(1, depth + 1):
        ws.append(sum(p ** (d - 1) / d for d in range(m, depth + 1)))
    return ws


_RBO_W = _rbo_weights()


def _rbo_sql() -> str:
    arr = "[" + ", ".join(repr(w) for w in _RBO_W) + "]"
    return f"""
    WITH rev AS (
        SELECT l_partkey AS pk,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT))
                    AS BIGINT) AS r,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem GROUP BY l_partkey
    ), by_rev AS (
        SELECT pk, ROW_NUMBER() OVER (ORDER BY r DESC, pk) AS rk
        FROM rev QUALIFY rk <= 50
    ), by_qty AS (
        SELECT pk, ROW_NUMBER() OVER (ORDER BY q DESC, pk) AS rk
        FROM rev QUALIFY rk <= 50
    ), joint AS (
        SELECT GREATEST(a.rk, b.rk) AS m
        FROM by_rev a JOIN by_qty b ON b.pk = a.pk
    ), w AS (SELECT {arr} AS t)
    SELECT CAST(50 AS BIGINT) AS depth,
           CAST((SELECT COUNT(*) FROM joint) AS BIGINT) AS n_common,
           ROUND(0.09999999999999998 * (
               SELECT COALESCE(SUM(CAST(FLOOR(w.t[j.m] * 1e12)
                                        AS BIGINT)), 0)
               FROM joint j CROSS JOIN w) / 1e12, 6) AS rbo_truncated
    """


@register("ml_rank_biased_overlap", _rbo_sql())
def ml_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel TOIS'10, p = 0.9,
    depth 50) between the revenue top-50 and quantity top-50 part
    rankings: RBO = (1−p)Σ_d p^{d−1}·|overlap@d|/d — the top-weighted
    rank similarity that handles NON-CONJOINT lists, which Kendall/
    Spearman (``ml_spearman``/``ml_ranking_stability``) fundamentally
    cannot. The per-depth overlap never materializes: an item present
    in both prefixes at ranks (r₁, r₂) contributes exactly
    W(max(r₁,r₂)) with W(m) = Σ_{d≥m} p^{d−1}/d, and those 50 W values
    are PRECOMPUTED PYTHON LITERALS embedded in both plans — no
    per-engine pow chains on the comparison path (the LNFACT_Q
    discipline applied to rank weights).

    Scale: one partial→final aggregate to parts, two top-50 windows,
    a ≤50-row join."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100.0).cast("long"))
        .cast("long")
        .alias("r"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"),
    )
    by_rev = (
        rev.select(
            "pk",
            F.row_number()
            .over(Window.orderBy(F.desc("r"), F.asc("pk")))
            .alias("rk"),
        )
        .filter(F.col("rk") <= 50)
    )
    by_qty = (
        rev.select(
            "pk",
            F.row_number()
            .over(Window.orderBy(F.desc("q"), F.asc("pk")))
            .alias("rk2"),
        )
        .filter(F.col("rk2") <= 50)
    )
    joint = by_rev.join(by_qty, "pk").select(
        F.greatest(F.col("rk"), F.col("rk2")).alias("m")
    )
    warr = F.array(*[F.lit(w) for w in _RBO_W])
    agg = joint.agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.coalesce(
            F.sum(
                F.floor(F.element_at(warr, F.col("m")) * 1e12).cast("long")
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("wsum_q"),
    )
    return agg.select(
        F.lit(50).cast("long").alias("depth"),
        "n_common",
        F.round(
            F.lit(0.09999999999999998) * F.col("wsum_q") / 1e12, 6
        ).alias("rbo_truncated"),
    )


@register(
    "stats_breslow_day",
    """
    WITH v AS (
        SELECT date_part('year', l_shipdate) AS yr,
               CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS exposed,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS outcome
        FROM lineitem WHERE l_returnflag IN ('R', 'A')
    ), strata AS (
        SELECT yr,
               CAST(COUNT(*) FILTER (WHERE exposed = 1 AND outcome = 1)
                    AS BIGINT) AS a,
               CAST(COUNT(*) FILTER (WHERE exposed = 1 AND outcome = 0)
                    AS BIGINT) AS b,
               CAST(COUNT(*) FILTER (WHERE exposed = 0 AND outcome = 1)
                    AS BIGINT) AS c,
               CAST(COUNT(*) FILTER (WHERE exposed = 0 AND outcome = 0)
                    AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM v GROUP BY yr
    ), psi AS (
        SELECT (CAST(SUM(CAST(FLOOR(CAST(a AS DOUBLE) * d / n * 1e9)
                              AS BIGINT)) AS BIGINT) / 1e9)
               / (CAST(SUM(CAST(FLOOR(CAST(b AS DOUBLE) * c / n * 1e9)
                                AS BIGINT)) AS BIGINT) / 1e9) AS w
        FROM strata
    ), fitted AS (
        SELECT s.a, s.n, p.w,
               CAST(s.a + s.b AS DOUBLE) AS r1,
               CAST(s.a + s.c AS DOUBLE) AS c1,
               1.0 - p.w AS qa,
               CAST(s.n AS DOUBLE) - (s.a + s.b) - (s.a + s.c)
                   + p.w * ((s.a + s.b) + (s.a + s.c)) AS qb,
               -(p.w * (s.a + s.b) * (s.a + s.c)) AS qc
        FROM strata s CROSS JOIN psi p
    ), roots AS (
        SELECT a, n, r1, c1,
               (-qb + SQRT(qb * qb - 4.0 * qa * qc)) / (2.0 * qa) AS t1,
               (-qb - SQRT(qb * qb - 4.0 * qa * qc)) / (2.0 * qa) AS t2,
               GREATEST(0.0, r1 + c1 - n) AS lo,
               LEAST(r1, c1) AS hi
        FROM fitted
    ), contrib AS (
        SELECT a, n, r1, c1,
               CASE WHEN t1 >= lo AND t1 <= hi THEN t1 ELSE t2 END AS ta
        FROM roots
    ), terms AS (
        SELECT a, ta,
               1.0 / (1.0 / ta + 1.0 / (r1 - ta) + 1.0 / (c1 - ta)
                      + 1.0 / (n - r1 - c1 + ta)) AS vv
        FROM contrib
    ), folds AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
               CAST(SUM(CAST(FLOOR((a - ta) * (a - ta) / vv * 1e9)
                             AS BIGINT)) AS BIGINT) AS chiq,
               CAST(SUM(CAST(FLOOR((a - ta) * 1e9) AS BIGINT))
                    AS BIGINT) AS devq,
               CAST(SUM(CAST(FLOOR(vv * 1e9) AS BIGINT)) AS BIGINT) AS vq
        FROM terms
    )
    SELECT n_strata, n_strata - 1 AS df,
           ROUND((SELECT w FROM psi), 6) AS or_mh,
           ROUND(chiq / 1e9, 4) AS bd_chi2,
           ROUND(chiq / 1e9 - (devq / 1e9) * (devq / 1e9) / (vq / 1e9), 4)
               AS tarone_chi2
    FROM folds
    """,
)
def stats_breslow_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breslow–Day test (with Tarone's adjustment) for HOMOGENEITY of the
    odds ratio across ship-year strata — the diagnostic that must be read
    BEFORE quoting ``stats_mantel_haenszel``'s pooled OR: CMH assumes one
    common ψ; BD asks whether the per-year 2×2 tables (discount ≥ 5%
    exposure vs R-vs-A returns) are consistent with that. Per stratum the
    expected exposed-case count ã under ψ̂_MH solves the quadratic
    (1−ψ)ã² + (n−r₁−c₁+ψ(r₁+c₁))ã − ψr₁c₁ = 0 (root inside
    [max(0,r₁+c₁−n), min(r₁,c₁)]); χ²_BD = Σ(aᵢ−ãᵢ)²/Vᵢ with
    V = (1/ã + 1/(r₁−ã) + 1/(c₁−ã) + 1/(ñ₀₀))⁻¹, and Tarone subtracts
    (Σ(aᵢ−ãᵢ))²/ΣVᵢ to restore the χ²_{K−1} null. The quadratic/sqrt
    chain runs per-stratum (≤7 rows, deterministic IEEE ops on exact
    integer cells); only the three fold sums cross rows and they are
    floor-quantized at 1e-9 first — same discipline as the MH fold.

    Scale: one partial→final aggregate to year strata, a 1-row ψ
    broadcast, scalar algebra on ≤7 rows."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    v = li.select(
        F.year("l_shipdate").alias("yr"),
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("exposed"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("outcome"),
    )
    strata = v.groupBy("yr").agg(
        F.count(F.when((F.col("exposed") == 1) & (F.col("outcome") == 1), 1))
        .cast("long")
        .alias("a"),
        F.count(F.when((F.col("exposed") == 1) & (F.col("outcome") == 0), 1))
        .cast("long")
        .alias("b"),
        F.count(F.when((F.col("exposed") == 0) & (F.col("outcome") == 1), 1))
        .cast("long")
        .alias("c"),
        F.count(F.when((F.col("exposed") == 0) & (F.col("outcome") == 0), 1))
        .cast("long")
        .alias("d"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    a, b, c, d, n = (F.col(x) for x in "abcdn")
    psi = strata.agg(
        (
            F.sum(F.floor(a.cast("double") * d / n * 1e9).cast("long"))
            .cast("long")
            / 1e9
        ).alias("adq"),
        (
            F.sum(F.floor(b.cast("double") * c / n * 1e9).cast("long"))
            .cast("long")
            / 1e9
        ).alias("bcq"),
    ).select((F.col("adq") / F.col("bcq")).alias("w"))
    w = F.col("w")
    r1 = (a + b).cast("double")
    c1 = (a + c).cast("double")
    qa = F.lit(1.0) - w
    qb = n.cast("double") - (a + b) - (a + c) + w * ((a + b) + (a + c))
    qc = -(w * (a + b) * (a + c))
    disc = F.sqrt(qb * qb - 4.0 * qa * qc)
    t1 = (-qb + disc) / (2.0 * qa)
    t2 = (-qb - disc) / (2.0 * qa)
    lo = F.greatest(F.lit(0.0), r1 + c1 - n)
    hi = F.least(r1, c1)
    ta = F.when((t1 >= lo) & (t1 <= hi), t1).otherwise(t2)
    fitted = strata.crossJoin(F.broadcast(psi)).select(
        a, n, r1.alias("r1"), c1.alias("c1"), w, ta.alias("ta")
    )
    taf, r1f, c1f = F.col("ta"), F.col("r1"), F.col("c1")
    vv = 1.0 / (
        1.0 / taf
        + 1.0 / (r1f - taf)
        + 1.0 / (c1f - taf)
        + 1.0 / (n - r1f - c1f + taf)
    )
    folds = fitted.select(a, F.col("ta"), vv.alias("vv")).agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum(
            F.floor((a - taf) * (a - taf) / F.col("vv") * 1e9).cast("long")
        )
        .cast("long")
        .alias("chiq"),
        F.sum(F.floor((a - taf) * 1e9).cast("long")).cast("long").alias("devq"),
        F.sum(F.floor(F.col("vv") * 1e9).cast("long")).cast("long").alias("vq"),
    )
    return folds.crossJoin(F.broadcast(psi)).select(
        "n_strata",
        (F.col("n_strata") - 1).alias("df"),
        F.round(w, 6).alias("or_mh"),
        F.round(F.col("chiq") / 1e9, 4).alias("bd_chi2"),
        F.round(
            F.col("chiq") / 1e9
            - (F.col("devq") / 1e9) * (F.col("devq") / 1e9)
            / (F.col("vq") / 1e9),
            4,
        ).alias("tarone_chi2"),
    )


@register(
    "stats_rank_effect_sizes",
    """
    WITH pts AS (
        SELECT value,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                   AS na,
               CAST(COUNT(*) AS BIGINT) AS t
        FROM events WHERE event_type IN ('purchase', 'view')
        GROUP BY value
    ), rk AS (
        SELECT na, t,
               COALESCE(SUM(t) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        FROM pts
    ), s AS (
        SELECT SUM(na * (below + (t + 1) / 2.0)) AS r1,
               SUM(na) AS n1, SUM(t) - SUM(na) AS n2
        FROM rk
    )
    SELECT CAST(n1 AS BIGINT) AS n_a,
           CAST(n2 AS BIGINT) AS n_b,
           ROUND(r1 - n1 * (n1 + 1) / 2.0, 1) AS u_stat,
           ROUND((r1 - n1 * (n1 + 1) / 2.0) / (n1 * n2), 6) AS vd_a,
           ROUND(2.0 * (r1 - n1 * (n1 + 1) / 2.0) / (n1 * n2) - 1.0, 6)
               AS cliffs_delta,
           CASE
               WHEN ABS(2.0 * (r1 - n1 * (n1 + 1) / 2.0) / (n1 * n2) - 1.0)
                    < 0.147 THEN 'negligible'
               WHEN ABS(2.0 * (r1 - n1 * (n1 + 1) / 2.0) / (n1 * n2) - 1.0)
                    < 0.33 THEN 'small'
               WHEN ABS(2.0 * (r1 - n1 * (n1 + 1) / 2.0) / (n1 * n2) - 1.0)
                    < 0.474 THEN 'medium'
               ELSE 'large'
           END AS magnitude
    FROM s
    """,
)
def stats_rank_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based effect sizes for the purchase-vs-view comparison — the
    numbers a Mann–Whitney z-score (``stats_mann_whitney``) should ship
    with but usually doesn't: Vargha–Delaney Â = U/(n₁n₂) (probability a
    random purchase outranks a random view, ties half), Cliff's δ = 2Â−1
    (≡ the rank-biserial correlation for this design), and the standard
    |δ| magnitude bands (0.147/0.33/0.474). U comes from the same
    midrank identity as the test itself — rank(v) = #smaller + (ties+1)/2
    over the grouped-by-value frame, so U is exact (half-integers) and Â/δ
    are one exact division each.

    Scale: identical to ``stats_mann_whitney`` — one shuffle ∝ distinct
    values, the bucketed two-level cumulative, then a scalar epilogue.
    Effect sizes are what survive at 100 TB: with n in the billions every
    z-score is "significant"; δ is the number that still means something."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    pts = ev.groupBy("value").agg(
        F.count_if(F.col("event_type") == "purchase").alias("na"),
        F.count(F.lit(1)).alias("t"),
    )
    rk = with_global_order(pts, "value", cumsums={"ct": "t"}).select(
        "na", "t", (F.col("ct") - F.col("t")).alias("below")
    )
    s = rk.agg(
        F.sum(
            F.col("na") * (F.col("below") + (F.col("t") + 1) / F.lit(2.0))
        ).alias("r1"),
        F.sum("na").alias("n1"),
        (F.sum("t") - F.sum("na")).alias("n2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u = F.col("r1") - n1 * (n1 + 1) / F.lit(2.0)
    a_hat = u / (n1 * n2)
    delta = F.lit(2.0) * a_hat - F.lit(1.0)
    return s.select(
        n1.cast("bigint").alias("n_a"),
        n2.cast("bigint").alias("n_b"),
        F.round(u, 1).alias("u_stat"),
        F.round(a_hat, 6).alias("vd_a"),
        F.round(delta, 6).alias("cliffs_delta"),
        F.when(F.abs(delta) < 0.147, F.lit("negligible"))
        .when(F.abs(delta) < 0.33, F.lit("small"))
        .when(F.abs(delta) < 0.474, F.lit("medium"))
        .otherwise(F.lit("large"))
        .alias("magnitude"),
    )


@register(
    "stats_moran_geary",
    """
    WITH nat AS (
        SELECT n.n_regionkey AS rk, n.n_nationkey,
               CAST(SUM(CAST(FLOOR(c.c_acctbal * 100.0) AS HUGEINT))
                    AS HUGEINT) AS x
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s FROM nat
    ),
    z AS (
        SELECT rk,
               CAST(FLOOR(CAST(tot.n * x - tot.s AS DOUBLE)
                          / CAST(tot.s AS DOUBLE) * 1e12) AS HUGEINT) AS zq
        FROM nat, tot
    ),
    reg AS (
        SELECT rk, CAST(COUNT(*) AS HUGEINT) AS nr,
               SUM(zq) AS sr, SUM(zq * zq) AS qr
        FROM z GROUP BY rk
    ),
    agg AS (
        SELECT CAST(SUM(nr) AS BIGINT) AS n,
               CAST(SUM(nr * (nr - 1)) AS BIGINT) AS w,
               SUM(sr * sr - qr) AS num_i,
               SUM(2 * (nr * qr - sr * sr)) AS num_c,
               SUM(qr) AS q
        FROM reg
    )
    SELECT n AS n_nations, w AS n_weight_pairs,
           ROUND(CAST(n AS DOUBLE) / w * CAST(num_i AS DOUBLE)
                 / CAST(q AS DOUBLE), 6) AS morans_i,
           ROUND(-1.0 / (n - 1), 6) AS expected_i,
           ROUND(CAST(n - 1 AS DOUBLE) / (2.0 * w) * CAST(num_c AS DOUBLE)
                 / CAST(q AS DOUBLE), 6) AS gearys_c
    FROM agg
    """,
)
def stats_moran_geary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moran's I and Geary's C spatial autocorrelation of per-nation
    account-balance mass under the same-region contiguity weight matrix
    (w_ij = 1 iff nations i≠j share a region) — do rich nations cluster
    within regions? Block weights collapse the O(n²) double sum to
    per-region aggregates: ΣΣ w z_i z_j = Σ_r (S_r² − Q_r) and
    ΣΣ w (z_i−z_j)² = Σ_r 2(n_r Q_r − S_r²) with S_r = Σz, Q_r = Σz² —
    no pair join at any scale. z is the dimensionless relative deviation
    (n·x_i − S)/S of exact integer cents, floor-quantized at 1e-12 into a
    128-bit integer, so every cross-term is exact and the only doubles are
    the three final divisions. Expected value under the null, −1/(n−1),
    ships alongside so I is readable without a table.

    Scale: one customer-sized groupBy (map-side combined) under a
    broadcast nation join; everything after is a 25-row frame."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    nat = (
        cust.join(
            F.broadcast(nation),
            cust.c_nationkey == nation.n_nationkey,
        )
        .groupBy(
            F.col("n_regionkey").alias("rk"), F.col("n_nationkey")
        )
        .agg(
            F.sum(
                F.floor(F.col("c_acctbal") * 100.0).cast("decimal(38,0)")
            ).alias("x")
        )
    )
    tot = nat.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("s"),
    )
    z = nat.crossJoin(F.broadcast(tot)).select(
        "rk",
        F.floor(
            (F.col("n") * F.col("x") - F.col("s")).cast("double")
            / F.col("s").cast("double")
            * 1e12
        )
        .cast("decimal(38,0)")
        .alias("zq"),
    )
    reg = z.groupBy("rk").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nr"),
        F.sum("zq").alias("sr"),
        F.sum(F.col("zq") * F.col("zq")).alias("qr"),
    )
    nr, sr, qr = F.col("nr"), F.col("sr"), F.col("qr")
    agg = reg.agg(
        F.sum(nr).cast("bigint").alias("n"),
        F.sum(nr * (nr - 1)).cast("bigint").alias("w"),
        F.sum(sr * sr - qr).alias("num_i"),
        F.sum(F.lit(2).cast("decimal(38,0)") * (nr * qr - sr * sr)).alias(
            "num_c"
        ),
        F.sum(qr).alias("q"),
    )
    n, w = F.col("n"), F.col("w")
    return agg.select(
        n.alias("n_nations"),
        w.alias("n_weight_pairs"),
        F.round(
            n.cast("double")
            / w
            * F.col("num_i").cast("double")
            / F.col("q").cast("double"),
            6,
        ).alias("morans_i"),
        F.round(F.lit(-1.0) / (n - 1), 6).alias("expected_i"),
        F.round(
            (n - 1).cast("double")
            / (F.lit(2.0) * w)
            * F.col("num_c").cast("double")
            / F.col("q").cast("double"),
            6,
        ).alias("gearys_c"),
    )


@register(
    "stats_dunn_test",
    """
    WITH pts AS (
        SELECT c_acctbal AS v, c_mktsegment AS seg,
               CAST(COUNT(*) AS BIGINT) AS ns
        FROM customer GROUP BY 1, 2
    ), vt AS (
        SELECT v, CAST(SUM(ns) AS BIGINT) AS t FROM pts GROUP BY v
    ), rk AS (
        SELECT v, t,
               COALESCE(SUM(t) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below
        FROM vt
    ), segstats AS (
        SELECT p.seg,
               CAST(SUM(p.ns) AS BIGINT) AS n_g,
               SUM(p.ns * (r.below + (r.t + 1) / 2.0)) AS rsum
        FROM pts p JOIN rk r ON r.v = p.v
        GROUP BY p.seg
    ), gl AS (
        SELECT CAST(SUM(t) AS BIGINT) AS n,
               CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
        FROM vt
    )
    SELECT a.seg AS seg_a, b.seg AS seg_b,
           a.n_g AS n_a, b.n_g AS n_b,
           ROUND(a.rsum / a.n_g, 4) AS mean_rank_a,
           ROUND(b.rsum / b.n_g, 4) AS mean_rank_b,
           ROUND((a.rsum / a.n_g - b.rsum / b.n_g)
                 / SQRT((CAST(g.n AS DOUBLE) * (g.n + 1) / 12.0
                         - CAST(g.tie3 AS DOUBLE) / (12.0 * (g.n - 1)))
                        * (1.0 / a.n_g + 1.0 / b.n_g)), 6) AS dunn_z
    FROM segstats a JOIN segstats b ON a.seg < b.seg, gl g
    ORDER BY seg_a, seg_b
    """,
)
def stats_dunn_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc pairwise comparisons over market segments — the
    step AFTER ``stats_kruskal_wallis`` rejects: for every segment pair,
    z = (R̄_i − R̄_j) / √((N(N+1)/12 − Σ(t³−t)/(12(N−1)))(1/n_i + 1/n_j))
    using the pooled midranks of account balance, tie-corrected. Midranks
    come from the grouped-by-value frame (below + (t+1)/2 — exact
    half-integers, and every rank-sum term is a half-integer < 2⁵³ so the
    fold is order-independent without quantization); the pair grid is a
    5×5 self-join of the per-segment aggregate, not of rows.

    Scale: one shuffle ∝ distinct balances for the rank frame, one
    ∝ (value, segment) for the per-segment sums, then all-metadata: the
    pair frame is |segments|² rows. The z denominators share one global
    tie aggregate broadcast into the grid."""
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.groupBy(
        F.col("c_acctbal").alias("v"), F.col("c_mktsegment").alias("seg")
    ).agg(F.count(F.lit(1)).cast("long").alias("ns"))
    vt = pts.groupBy("v").agg(F.sum("ns").cast("long").alias("t"))
    rk = with_global_order(vt, "v", cumsums={"ct": "t"}).select(
        "v", "t", (F.col("ct") - F.col("t")).alias("below")
    )
    segstats = (
        pts.join(rk, "v")
        .groupBy("seg")
        .agg(
            F.sum("ns").cast("long").alias("n_g"),
            F.sum(
                F.col("ns")
                * (F.col("below") + (F.col("t") + 1) / F.lit(2.0))
            ).alias("rsum"),
        )
    )
    # tie3 folds t³ terms: a single hot value with t ≈ 2.1e6 already
    # overflows int64 in the per-row product, and the cross-row sum far
    # sooner — accumulate in decimal(38,0) (the HUGEINT discipline used
    # by the other rank statistics) and only drop to double in the
    # variance formula.
    t_dec = F.col("t").cast("decimal(38,0)")
    glob = vt.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(t_dec * t_dec * t_dec - t_dec).alias("tie3"),
    )
    a = segstats.select(
        F.col("seg").alias("seg_a"),
        F.col("n_g").alias("n_a"),
        F.col("rsum").alias("rsum_a"),
    )
    b = segstats.select(
        F.col("seg").alias("seg_b"),
        F.col("n_g").alias("n_b"),
        F.col("rsum").alias("rsum_b"),
    )
    # |segments| rows per side (5 here): broadcast one side so the pair
    # grid is a BroadcastNestedLoopJoin, never a shuffled CartesianProduct.
    grid = a.join(F.broadcast(b), F.col("seg_a") < F.col("seg_b")).crossJoin(
        F.broadcast(glob)
    )
    ra = F.col("rsum_a") / F.col("n_a")
    rb = F.col("rsum_b") / F.col("n_b")
    n = F.col("n")
    var = (
        n.cast("double") * (n + 1) / 12.0
        - F.col("tie3").cast("double") / (12.0 * (n - 1))
    ) * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    return grid.select(
        "seg_a",
        "seg_b",
        "n_a",
        "n_b",
        F.round(ra, 4).alias("mean_rank_a"),
        F.round(rb, 4).alias("mean_rank_b"),
        F.round((ra - rb) / F.sqrt(var), 6).alias("dunn_z"),
    ).orderBy("seg_a", "seg_b")


@register(
    "stats_ansari_bradley",
    """
    WITH pts AS (
        SELECT value,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                   AS na,
               CAST(COUNT(*) AS BIGINT) AS t
        FROM events WHERE event_type IN ('purchase', 'view')
        GROUP BY value
    ), tot AS (
        SELECT CAST(SUM(t) AS BIGINT) AS n,
               CAST(SUM(na) AS BIGINT) AS n1,
               CAST(SUM(t) - SUM(na) AS BIGINT) AS n2,
               CAST((SUM(t) + 1) // 2 AS BIGINT) AS m
        FROM pts
    ), blk AS (
        SELECT na, t,
               COALESCE(SUM(t) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
                   AS l,
               COALESCE(SUM(t) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t
                   AS r
        FROM pts
    ), sc AS (
        SELECT na, t,
               (CASE WHEN LEAST(r, tot.m) >= l
                     THEN (LEAST(r, tot.m) * (LEAST(r, tot.m) + 1)
                           - (l - 1) * l) // 2
                     ELSE 0 END
                + CASE WHEN r >= GREATEST(l, tot.m + 1)
                       THEN (tot.n + 1) * (r - GREATEST(l, tot.m + 1) + 1)
                            - (r * (r + 1)
                               - (GREATEST(l, tot.m + 1) - 1)
                                 * GREATEST(l, tot.m + 1)) // 2
                       ELSE 0 END) AS s
        FROM blk, tot
    ), mom AS (
        SELECT SUM(CAST(FLOOR(CAST(na AS DOUBLE) * s / t * 1e4)
                        AS HUGEINT)) AS wq,
               SUM(CAST(FLOOR(CAST(s AS DOUBLE) * s / t * 1e2)
                        AS HUGEINT)) AS s2q,
               CAST(SUM(s) AS HUGEINT) AS ssum
        FROM sc
    )
    SELECT tot.n1 AS n_a, tot.n2 AS n_b,
           ROUND(CAST(wq AS DOUBLE) / 1e4, 4) AS ab_stat,
           ROUND(CAST(tot.n1 AS DOUBLE) * CAST(ssum AS DOUBLE) / tot.n, 4)
               AS expected,
           ROUND((CAST(wq AS DOUBLE) / 1e4
                  - CAST(tot.n1 AS DOUBLE) * CAST(ssum AS DOUBLE) / tot.n)
                 / SQRT(CAST(tot.n1 AS DOUBLE) * tot.n2
                        * (CAST(s2q AS DOUBLE) / 1e2
                           - CAST(ssum AS DOUBLE) * CAST(ssum AS DOUBLE)
                             / tot.n)
                        / (CAST(tot.n AS DOUBLE) * (tot.n - 1))), 6)
               AS z_score
    FROM mom, tot
    """,
)
def stats_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari–Bradley dispersion test: are purchase values more SPREAD
    OUT than view values (same-location alternative to the
    location-sensitive ``stats_mann_whitney``)? Scores rank inward from
    both ends — s(pos) = min(pos, N+1−pos) — so extreme observations
    score low; W = Σ over purchases of the tie-averaged score, z from the
    exact conditional moments E[W] = n₁·s̄ and
    Var = n₁n₂(Σs²−Ns̄²)/(N(N−1)). A tie block occupying positions
    [l, r] never enumerates them: its integer score sum is two
    triangular-number differences split at the fold point m = ⌈N/2⌉, so
    the whole test runs on the grouped-by-value frame. The per-block
    na·S/t and S²/t terms are floor-quantized (1e-4 / 1e-2 — Σs² grows
    like N³/12, so the coarser scale keeps the 128-bit fold exact with
    headroom) and integer-summed.

    Scale: one shuffle ∝ distinct values, the shared bucketed cumulative
    for block offsets, one moment fold — ``stats_mann_whitney`` shape
    exactly, measuring the second moment instead of the first."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    pts = ev.groupBy("value").agg(
        F.count_if(F.col("event_type") == "purchase").alias("na"),
        F.count(F.lit(1)).alias("t"),
    )
    tot = pts.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum("na").cast("long").alias("n1"),
        (F.sum("t") - F.sum("na")).cast("long").alias("n2"),
        F.floor((F.sum("t") + 1) / 2).cast("long").alias("m"),
    )
    blk = with_global_order(pts, "value", cumsums={"ct": "t"}).select(
        "na",
        "t",
        (F.col("ct") - F.col("t") + 1).alias("l"),
        F.col("ct").alias("r"),
    ).crossJoin(F.broadcast(tot))
    l, r, m, n = F.col("l"), F.col("r"), F.col("m"), F.col("n")
    a = F.least(r, m)
    b = F.greatest(l, m + 1)

    # Triangular-number differences in decimal(38,0): the int64 product
    # x*(x+1) is exact only while x ≲ 3e9 positions, which a 100 TB row
    # count exceeds.  tri(x) = x(x+1)/2 — the numerator is always even,
    # so the decimal division is exact and the cast back to scale-0 is
    # lossless.
    def _tri(x):
        xd = x.cast("decimal(19,0)")
        return ((xd * (xd + 1)) / 2).cast("decimal(38,0)")

    zero = F.lit(0).cast("decimal(38,0)")
    part1 = F.when(a >= l, _tri(a) - _tri(l - 1)).otherwise(zero)
    part2 = F.when(
        r >= b,
        (n + 1).cast("decimal(19,0)") * (r - b + 1).cast("decimal(19,0)")
        - (_tri(r) - _tri(b - 1)),
    ).otherwise(zero)
    sc = blk.select(
        "na", "t", "n", "n1", "n2", (part1 + part2).alias("s")
    )
    mom = sc.agg(
        F.max("n").alias("n"),
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(
            F.floor(
                F.col("na").cast("double") * F.col("s") / F.col("t") * 1e4
            ).cast("decimal(38,0)")
        ).alias("wq"),
        F.sum(
            F.floor(
                F.col("s").cast("double") * F.col("s") / F.col("t") * 1e2
            ).cast("decimal(38,0)")
        ).alias("s2q"),
        F.sum(F.col("s").cast("decimal(38,0)")).alias("ssum"),
    )
    n1, n2, nn = F.col("n1"), F.col("n2"), F.col("n")
    w = F.col("wq").cast("double") / 1e4
    sbar_tot = F.col("ssum").cast("double")
    expected = n1.cast("double") * sbar_tot / nn
    var = (
        n1.cast("double")
        * n2
        * (F.col("s2q").cast("double") / 1e2 - sbar_tot * sbar_tot / nn)
        / (nn.cast("double") * (nn - 1))
    )
    return mom.select(
        n1.alias("n_a"),
        n2.alias("n_b"),
        F.round(w, 4).alias("ab_stat"),
        F.round(expected, 4).alias("expected"),
        F.round((w - expected) / F.sqrt(var), 6).alias("z_score"),
    )


@register(
    "stats_chatterjee_xi",
    """
    WITH rows_ AS (
        SELECT l_extendedprice AS x,
               l_extendedprice * (1 - l_discount) AS y,
               l_orderkey AS k1, l_linenumber AS k2
        FROM lineitem
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rows_
    ), yf AS (
        SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt FROM rows_ GROUP BY y
    ), yr AS (
        SELECT y, cnt,
               SUM(cnt) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS r
        FROM yf
    ), ranked AS (
        SELECT ROW_NUMBER() OVER (ORDER BY w.x, w.k1, w.k2) AS rn,
               yr.r
        FROM rows_ w JOIN yr ON yr.y = w.y
    ), num AS (
        SELECT SUM(CAST(ABS(b.r - a.r) AS HUGEINT)) AS sd
        FROM ranked a JOIN ranked b ON b.rn = a.rn + 1
    ), den AS (
        SELECT SUM(CAST(cnt AS HUGEINT)
                   * CAST(tot.n - r + cnt AS HUGEINT)
                   * CAST(tot.n - (tot.n - r + cnt) AS HUGEINT)) AS sl
        FROM yr, tot
    )
    SELECT tot.n AS n_rows,
           ROUND(1.0 - CAST(tot.n AS DOUBLE) * CAST(num.sd AS DOUBLE)
                 / (2.0 * CAST(den.sl AS DOUBLE)), 6) AS xi,
           ROUND((1.0 - CAST(tot.n AS DOUBLE) * CAST(num.sd AS DOUBLE)
                  / (2.0 * CAST(den.sl AS DOUBLE)))
                 * SQRT(5.0 * tot.n / 2.0), 4) AS z_no_ties
    FROM num, den, tot
    """,
)
def stats_chatterjee_xi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chatterjee's ξ rank coefficient (2020) for gross → net price: the
    modern dependence measure that is 0 iff independent and 1 iff y is a
    measurable FUNCTION of x — catching non-monotone dependence both
    Spearman ρ (``ml_spearman``) and Kendall τ miss. Tie-robust form
    ξ = 1 − n·Σ|r_{i+1}−r_i| / (2·Σℓ_i(n−ℓ_i)) with r = #{y_j ≤ y_i},
    ℓ = #{y_j ≥ y_i}, rows walked in (x, orderkey, linenumber) order —
    the deterministic tie-break the estimator needs. Ranks come from the
    grouped-by-y cumulative; the x-order walk is a distributed global
    rank plus an rn+1 equi-join (shuffle ∝ n, no single-partition
    window); all sums are exact 128-bit integer folds. z is the
    asymptotic √(5n/2)·ξ normal score (no-ties null — labeled as such).

    Round-9 single-shuffle-per-order formulation (VERDICT r8 item 3):
    the previous shape grouped by y, bucket-ranked the groups, joined the
    cumulative back to every row, checkpointed an (rn, r) frame and
    self-joined it on rn+1 — five corpus-sized exchanges plus two
    materializations. All of it folds into TWO bucketed order passes and
    one aggregation:

    * the y pass attaches r = #{y_j ≤ y_i} directly per row
      (``with_global_order(rank_ceil=...)``: bucket-prefix count + a
      peer-inclusive RANGE-frame count — ties share a bucket, so no
      groupBy(y) and no join back), plus the peer count for
      u = r − cnt = #{y_j < y_i};
    * the x pass attaches the globally-next r via ``lead_cols`` (within-
      bucket lead + next-bucket-first fallback — no rank materialization,
      no rn+1 self-join);
    * one final aggregation folds num = Σ|Δr| and the denominator via the
      n-free decomposition Σℓ(n−ℓ) = n·Σu − Σu² with ℓ = n − u, so no
      scalar pre-pass, no broadcast recombination — n itself is the same
      aggregation's COUNT.

    Bucket grids use fixed (0, 200000) price-domain bounds — a documented
    superset of l_extendedprice at every TPC-H scale (max ≈ 50·2098 ≈
    105k); with_global_order is correct for any superset span, it only
    affects bucket balance. 4.4 s → ~1.5 s at sf0.1, bit-identical output.

    Scale: two value-bucketed shuffles and one checkpoint of the (x, r)
    walk frame — every stage partition-parallel, nothing driver-side."""
    li = load_table(spark, sf_dir, "lineitem")
    rows = li.select(
        F.col("l_extendedprice").alias("x"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("y"),
        F.col("l_orderkey").alias("k1"),
        F.col("l_linenumber").alias("k2"),
    )
    _PRICE_BOUNDS = (0.0, 200000.0)
    p1 = with_global_order(
        rows,
        "y",
        rank_ceil="r",
        tie_count="cnt",
        bounds=_PRICE_BOUNDS,
        spread=True,
    ).select(
        "x", "k1", "k2", "r", (F.col("r") - F.col("cnt")).alias("u")
    )
    # two consumers downstream would re-run the y windows (Catalyst does
    # not dedupe subplans) — and the x pass's bucket aggregate + main join
    # are two scans of this frame even with constant bounds
    p1 = p1.localCheckpoint(eager=True)
    walk = with_global_order(
        p1,
        "x",
        tiebreaks=["k1", "k2"],
        lead_cols={"r_next": "r"},
        bounds=_PRICE_BOUNDS,
        spread=True,
    )
    agg = walk.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.abs(F.col("r_next") - F.col("r")).cast("decimal(38,0)")).alias(
            "sd"
        ),
        F.sum(F.col("u").cast("decimal(38,0)")).alias("s1"),
        # cast BEFORE squaring: u < n but u·u overflows long past n ≈ 3e9
        F.sum(
            F.col("u").cast("decimal(19,0)") * F.col("u").cast("decimal(19,0)")
        ).alias("s2"),
    )
    sl = F.col("n").cast("decimal(38,0)") * F.col("s1") - F.col("s2")
    xi = F.lit(1.0) - F.col("n").cast("double") * F.col("sd").cast("double") / (
        F.lit(2.0) * sl.cast("double")
    )
    return agg.select(
        F.col("n").alias("n_rows"),
        F.round(xi, 6).alias("xi"),
        F.round(xi * F.sqrt(F.lit(5.0) * F.col("n") / F.lit(2.0)), 4).alias(
            "z_no_ties"
        ),
    )


@register(
    "stats_energy_distance",
    """
    WITH pts AS (
        SELECT CAST(FLOOR(value * 1e4) AS BIGINT) AS q,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase')
                    AS BIGINT) AS na,
               CAST(COUNT(*) FILTER (WHERE event_type = 'view')
                    AS BIGINT) AS nb
        FROM events WHERE event_type IN ('purchase', 'view')
        GROUP BY 1
    ), cum AS (
        SELECT q, na, nb,
               COALESCE(SUM(na) OVER (ORDER BY q
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS ca,
               COALESCE(SUM(nb) OVER (ORDER BY q
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cb,
               COALESCE(SUM(na * q) OVER (ORDER BY q
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS sa,
               COALESCE(SUM(nb * q) OVER (ORDER BY q
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS sb
        FROM pts
    ), sums AS (
        SELECT CAST(SUM(na) AS BIGINT) AS n1,
               CAST(SUM(nb) AS BIGINT) AS n2,
               SUM(CAST(na AS HUGEINT) * (CAST(q AS HUGEINT) * cb - sb)
                   + CAST(nb AS HUGEINT) * (CAST(q AS HUGEINT) * ca - sa))
                   AS sxy,
               SUM(CAST(na AS HUGEINT) * (CAST(q AS HUGEINT) * ca - sa))
                   AS sxx,
               SUM(CAST(nb AS HUGEINT) * (CAST(q AS HUGEINT) * cb - sb))
                   AS syy
        FROM cum
    )
    SELECT n1 AS n_a, n2 AS n_b,
           ROUND((2.0 * CAST(sxy AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)
                  - 2.0 * CAST(sxx AS DOUBLE)
                    / (CAST(n1 AS DOUBLE) * n1)
                  - 2.0 * CAST(syy AS DOUBLE)
                    / (CAST(n2 AS DOUBLE) * n2)) / 1e4, 6) AS e_dist,
           ROUND(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)
                 * (2.0 * CAST(sxy AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)
                    - 2.0 * CAST(sxx AS DOUBLE)
                      / (CAST(n1 AS DOUBLE) * n1)
                    - 2.0 * CAST(syy AS DOUBLE)
                      / (CAST(n2 AS DOUBLE) * n2)) / 1e4, 4) AS t_stat
    FROM sums
    """,
)
def stats_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Székely's energy distance between purchase and view value
    distributions — E = 2E|X−Y| − E|X−X′| − E|Y−Y′| (V-statistic
    convention), with the two-sample test statistic T = n₁n₂/(n₁+n₂)·E:
    sensitive to ANY distributional difference (location, scale, shape),
    where KS reads only the worst CDF gap and Mann–Whitney only
    stochastic order. The O(n²) pair sums collapse on the merged order:
    with strict-below cumulative counts and value-sums per sample,
    Σ|x−y| = Σ_k [na_k(q_k·cb − sb) + nb_k(q_k·ca − sa)] — one pass over
    the grouped-value frame, no pair join at any scale. Values are
    floor-quantized at 1e-4 (the metric is DEFINED on the quantized grid,
    so both engines fold identical 128-bit integers; /1e4 restores value
    units at the end).

    Scale: one shuffle ∝ distinct values, four shared bucketed
    cumulatives, a 1-row epilogue — the ``stats_ks_test`` shape carrying
    first-moment mass instead of CDF steps."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    pts = ev.groupBy(
        F.floor(F.col("value") * 1e4).cast("long").alias("q")
    ).agg(
        F.count_if(F.col("event_type") == "purchase")
        .cast("long")
        .alias("na"),
        F.count_if(F.col("event_type") == "view").cast("long").alias("nb"),
    )
    cum = with_global_order(
        pts,
        "q",
        cumsums={
            "cai": "na",
            "cbi": "nb",
            "sai": F.col("na") * F.col("q"),
            "sbi": F.col("nb") * F.col("q"),
        },
    ).select(
        "q",
        "na",
        "nb",
        (F.col("cai") - F.col("na")).alias("ca"),
        (F.col("cbi") - F.col("nb")).alias("cb"),
        (F.col("sai") - F.col("na") * F.col("q")).alias("sa"),
        (F.col("sbi") - F.col("nb") * F.col("q")).alias("sb"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")
    q, na, nb = F.col("q"), F.col("na"), F.col("nb")
    sums = cum.agg(
        F.sum(na).cast("long").alias("n1"),
        F.sum(nb).cast("long").alias("n2"),
        F.sum(
            d38(na) * (d38(q) * d38(F.col("cb")) - d38(F.col("sb")))
            + d38(nb) * (d38(q) * d38(F.col("ca")) - d38(F.col("sa")))
        ).alias("sxy"),
        F.sum(
            d38(na) * (d38(q) * d38(F.col("ca")) - d38(F.col("sa")))
        ).alias("sxx"),
        F.sum(
            d38(nb) * (d38(q) * d38(F.col("cb")) - d38(F.col("sb")))
        ).alias("syy"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    e = (
        F.lit(2.0) * F.col("sxy").cast("double") / (n1 * n2)
        - F.lit(2.0) * F.col("sxx").cast("double") / (n1 * n1)
        - F.lit(2.0) * F.col("syy").cast("double") / (n2 * n2)
    ) / 1e4
    return sums.select(
        F.col("n1").alias("n_a"),
        F.col("n2").alias("n_b"),
        F.round(e, 6).alias("e_dist"),
        F.round(n1 * n2 / (n1 + n2) * e, 4).alias("t_stat"),
    )


@register(
    "stats_paired_t",
    """
    WITH per AS (
        SELECT o_custkey,
               CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01'
                    THEN CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS h1,
               CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01'
                    THEN CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS h2
        FROM orders GROUP BY 1
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(h2 - h1) AS HUGEINT) AS sd,
               CAST(SUM(CAST(h2 - h1 AS HUGEINT) * (h2 - h1)) AS HUGEINT)
                   AS sdd
        FROM per
    )
    SELECT n AS n_customers,
           ROUND(CAST(sd AS DOUBLE) / n / 100.0, 4) AS mean_diff,
           ROUND((CAST(sd AS DOUBLE) / n)
                 / SQRT((CAST(sdd AS DOUBLE)
                         - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / n)
                        / (n - 1) / n), 6) AS t_stat,
           ROUND((CAST(sd AS DOUBLE) / n)
                 / SQRT((CAST(sdd AS DOUBLE)
                         - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / n)
                        / (n - 1)), 6) AS cohens_dz
    FROM agg
    """,
)
def stats_paired_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired (dependent-samples) t-test: did per-customer spend change
    between the 1992–94 and 1995+ eras? The PAIR is the customer — each
    contributes one difference d = spend₂ − spend₁ (zero spend for a
    half with no orders), which removes the between-customer variance
    the two-sample ``stats_welch_t`` has to carry; t = d̄/(s_d/√n)
    with df = n−1, plus Cohen's d_z = d̄/s_d. Everything folds as exact
    integers: cents differences, Σd, Σd² in 128-bit.

    Scale: one map-side-combined groupBy ∝ customers, one scalar
    moment fold. No windows, no joins."""
    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit("1995-01-01").cast("timestamp")
    cents = F.floor(F.col("o_totalprice") * 100.0).cast("long")
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.when(F.col("o_orderdate") < cut, cents).otherwise(0))
        .cast("long")
        .alias("h1"),
        F.sum(F.when(F.col("o_orderdate") >= cut, cents).otherwise(0))
        .cast("long")
        .alias("h2"),
    )
    d = (F.col("h2") - F.col("h1")).cast("decimal(38,0)")
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d).alias("sd"),
        F.sum(d * d).alias("sdd"),
    )
    n = F.col("n")
    sd_d = F.col("sd").cast("double")
    sdd_d = F.col("sdd").cast("double")
    mean = sd_d / n
    var_num = sdd_d - sd_d * sd_d / n
    return agg.select(
        n.alias("n_customers"),
        F.round(sd_d / n / 100.0, 4).alias("mean_diff"),
        F.round(mean / F.sqrt(var_num / (n - 1) / n), 6).alias("t_stat"),
        F.round(mean / F.sqrt(var_num / (n - 1)), 6).alias("cohens_dz"),
    )


@register(
    "stats_kuiper_dates",
    """
    WITH d AS (
        SELECT CAST(DAYOFYEAR(o_orderdate) AS BIGINT) AS doy,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1
    ), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM d),
    cum AS (
        SELECT doy, c,
               SUM(c) OVER (ORDER BY doy ROWS UNBOUNDED PRECEDING) AS f
        FROM d
    ), gaps AS (
        SELECT tot.n,
               CAST(f AS DOUBLE) / tot.n - doy / 366.0 AS dplus_at,
               doy / 366.0 - (CAST(f AS DOUBLE) - c) / tot.n AS dminus_at
        FROM cum, tot
    )
    SELECT MAX(n) AS n_orders,
           ROUND(MAX(dplus_at), 6) AS d_plus,
           ROUND(MAX(dminus_at), 6) AS d_minus,
           ROUND(MAX(dplus_at) + MAX(dminus_at), 6) AS v_stat,
           ROUND((MAX(dplus_at) + MAX(dminus_at))
                 * (SQRT(CAST(MAX(n) AS DOUBLE)) + 0.155
                    + 0.24 / SQRT(CAST(MAX(n) AS DOUBLE))), 4) AS v_scaled
    FROM gaps
    """,
)
def stats_kuiper_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuiper's V test for CIRCULAR uniformity of order dates over the
    year: V = D⁺ + D⁻ against the uniform day-of-year CDF. Unlike the
    plain KS distance (``stats_ks_test``), V is invariant to where the
    year is cut — a seasonality bump in January scores exactly like
    one in July — which is the right test for wrap-around domains.
    Stephens' finite-n scaling V·(√n + 0.155 + 0.24/√n) gives the
    critical-value form (>1.747 ⇒ reject at 5%). ECDF gaps evaluate
    only at the ≤366 observed day-of-year atoms (both max gaps are
    attained at atoms, exactly — no per-row pass).

    Scale: one map-side-combined groupBy collapses any fact volume to
    ≤366 rows; the cumulative window is bounded by the calendar
    domain at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.dayofyear("o_orderdate").cast("long").alias("doy")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = d.agg(F.sum("c").cast("long").alias("n"))
    w = Window.orderBy("doy").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = d.select("doy", "c", F.sum("c").over(w).alias("f"))
    gaps = cum.crossJoin(F.broadcast(tot)).select(
        "n",
        (F.col("f").cast("double") / F.col("n") - F.col("doy") / 366.0)
        .alias("dplus_at"),
        (
            F.col("doy") / 366.0
            - (F.col("f").cast("double") - F.col("c")) / F.col("n")
        ).alias("dminus_at"),
    )
    v = F.max("dplus_at") + F.max("dminus_at")
    n_d = F.max("n").cast("double")
    return gaps.groupBy().agg(
        F.max("n").alias("n_orders"),
        F.round(F.max("dplus_at"), 6).alias("d_plus"),
        F.round(F.max("dminus_at"), 6).alias("d_minus"),
        F.round(v, 6).alias("v_stat"),
        F.round(
            v * (F.sqrt(n_d) + 0.155 + 0.24 / F.sqrt(n_d)), 4
        ).alias("v_scaled"),
    )


@register(
    "stats_hellinger_tv",
    """
    WITH b AS (
        SELECT CAST(FLOOR(value) AS BIGINT) AS bin,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase')
                    AS BIGINT) AS cp,
               CAST(COUNT(*) FILTER (WHERE event_type = 'view')
                    AS BIGINT) AS cv
        FROM events WHERE event_type IN ('purchase', 'view')
        GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(cp) AS BIGINT) AS np,
               CAST(SUM(cv) AS BIGINT) AS nv
        FROM b
    ), terms AS (
        SELECT CAST(cp AS DOUBLE) / tot.np AS p,
               CAST(cv AS DOUBLE) / tot.nv AS q
        FROM b, tot
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nbins,
               CAST(SUM(CAST(FLOOR(ABS(p - q) * 1e9) AS BIGINT))
                    AS HUGEINT) AS tvq,
               CAST(SUM(CAST(FLOOR(SQRT(p * q) * 1e9) AS BIGINT))
                    AS HUGEINT) AS bcq
        FROM terms
    )
    SELECT nbins AS n_bins,
           ROUND(CAST(tvq AS DOUBLE) / 1e9 / 2.0, 6) AS total_variation,
           ROUND(SQRT(GREATEST(0.0, 1.0 - CAST(bcq AS DOUBLE) / 1e9)), 6)
               AS hellinger,
           ROUND(-LN(CAST(bcq AS DOUBLE) / 1e9), 6) AS bhattacharyya
    FROM agg
    """,
)
def stats_hellinger_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded f-divergence panel between the purchase and view value
    histograms (whole-dollar bins): total variation ½Σ|p−q| (the
    worst-case probability an oracle distinguishes the two in one
    draw), Hellinger √(1−BC), and the Bhattacharyya distance −ln BC
    with BC = Σ√(p·q). Complements the UNBOUNDED divergences already
    registered (``profile_drift_kl``, ``text_js_divergence``) — TV and
    Hellinger stay finite under disjoint support, so they are the
    drift metrics that survive a vocabulary/support shift. Per-bin
    terms floor-quantize at 1e-9 and integer-fold (order-free).

    Scale: one map-side-combined groupBy ∝ bins (value domain —
    saturating); scalar algebra after."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    b = ev.groupBy(F.floor("value").cast("long").alias("bin")).agg(
        F.count_if(F.col("event_type") == "purchase")
        .cast("long")
        .alias("cp"),
        F.count_if(F.col("event_type") == "view").cast("long").alias("cv"),
    )
    tot = b.agg(
        F.sum("cp").cast("long").alias("np"),
        F.sum("cv").cast("long").alias("nv"),
    )
    terms = b.crossJoin(F.broadcast(tot)).select(
        (F.col("cp").cast("double") / F.col("np")).alias("p"),
        (F.col("cv").cast("double") / F.col("nv")).alias("q"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("long").alias("nbins"),
        F.sum(
            F.floor(F.abs(F.col("p") - F.col("q")) * 1e9)
            .cast("long")
            .cast("decimal(38,0)")
        ).alias("tvq"),
        F.sum(
            F.floor(F.sqrt(F.col("p") * F.col("q")) * 1e9)
            .cast("long")
            .cast("decimal(38,0)")
        ).alias("bcq"),
    )
    bc = F.col("bcq").cast("double") / 1e9
    return agg.select(
        F.col("nbins").alias("n_bins"),
        F.round(F.col("tvq").cast("double") / 1e9 / 2.0, 6)
        .alias("total_variation"),
        F.round(F.sqrt(F.greatest(F.lit(0.0), 1.0 - bc)), 6)
        .alias("hellinger"),
        F.round(-F.log(bc), 6).alias("bhattacharyya"),
    )


@register(
    "stats_siegel_tukey",
    """
    WITH pool AS (
        SELECT event_id, CAST(FLOOR(value * 100.0) AS BIGINT) AS v,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
        FROM events WHERE event_type IN ('purchase', 'view')
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS n1,
               CAST(COUNT(*) - SUM(x) AS BIGINT) AS n2
        FROM pool
    ), pos AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY v, event_id) AS a, tot.n,
               tot.n1, tot.n2
        FROM pool, tot
    ), st AS (
        SELECT x, n, n1, n2,
               CASE WHEN 2 * a = n + 1 THEN n
                    WHEN a <= n - a THEN
                        CASE WHEN LEAST(a, n + 1 - a) % 2 = 0
                             THEN 2 * LEAST(a, n + 1 - a)
                             ELSE 2 * LEAST(a, n + 1 - a) - 1 END
                    ELSE
                        CASE WHEN LEAST(a, n + 1 - a) % 2 = 1
                             THEN 2 * LEAST(a, n + 1 - a)
                             ELSE 2 * LEAST(a, n + 1 - a) - 1 END
               END AS r
        FROM pos
    ), agg AS (
        SELECT MAX(n1) AS n1, MAX(n2) AS n2,
               CAST(SUM(CASE WHEN x = 1 THEN r ELSE 0 END) AS HUGEINT)
                   AS w
        FROM st
    )
    SELECT n1 AS n_purchase, n2 AS n_view,
           CAST(w AS DOUBLE) AS st_rank_sum,
           ROUND(CAST(n1 AS DOUBLE) * (n1 + n2 + 1) / 2.0, 1)
               AS expected,
           ROUND((CAST(w AS DOUBLE)
                  - CAST(n1 AS DOUBLE) * (n1 + n2 + 1) / 2.0)
                 / SQRT(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1) / 12.0),
                 6) AS z_score
    FROM agg
    """,
)
def stats_siegel_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel–Tukey dispersion test: rank the POOLED purchase/view
    values by alternating extremes — smallest→1, largest→2,3, next
    smallest→4,5, inward — then run Mann–Whitney on those ranks. A
    sample with fatter spread soaks up the low end-ranks, so W drops;
    it needs NO variance estimate and keeps the exact MW null moments
    E[W] = n₁(N+1)/2, Var = n₁n₂(N+1)/12 because the alternating
    scores are a permutation of 1..N. Positions are the deterministic
    total order (value cents, event_id) — the classical continuous-
    data scoring applied to a fixed tiebreak order, documented rather
    than midranked (Siegel–Tukey '60 defines no tie rule; the fixed
    order keeps both engines bit-identical). The ``stats_ansari_bradley``
    twin — AB scores inward from both ends symmetrically, ST
    alternates, trading its tie-elegance for exact MW moments.

    Scale: the global position comes from the bucketed two-level rank
    (functions/orderstat.py — no single-partition window); one
    integer-fold epilogue."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    pool = ev.select(
        "event_id",
        F.floor(F.col("value") * 100.0).cast("long").alias("v"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("x"),
    )
    tot = pool.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("x")).cast("long").alias("n2"),
    )
    pos = with_global_order(pool, "v", ["event_id"], rank="a").crossJoin(
        F.broadcast(tot)
    )
    a, n = F.col("a"), F.col("n")
    m = F.least(a, n + 1 - a)
    low = F.when(m % 2 == 0, 2 * m).otherwise(2 * m - 1)
    high = F.when(m % 2 == 1, 2 * m).otherwise(2 * m - 1)
    st = pos.select(
        "x",
        "n1",
        "n2",
        F.when(2 * a == n + 1, n)
        .when(a <= n - a, low)
        .otherwise(high)
        .alias("r"),
    )
    agg = st.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(F.when(F.col("x") == 1, F.col("r")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("w"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    w_d = F.col("w").cast("double")
    exp = n1.cast("double") * (n1 + n2 + 1) / 2.0
    return agg.select(
        n1.alias("n_purchase"),
        n2.alias("n_view"),
        w_d.alias("st_rank_sum"),
        F.round(exp, 1).alias("expected"),
        F.round(
            (w_d - exp)
            / F.sqrt(n1.cast("double") * n2 * (n1 + n2 + 1) / 12.0),
            6,
        ).alias("z_score"),
    )


@register(
    "stats_bws_test",
    """
    WITH pool AS (
        SELECT event_id, CAST(FLOOR(value * 100.0) AS BIGINT) AS v,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
        FROM events WHERE event_type IN ('purchase', 'view')
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
               CAST(SUM(x) AS BIGINT) AS n1,
               CAST(COUNT(*) - SUM(x) AS BIGINT) AS n2
        FROM pool
    ), rk AS (
        SELECT x,
               ROW_NUMBER() OVER (ORDER BY v, event_id) AS rr,
               SUM(x) OVER (ORDER BY v, event_id
                   ROWS UNBOUNDED PRECEDING) AS ix,
               SUM(1 - x) OVER (ORDER BY v, event_id
                   ROWS UNBOUNDED PRECEDING) AS iy
        FROM pool
    ), terms AS (
        SELECT tot.n1, tot.n2,
               CASE WHEN x = 1 THEN CAST(FLOOR(
                   (rr - CAST(n_all AS DOUBLE) / n1 * ix)
                   * (rr - CAST(n_all AS DOUBLE) / n1 * ix)
                   / ((ix / (n1 + 1.0)) * (1.0 - ix / (n1 + 1.0))
                      * (n2 * CAST(n_all AS DOUBLE) / n1))
                   * 1e6) AS BIGINT) ELSE 0 END AS tx,
               CASE WHEN x = 0 THEN CAST(FLOOR(
                   (rr - CAST(n_all AS DOUBLE) / n2 * iy)
                   * (rr - CAST(n_all AS DOUBLE) / n2 * iy)
                   / ((iy / (n2 + 1.0)) * (1.0 - iy / (n2 + 1.0))
                      * (n1 * CAST(n_all AS DOUBLE) / n2))
                   * 1e6) AS BIGINT) ELSE 0 END AS ty
        FROM rk, tot
    )
    SELECT MAX(n1) AS n_purchase, MAX(n2) AS n_view,
           ROUND(CAST(SUM(tx) AS DOUBLE) / 1e6 / MAX(n1), 6) AS b_x,
           ROUND(CAST(SUM(ty) AS DOUBLE) / 1e6 / MAX(n2), 6) AS b_y,
           ROUND((CAST(SUM(tx) AS DOUBLE) / 1e6 / MAX(n1)
                  + CAST(SUM(ty) AS DOUBLE) / 1e6 / MAX(n2)) / 2.0, 6)
               AS b_stat
    FROM terms
    """,
)
def stats_bws_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baumgartner–Weiß–Schindler two-sample test (BWS '98): weights
    the squared rank gap (R_i − N/n·i)² by the INVERSE of its null
    variance i/(n+1)·(1−i/(n+1))·mN/n, so the TAILS — where the
    variance shrinks — count at full strength. The rank-statistic
    sibling of the CDF-weighted ``stats_anderson_darling``, with more
    power than Mann–Whitney (location) or Kolmogorov–Smirnov (max gap)
    against combined location–scale alternatives. B = (B_X + B_Y)/2.
    Each sample's sequence index i and combined rank R come from ONE
    pass: the two-level global order attaches the rank and both
    per-sample inclusive cumulative counts simultaneously. Ranks use
    the deterministic (value, event_id) total order; per-element terms
    floor-quantize at 1e-6 and integer-fold (exact while a term
    ≤ 9.2e12, i.e. far past fixture scale; the null keeps terms O(1)).

    Scale: one bucketed two-level rank pass ∝ pooled rows, one fold.
    No joins besides the scalar broadcast."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    pool = ev.select(
        "event_id",
        F.floor(F.col("value") * 100.0).cast("long").alias("v"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("x"),
    )
    tot = pool.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("x").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("x")).cast("long").alias("n2"),
    )
    rk = with_global_order(
        pool.withColumn("y", 1 - F.col("x")),
        "v",
        ["event_id"],
        rank="rr",
        cumsums={"ix": "x", "iy": "y"},
    ).crossJoin(F.broadcast(tot))
    n_d = F.col("n_all").cast("double")
    n1, n2 = F.col("n1"), F.col("n2")
    rr, ix, iy = F.col("rr"), F.col("ix"), F.col("iy")
    num_x = (rr - n_d / n1 * ix) * (rr - n_d / n1 * ix)
    den_x = (ix / (n1 + 1.0)) * (1.0 - ix / (n1 + 1.0)) * (n2 * n_d / n1)
    num_y = (rr - n_d / n2 * iy) * (rr - n_d / n2 * iy)
    den_y = (iy / (n2 + 1.0)) * (1.0 - iy / (n2 + 1.0)) * (n1 * n_d / n2)
    terms = rk.select(
        "n1",
        "n2",
        F.when(F.col("x") == 1, F.floor(num_x / den_x * 1e6).cast("long"))
        .otherwise(F.lit(0))
        .alias("tx"),
        F.when(F.col("x") == 0, F.floor(num_y / den_y * 1e6).cast("long"))
        .otherwise(F.lit(0))
        .alias("ty"),
    )
    agg = terms.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(F.col("tx").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("ty").cast("decimal(38,0)")).alias("sy"),
    )
    bx = F.col("sx").cast("double") / 1e6 / F.col("n1")
    by = F.col("sy").cast("double") / 1e6 / F.col("n2")
    return agg.select(
        F.col("n1").alias("n_purchase"),
        F.col("n2").alias("n_view"),
        F.round(bx, 6).alias("b_x"),
        F.round(by, 6).alias("b_y"),
        F.round((bx + by) / 2.0, 6).alias("b_stat"),
    )


@register(
    "stats_ad_ksample",
    """
    WITH v AS (
        SELECT c_mktsegment AS seg,
               CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS cents
        FROM customer
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    segs AS (
        SELECT seg, CAST(COUNT(*) AS BIGINT) AS ni FROM v GROUP BY 1
    ), sm AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(FLOOR(1e12 / ni) AS BIGINT)) AS BIGINT)
                   AS hinvq
        FROM segs
    ), vf AS (
        SELECT cents, CAST(COUNT(*) AS BIGINT) AS lv FROM v GROUP BY 1
    ), vb AS (
        SELECT cents, lv,
               COALESCE(SUM(lv) OVER (ORDER BY cents ROWS BETWEEN
                   UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bex
        FROM vf
    ), svf AS (
        SELECT seg, cents, CAST(COUNT(*) AS BIGINT) AS lsv
        FROM v GROUP BY 1, 2
    ), grid AS (
        SELECT s.seg, s.ni, b.cents, b.lv, b.bex, COALESCE(f.lsv, 0) AS lsv
        FROM vb b CROSS JOIN segs s
        LEFT JOIN svf f ON f.seg = s.seg AND f.cents = b.cents
    ), gm AS (
        SELECT seg, ni, lv,
               2 * bex + lv AS twob,
               2 * COALESCE(SUM(lsv) OVER (PARTITION BY seg ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + lsv AS twom
        FROM grid
    ), terms AS (
        SELECT CAST(n AS HUGEINT) * twom - CAST(ni AS HUGEINT) * twob
                   AS dd,
               CAST(twob AS HUGEINT) * (2 * n - twob)
                   - CAST(n AS HUGEINT) * lv AS dn,
               lv, ni, n
        FROM gm, tot
    ), fold AS (
        SELECT CAST(SUM(CASE WHEN dn > 0 THEN CAST(FLOOR(
                   CAST(lv AS DOUBLE) / n
                   * (CAST(dd AS DOUBLE) * CAST(dd AS DOUBLE))
                   / CAST(dn AS DOUBLE) / ni * 1e9) AS BIGINT)
               ELSE 0 END) AS HUGEINT) AS q
        FROM terms
    ), harm AS (
        SELECT i, CAST(FLOOR(1e12 / i) AS BIGINT) AS hqv, n
        FROM (SELECT ROW_NUMBER() OVER () AS i FROM v) s, tot
        WHERE i <= n - 1
    ), hpre AS (
        SELECT i, n,
               SUM(hqv) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS hp,
               SUM(hqv) OVER () AS hsum
        FROM harm
    ), gsr AS (
        SELECT CAST(SUM(CASE WHEN i <= n - 2 THEN
                   CAST(FLOOR((hsum - hp) / 1e12 / (n - i) * 1e9)
                        AS BIGINT) ELSE 0 END) AS BIGINT) AS gq,
               MAX(hsum) AS hqsum
        FROM hpre
    ), fin AS (
        SELECT tot.n, sm.k,
               CAST(fold.q AS DOUBLE) / 1e9 * (tot.n - 1.0) / tot.n
                   AS a2k,
               sm.hinvq / 1e12 AS hh,
               gsr.hqsum / 1e12 AS h,
               gsr.gq / 1e9 AS g
        FROM tot, sm, fold, gsr
    ), sig AS (
        SELECT n, k, a2k,
               (((4 * g - 6) * (k - 1) + (10 - 6 * g) * hh)
                    * CAST(n AS DOUBLE) * n * n
                + ((2 * g - 4) * k * k + 8 * h * k
                   + (2 * g - 14 * h - 4) * hh - 8 * h + 4 * g - 6)
                    * CAST(n AS DOUBLE) * n
                + ((6 * h + 2 * g - 2) * k * k + (4 * h - 4 * g + 6) * k
                   + (2 * h - 6) * hh + 4 * h) * CAST(n AS DOUBLE)
                + ((2 * h + 6) * k * k - 4 * h * k))
               / ((n - 1.0) * (n - 2) * (n - 3)) AS var
        FROM fin
    )
    SELECT k AS k_samples, n AS n_total,
           ROUND(a2k, 6) AS a2k_stat,
           ROUND(SQRT(var), 6) AS sigma,
           ROUND((a2k - (k - 1)) / SQRT(var), 4) AS t_std
    FROM sig
    """,
)
def stats_ad_ksample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-sample Anderson–Darling (Scholz–Stephens '87, the tie-adjusted
    Ȧ²_kN of their eq. 6) across all five market segments' account
    balances at once — the omnibus "are these k distributions THE SAME"
    test that ``stats_kruskal_wallis`` (location only) and the pairwise
    2-sample ``stats_anderson_darling`` cannot give in one shot. Over
    the distinct-value frame with midrank half-weights:
    Ȧ² = (N−1)/N Σ_i (1/n_i) Σ_j (l_j/N)·(N·M̈_ij − n_i·B̈_j)² /
    (B̈_j(N−B̈_j) − N·l_j/4); doubling M̈/B̈ makes every ingredient an
    exact integer (twom/twob), the per-cell ratio folds floor-quantized
    at 1e-9 WITH the 1/n_i weight already applied per cell, so the
    entire statistic is ONE order-free integer fold — no cross-segment
    float summation. T = (Ȧ² − (k−1))/σ_N with the full Scholz–
    Stephens variance polynomial in N, H = Σ1/n_i (folded as quantized
    integers, same 1e-12 grid as the harmonic terms), h = H_{N−1}, and
    the double sum g — h and g come from the shared deterministic
    block-fold ``_harmonic_gs`` (bit-identical to the oracle's
    windowed SQL; see its docstring). Critical points: T > 1.96-ish
    is NOT normal — use the paper's table (1%: ≈ 3.9 for k=5).

    Scale: the (segment × distinct-balance) grid is |segments| × a
    SATURATING value domain (acctbal spans ≤ 1.1M cents forever);
    per-segment prefixes are windows partitioned by segment over that
    bounded domain; the global value prefix is the bucketed two-level
    cumulative; the harmonic frame never materializes as rows. One
    driver scalar (N) sizes the harmonic blocks — the same single-
    aggregate action pattern as the 2-sample test."""
    cust = load_table(spark, sf_dir, "customer")
    v = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") * 100.0).cast("long").alias("cents"),
    )
    trow = v.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
    ).first()
    n_total = int(trow["n"])
    segs = v.groupBy("seg").agg(F.count(F.lit(1)).cast("long").alias("ni"))
    sm = segs.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.floor(F.lit(1e12) / F.col("ni")).cast("long"))
        .cast("long")
        .alias("hinvq"),
    )
    vf = v.groupBy("cents").agg(F.count(F.lit(1)).cast("long").alias("lv"))
    vb = with_global_order(
        vf,
        "cents",
        cumsums={"cb": "lv"},
        bounds=(int(trow["lo"]), int(trow["hi"])),
    ).select("cents", "lv", (F.col("cb") - F.col("lv")).alias("bex"))
    svf = v.groupBy("seg", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("lsv")
    )
    grid = (
        vb.crossJoin(F.broadcast(segs))
        .join(svf, ["seg", "cents"], "left")
        .fillna(0, subset=["lsv"])
    )
    w_seg = (
        Window.partitionBy("seg")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    gm = grid.select(
        "seg",
        "ni",
        "lv",
        (2 * F.col("bex") + F.col("lv")).alias("twob"),
        (
            2 * F.coalesce(F.sum("lsv").over(w_seg), F.lit(0))
            + F.col("lsv")
        ).alias("twom"),
    )
    n_l = F.lit(n_total)
    dd = (
        n_l * F.col("twom").cast("decimal(38,0)")
        - F.col("ni").cast("decimal(38,0)") * F.col("twob")
    )
    dn = F.col("twob").cast("decimal(38,0)") * (
        2 * n_l - F.col("twob")
    ) - n_l.cast("decimal(38,0)") * F.col("lv")
    dd_d, dn_d = dd.cast("double"), dn.cast("double")
    fold = gm.select(
        F.when(
            dn > 0,
            F.floor(
                F.col("lv").cast("double")
                / n_l
                * (dd_d * dd_d)
                / dn_d
                / F.col("ni")
                * 1e9
            ).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("t")
    ).agg(F.sum(F.col("t").cast("decimal(38,0)")).alias("q"))
    gs = _harmonic_gs(spark, n_total)
    fin = (
        fold.crossJoin(F.broadcast(sm))
        .crossJoin(F.broadcast(gs))
        .select(
            F.col("k"),
            (
                F.col("q").cast("double")
                / 1e9
                * (n_total - 1.0)
                / n_total
            ).alias("a2k"),
            (F.col("hinvq") / 1e12).alias("hh"),
            (F.col("hqsum") / 1e12).alias("h"),
            (F.col("gq") / 1e9).alias("g"),
        )
    )
    k = F.col("k")
    g, h, hh = F.col("g"), F.col("h"), F.col("hh")
    nd = float(n_total)
    var = (
        ((4 * g - 6) * (k - 1) + (10 - 6 * g) * hh) * nd * nd * nd
        + (
            (2 * g - 4) * k * k
            + 8 * h * k
            + (2 * g - 14 * h - 4) * hh
            - 8 * h
            + 4 * g
            - 6
        )
        * nd
        * nd
        + (
            (6 * h + 2 * g - 2) * k * k
            + (4 * h - 4 * g + 6) * k
            + (2 * h - 6) * hh
            + 4 * h
        )
        * nd
        + ((2 * h + 6) * k * k - 4 * h * k)
    ) / ((nd - 1.0) * (nd - 2) * (nd - 3))
    return fin.select(
        k.alias("k_samples"),
        F.lit(n_total).cast("long").alias("n_total"),
        F.round(F.col("a2k"), 6).alias("a2k_stat"),
        F.round(F.sqrt(var), 6).alias("sigma"),
        F.round((F.col("a2k") - (k - 1)) / F.sqrt(var), 4).alias("t_std"),
    )


@register(
    "stats_mmd_rbf",
    """
    WITH b AS (
        SELECT CAST(FLOOR(value) AS BIGINT) AS bin,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase')
                    AS BIGINT) AS cp,
               CAST(COUNT(*) FILTER (WHERE event_type = 'view')
                    AS BIGINT) AS cv
        FROM events WHERE event_type IN ('purchase', 'view')
        GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(cp) AS BIGINT) AS np,
               CAST(SUM(cv) AS BIGINT) AS nv
        FROM b
    ), pair AS (
        SELECT a.cp AS cpa, a.cv AS cva, c.cp AS cpb, c.cv AS cvb,
               CAST(FLOOR(EXP(-CAST((a.bin - c.bin) * (a.bin - c.bin)
                                    AS DOUBLE) / 1250.0) * 1e12)
                    AS BIGINT) AS kq
        FROM b a CROSS JOIN b c
    ), s AS (
        SELECT CAST(SUM(CAST(cpa AS HUGEINT) * cpb * kq) AS HUGEINT)
                   AS sxx,
               CAST(SUM(CAST(cva AS HUGEINT) * cvb * kq) AS HUGEINT)
                   AS syy,
               CAST(SUM(CAST(cpa AS HUGEINT) * cvb * kq) AS HUGEINT)
                   AS sxy
        FROM pair
    )
    SELECT tot.np AS n_purchase, tot.nv AS n_view,
           ROUND((CAST(sxx AS DOUBLE) / 1e12 - tot.np)
                     / (CAST(tot.np AS DOUBLE) * (tot.np - 1))
                 + (CAST(syy AS DOUBLE) / 1e12 - tot.nv)
                     / (CAST(tot.nv AS DOUBLE) * (tot.nv - 1))
                 - 2.0 * (CAST(sxy AS DOUBLE) / 1e12)
                     / (CAST(tot.np AS DOUBLE) * tot.nv), 8) AS mmd2
    FROM s, tot
    """,
)
def stats_mmd_rbf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel two-sample test: unbiased MMD² (Gretton et al. '12) with
    an RBF kernel (σ = 25 dollars) between the purchase and view value
    distributions — the modern kernel-embedding alternative to the
    rank/CDF tests: it sees EVERY moment at once and generalizes to
    structured domains. Grouping to whole-dollar atoms turns the
    O(n²)-element U-statistic into a counts-weighted sum over the
    atom×atom grid: Σᵢ≠ⱼ k = ΣΣ c_a c_b k_ab − n (since k(x,x)=1), so
    MMD² = that/(m(m−1)) + ·/(n(n−1)) − 2ΣΣ c_a c_b k_ab/(mn). Kernel
    values floor-quantize at 1e-12 and every weighted fold is a pure
    128-bit integer sum — order-free; the lone libm call (EXP) sits
    inside the quantization, the same exposure every registered
    EXP/LN-based statistic carries.

    Scale: the atom grid SATURATES with the value domain (≤ ~370 bins
    forever), so the kernel grid is a broadcast cross join of bounded
    size at any fact scale; the fact table reduces once, map-side."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    b = ev.groupBy(F.floor("value").cast("long").alias("bin")).agg(
        F.count_if(F.col("event_type") == "purchase")
        .cast("long")
        .alias("cp"),
        F.count_if(F.col("event_type") == "view").cast("long").alias("cv"),
    )
    tot = b.agg(
        F.sum("cp").cast("long").alias("np"),
        F.sum("cv").cast("long").alias("nv"),
    )
    a = b.select(
        F.col("bin").alias("ba"),
        F.col("cp").alias("cpa"),
        F.col("cv").alias("cva"),
    )
    c = b.select(
        F.col("bin").alias("bb"),
        F.col("cp").alias("cpb"),
        F.col("cv").alias("cvb"),
    )
    gap = (F.col("ba") - F.col("bb")) * (F.col("ba") - F.col("bb"))
    kq = F.floor(
        F.exp(-gap.cast("double") / 1250.0) * 1e12
    ).cast("long")
    pair = a.crossJoin(F.broadcast(c)).select(
        "cpa", "cva", "cpb", "cvb", kq.alias("kq")
    )
    dec = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    s = pair.agg(
        F.sum(dec("cpa") * F.col("cpb") * F.col("kq")).alias("sxx"),
        F.sum(dec("cva") * F.col("cvb") * F.col("kq")).alias("syy"),
        F.sum(dec("cpa") * F.col("cvb") * F.col("kq")).alias("sxy"),
    )
    fin = s.crossJoin(F.broadcast(tot))
    np_, nv_ = F.col("np"), F.col("nv")
    mmd2 = (
        (F.col("sxx").cast("double") / 1e12 - np_)
        / (np_.cast("double") * (np_ - 1))
        + (F.col("syy").cast("double") / 1e12 - nv_)
        / (nv_.cast("double") * (nv_ - 1))
        - 2.0
        * (F.col("sxy").cast("double") / 1e12)
        / (np_.cast("double") * nv_)
    )
    return fin.select(
        np_.alias("n_purchase"),
        nv_.alias("n_view"),
        F.round(mmd2, 8).alias("mmd2"),
    )


@register(
    "stats_shift_function",
    """
    WITH atoms AS (
        SELECT CAST(FLOOR(value * 100.0) AS BIGINT) AS v,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase')
                    AS BIGINT) AS cp,
               CAST(COUNT(*) FILTER (WHERE event_type = 'view')
                    AS BIGINT) AS cv
        FROM events WHERE event_type IN ('purchase', 'view')
        GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(cp) AS BIGINT) AS np,
               CAST(SUM(cv) AS BIGINT) AS nv
        FROM atoms
    ), cum AS (
        SELECT v,
               SUM(cp) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS fp,
               SUM(cv) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS fv
        FROM atoms
    ), probes AS (
        SELECT UNNEST([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS pi
    ), qx AS (
        SELECT p.pi, MIN(c.v) AS q
        FROM probes p, cum c, tot t
        WHERE c.fp >= (t.np * p.pi + 9) // 10
        GROUP BY p.pi
    ), qy AS (
        SELECT p.pi, MIN(c.v) AS q
        FROM probes p, cum c, tot t
        WHERE c.fv >= (t.nv * p.pi + 9) // 10
        GROUP BY p.pi
    )
    SELECT CAST(qx.pi AS INT) AS decile,
           ROUND(qx.q / 100.0, 2) AS q_purchase,
           ROUND(qy.q / 100.0, 2) AS q_view,
           ROUND((qx.q - qy.q) / 100.0, 2) AS shift
    FROM qx JOIN qy ON qy.pi = qx.pi
    ORDER BY decile
    """,
)
def stats_shift_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doksum's shift function at the deciles: Δ(p) = Q_purchase(p) −
    Q_view(p) for p = 0.1..0.9 — WHERE the two distributions differ,
    not just whether (one number like ``stats_mann_whitney``'s W or
    ``stats_ks_test``'s D collapses a crossing shift to a verdict;
    the shift function shows e.g. "heavier right tail, identical
    median"). Quantiles are type-1 order statistics — the smallest
    atom whose cumulative count reaches ⌈p·n⌉, with the threshold as
    the exact integer (n·p + 9) div 10 — so engines agree with zero
    interpolation convention risk.

    Scale: one pooled atom rollup (value domain — saturating), one
    two-level cumulative pass carrying BOTH samples' ECDFs, then a
    9-probe broadcast join; per-probe MIN is map-side-combined."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    atoms = ev.groupBy(
        F.floor(F.col("value") * 100.0).cast("long").alias("v")
    ).agg(
        F.count_if(F.col("event_type") == "purchase")
        .cast("long")
        .alias("cp"),
        F.count_if(F.col("event_type") == "view").cast("long").alias("cv"),
    )
    tot = atoms.agg(
        F.sum("cp").cast("long").alias("np"),
        F.sum("cv").cast("long").alias("nv"),
    )
    cum = with_global_order(
        atoms, "v", cumsums={"fp": "cp", "fv": "cv"}
    ).select("v", "fp", "fv")
    probes = spark.range(1, 10).select(F.col("id").cast("int").alias("pi"))
    base = cum.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(probes))
    kp = F.floor((F.col("np") * F.col("pi") + 9) / 10).cast("long")
    kv = F.floor((F.col("nv") * F.col("pi") + 9) / 10).cast("long")
    qx = (
        base.filter(F.col("fp") >= kp)
        .groupBy("pi")
        .agg(F.min("v").alias("qp"))
    )
    qy = (
        base.filter(F.col("fv") >= kv)
        .groupBy("pi")
        .agg(F.min("v").alias("qv"))
    )
    return (
        qx.join(qy, "pi")
        .select(
            F.col("pi").cast("int").alias("decile"),
            F.round(F.col("qp") / 100.0, 2).alias("q_purchase"),
            F.round(F.col("qv") / 100.0, 2).alias("q_view"),
            F.round((F.col("qp") - F.col("qv")) / 100.0, 2).alias("shift"),
        )
        .orderBy("decile")
    )


@register(
    "stats_ad_onesample",
    """
    WITH x AS (
        SELECT CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS v
        FROM orders
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX(v) + 1 AS BIGINT) AS d
        FROM x
    ), atoms AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM x GROUP BY 1
    ), cum AS (
        SELECT v, c,
               SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ce
        FROM atoms
    ), terms AS (
        SELECT t.n, t.d, c.v, c.c, c.ce, c.ce - c.c AS cs,
               CAST(c.ce AS HUGEINT) * c.ce
                   - CAST(c.ce - c.c AS HUGEINT) * (c.ce - c.c) AS coef1,
               (2 * CAST(t.n AS HUGEINT) + 1) * c.c
                   - (CAST(c.ce AS HUGEINT) * c.ce + c.ce
                      - CAST(c.ce - c.c AS HUGEINT) * (c.ce - c.c)
                      - (c.ce - c.c)) AS coef2
        FROM cum c, tot t
    ), fold AS (
        SELECT CAST(SUM(
                   CAST(FLOOR((CAST(coef1 AS DOUBLE)
                               * LN(CAST(v AS DOUBLE) / d)
                               + CAST(coef2 AS DOUBLE)
                               * LN(1.0 - CAST(v AS DOUBLE) / d))
                              * 1e6) AS BIGINT)) AS HUGEINT) AS sq
        FROM terms
    )
    SELECT t.n AS n_orders,
           ROUND(-CAST(t.n AS DOUBLE)
                 - (CAST(sq AS DOUBLE) / 1e6) / t.n, 6) AS a2_stat
    FROM fold, tot t
    """,
)
def stats_ad_onesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample Anderson–Darling statistic of order totals against a
    fitted uniform U(0, D) with D = max+1 cents (the +1 keeps
    ln(1−F) finite at the maximum; fully-specified null, documented) —
    completes the AD family: one-sample here, two-sample
    ``stats_anderson_darling``, k-sample ``stats_ad_ksample``. The
    O(n) per-order-statistic sum Σ(2i−1)[ln F(x_(i)) +
    ln(1−F(x_(n+1−i)))] NEVER materializes per row: within a tied-value
    block F is constant, so the weights collapse to closed forms —
    Σ(2i−1) over positions (s, e] is e²−s², and the reversed-index
    weight is (2n+1)c − (e²+e−s²−s) — leaving one fold over the
    DISTINCT-value frame with products floor-quantized at 1e-6.
    A² = −n − S/n; large A² ⇒ totals are not uniform (they aren't —
    this is the magnitude readout, compare across slices/rounds).

    Scale: atom rollup ∝ distinct cents with map-side combine; one
    two-level cumulative; position sums in decimal(38,0) so the e²
    terms survive any N. Uses LN like every registered likelihood
    statistic."""
    orders = load_table(spark, sf_dir, "orders")
    x = orders.select(
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("v")
    )
    trow = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.max("v") + 1).cast("long").alias("d"),
    ).first()
    n_c, d_c = int(trow["n"]), int(trow["d"])
    atoms = x.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cum = with_global_order(atoms, "v", cumsums={"ce": "c"}).select(
        "v", "c", "ce"
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    ce, cs, c = F.col("ce"), F.col("ce") - F.col("c"), F.col("c")
    coef1 = dec(ce) * ce - dec(cs) * cs
    coef2 = (2 * F.lit(n_c).cast("decimal(38,0)") + 1) * c - (
        dec(ce) * ce + ce - dec(cs) * cs - cs
    )
    f_v = F.col("v").cast("double") / F.lit(d_c)
    term = (
        coef1.cast("double") * F.log(f_v)
        + coef2.cast("double") * F.log(1.0 - f_v)
    )
    fold = cum.select(
        F.floor(term * 1e6).cast("long").cast("decimal(38,0)").alias("tq")
    ).agg(F.sum("tq").alias("sq"))
    return fold.select(
        F.lit(n_c).cast("long").alias("n_orders"),
        F.round(
            -float(n_c) - (F.col("sq").cast("double") / 1e6) / n_c, 6
        ).alias("a2_stat"),
    )


_PPF_VDW = sql_norm_ppf("CAST(r AS DOUBLE) / (n + 1)")
_PPF_FK = sql_norm_ppf("0.5 + CAST(r AS DOUBLE) / (2 * (n + 1))")


@register(
    "stats_van_der_waerden",
    f"""
    WITH v AS (
        SELECT c_mktsegment AS seg,
               CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS cents
        FROM customer
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    segs AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS ni FROM v GROUP BY 1),
    vf AS (
        SELECT cents, CAST(COUNT(*) AS BIGINT) AS t FROM v GROUP BY 1
    ), rk AS (
        SELECT cents, t,
               COALESCE(SUM(t) OVER (ORDER BY cents ROWS BETWEEN
                   UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + (t + 1) / 2.0 AS r
        FROM vf
    ), sc AS (
        SELECT cents, t,
               CAST(FLOOR({_PPF_VDW} * 1e9) AS BIGINT) AS sq
        FROM rk, tot
    ), svf AS (
        SELECT seg, cents, CAST(COUNT(*) AS BIGINT) AS lsv
        FROM v GROUP BY 1, 2
    ), segsum AS (
        SELECT f.seg,
               CAST(SUM(CAST(f.lsv AS HUGEINT) * s.sq) AS HUGEINT) AS si
        FROM svf f JOIN sc s ON s.cents = f.cents
        GROUP BY f.seg
    ), num AS (
        SELECT CAST(SUM(CAST(FLOOR(
                   (CAST(g.si AS DOUBLE) / 1e9)
                   * (CAST(g.si AS DOUBLE) / 1e9) / e.ni * 1e6)
               AS BIGINT)) AS HUGEINT) AS nq,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM segsum g JOIN segs e ON e.seg = g.seg
    ), den AS (
        SELECT CAST(SUM(CAST(t AS HUGEINT) * CAST(FLOOR(
                   (CAST(sq AS DOUBLE) / 1e9) * (CAST(sq AS DOUBLE) / 1e9)
                   * 1e9) AS BIGINT)) AS HUGEINT) AS dq
        FROM sc
    )
    SELECT num.k AS k_samples, tot.n AS n_total,
           ROUND((CAST(num.nq AS DOUBLE) / 1e6)
                 / ((CAST(den.dq AS DOUBLE) / 1e9) / (tot.n - 1)), 4)
               AS vdw_stat,
           CAST(num.k - 1 AS BIGINT) AS df
    FROM num, den, tot
    """,
)
def stats_van_der_waerden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Van der Waerden normal-scores k-sample LOCATION test: replace
    each pooled midrank r by the normal score Φ⁻¹(r/(N+1)) and test
    T = Σnᵢāᵢ² / (Σa²/(N−1)) ~ χ²_{k−1} — asymptotically as efficient
    as ANOVA when the data really are normal while keeping
    ``stats_kruskal_wallis``'s rank robustness (KW pays ~5% ARE on
    normal data; VDW pays none). Φ⁻¹ is Acklam's rational
    approximation generated CHARACTER-IDENTICALLY for both engines
    (functions/normdist.py); scores quantize at 1e-9 per distinct
    value, every cross-row fold is an integer sum, and the k per-group
    squared terms quantize at 1e-6 before the final k-row fold, so no
    float addition is ever order-dependent.

    Scale: midranks from the bucketed two-level cumulative over the
    saturating acctbal atom frame; scores computed once per ATOM, then
    an integer-weighted join to the (segment, atom) counts — the same
    grouped-frame shape as ``stats_kruskal_wallis``/``stats_dunn_test``."""
    cust = load_table(spark, sf_dir, "customer")
    v = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") * 100.0).cast("long").alias("cents"),
    )
    tot = v.agg(F.count(F.lit(1)).cast("long").alias("n"))
    segs = v.groupBy("seg").agg(F.count(F.lit(1)).cast("long").alias("ni"))
    vf = v.groupBy("cents").agg(F.count(F.lit(1)).cast("long").alias("t"))
    rk = with_global_order(vf, "cents", cumsums={"ct": "t"}).select(
        "cents",
        "t",
        (F.col("ct") - F.col("t") + (F.col("t") + 1) / F.lit(2.0)).alias(
            "r"
        ),
    )
    sc = rk.crossJoin(F.broadcast(tot)).select(
        "cents",
        "t",
        F.floor(
            norm_ppf(F.col("r") / (F.col("n") + 1)) * 1e9
        )
        .cast("long")
        .alias("sq"),
    )
    svf = v.groupBy("seg", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("lsv")
    )
    segsum = (
        svf.join(sc.select("cents", "sq"), "cents")
        .groupBy("seg")
        .agg(
            F.sum(F.col("lsv").cast("decimal(38,0)") * F.col("sq")).alias(
                "si"
            )
        )
    )
    num = (
        segsum.join(segs, "seg")
        .select(
            F.floor(
                (F.col("si").cast("double") / 1e9)
                * (F.col("si").cast("double") / 1e9)
                / F.col("ni")
                * 1e6
            )
            .cast("long")
            .cast("decimal(38,0)")
            .alias("q")
        )
        .agg(
            F.sum("q").alias("nq"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
    )
    den = sc.select(
        (
            F.col("t").cast("decimal(38,0)")
            * F.floor(
                (F.col("sq").cast("double") / 1e9)
                * (F.col("sq").cast("double") / 1e9)
                * 1e9
            ).cast("long")
        ).alias("q")
    ).agg(F.sum("q").alias("dq"))
    fin = (
        num.crossJoin(F.broadcast(den)).crossJoin(F.broadcast(tot))
    )
    return fin.select(
        F.col("k").alias("k_samples"),
        F.col("n").alias("n_total"),
        F.round(
            (F.col("nq").cast("double") / 1e6)
            / (
                (F.col("dq").cast("double") / 1e9) / (F.col("n") - 1)
            ),
            4,
        ).alias("vdw_stat"),
        (F.col("k") - 1).cast("long").alias("df"),
    )


@register(
    "stats_fligner_killeen",
    f"""
    WITH v AS (
        SELECT c_mktsegment AS seg,
               CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS cents
        FROM customer
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    segs AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS ni FROM v GROUP BY 1),
    sv AS (
        SELECT seg, cents, CAST(COUNT(*) AS BIGINT) AS lsv
        FROM v GROUP BY 1, 2
    ), scum AS (
        SELECT seg, cents, lsv,
               SUM(lsv) OVER (PARTITION BY seg ORDER BY cents
                   ROWS UNBOUNDED PRECEDING) AS ce
        FROM sv
    ), med AS (
        SELECT s.seg, MIN(s.cents) AS m
        FROM scum s JOIN segs e ON e.seg = s.seg
        WHERE s.ce >= (e.ni + 1) // 2
        GROUP BY s.seg
    ), dv AS (
        SELECT v.seg, ABS(v.cents - med.m) AS d
        FROM v JOIN med ON med.seg = v.seg
    ), df_ AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS t FROM dv GROUP BY 1
    ), rk AS (
        SELECT d, t,
               COALESCE(SUM(t) OVER (ORDER BY d ROWS BETWEEN
                   UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + (t + 1) / 2.0 AS r
        FROM df_
    ), sc AS (
        SELECT d, t,
               CAST(FLOOR({_PPF_FK} * 1e9) AS BIGINT) AS sq
        FROM rk, tot
    ), sdf AS (
        SELECT seg, d, CAST(COUNT(*) AS BIGINT) AS lsv
        FROM dv GROUP BY 1, 2
    ), segsum AS (
        SELECT f.seg,
               CAST(SUM(CAST(f.lsv AS HUGEINT) * s.sq) AS HUGEINT) AS si
        FROM sdf f JOIN sc s ON s.d = f.d
        GROUP BY f.seg
    ), num AS (
        SELECT CAST(SUM(CAST(FLOOR(
                   (CAST(g.si AS DOUBLE) / 1e9)
                   * (CAST(g.si AS DOUBLE) / 1e9) / e.ni * 1e6)
               AS BIGINT)) AS HUGEINT) AS nq,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM segsum g JOIN segs e ON e.seg = g.seg
    ), den AS (
        SELECT CAST(SUM(CAST(t AS HUGEINT) * CAST(FLOOR(
                   (CAST(sq AS DOUBLE) / 1e9) * (CAST(sq AS DOUBLE) / 1e9)
                   * 1e9) AS BIGINT)) AS HUGEINT) AS dq,
               CAST(SUM(CAST(t AS HUGEINT) * sq) AS HUGEINT) AS st
        FROM sc
    )
    SELECT num.k AS k_samples, tot.n AS n_total,
           ROUND(((CAST(num.nq AS DOUBLE) / 1e6)
                  - tot.n * (CAST(den.st AS DOUBLE) / 1e9 / tot.n)
                          * (CAST(den.st AS DOUBLE) / 1e9 / tot.n))
                 / (((CAST(den.dq AS DOUBLE) / 1e9)
                     - tot.n * (CAST(den.st AS DOUBLE) / 1e9 / tot.n)
                             * (CAST(den.st AS DOUBLE) / 1e9 / tot.n))
                    / (tot.n - 1)), 4) AS fk_stat,
           CAST(num.k - 1 AS BIGINT) AS df
    FROM num, den, tot
    """,
)
def stats_fligner_killeen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fligner–Killeen k-sample SCALE test — the rank test R's
    ``fligner.test`` runs and the robust-to-non-normality member of
    the variance-test family (``stats_bartlett`` assumes normality,
    ``stats_levene`` uses mean deviations): score the pooled midranks
    of |x − median_i| (per-segment LOWER-median centering, exact order
    statistic — no interpolation convention to disagree on) with
    one-sided normal scores a = Φ⁻¹(½ + r/(2(N+1))), then
    X² = Σnᵢ(āᵢ−ā)²·(N−1)/Σ(aⱼ−ā)² ~ χ²_{k−1}, computed from the
    folds via Σnᵢ(āᵢ−ā)² = ΣSᵢ²/nᵢ − Nā². Φ⁻¹ is the shared
    engine-mirrored Acklam probit (functions/normdist.py); scores
    quantize at 1e-9 per distinct deviation and all folds are integer.

    Scale: per-segment median from a segment-partitioned cumulative
    over the SATURATING acctbal atom domain (same shape as
    ``stats_ad_ksample``'s per-segment prefixes); deviation atoms
    re-pool through the bucketed two-level cumulative; one integer-
    weighted join to (segment, deviation) counts."""
    cust = load_table(spark, sf_dir, "customer")
    v = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") * 100.0).cast("long").alias("cents"),
    )
    tot = v.agg(F.count(F.lit(1)).cast("long").alias("n"))
    segs = v.groupBy("seg").agg(F.count(F.lit(1)).cast("long").alias("ni"))
    sv = v.groupBy("seg", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("lsv")
    )
    w_seg = (
        Window.partitionBy("seg")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scum = sv.select(
        "seg", "cents", F.sum("lsv").over(w_seg).alias("ce")
    )
    med = (
        scum.join(segs, "seg")
        .filter(
            F.col("ce") >= F.floor((F.col("ni") + 1) / 2).cast("long")
        )
        .groupBy("seg")
        .agg(F.min("cents").alias("m"))
    )
    dv = v.join(med, "seg").select(
        "seg", F.abs(F.col("cents") - F.col("m")).alias("d")
    )
    # Round-11 opt pass: the per-(segment, deviation) counts are the ONE
    # aggregation every downstream frame can be derived from — the pooled
    # per-deviation counts are their segment-sum, so the deviation join
    # (v ⋈ med) and its atom aggregation run once instead of four times
    # (pooled histogram, with_global_order's two scans of it, per-segment
    # scores). The checkpoint is deviation-atom-sized (≤ |customer| rows);
    # fixed superset bounds (acctbal cents span < 2e6) skip the span
    # pre-pass.
    sdf = (
        dv.groupBy("seg", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("lsv"))
        .localCheckpoint(eager=True)
    )
    df_ = sdf.groupBy("d").agg(F.sum("lsv").cast("long").alias("t"))
    rk = with_global_order(
        df_, "d", cumsums={"ct": "t"}, bounds=(0.0, 2e6)
    ).select(
        "d",
        "t",
        (F.col("ct") - F.col("t") + (F.col("t") + 1) / F.lit(2.0)).alias(
            "r"
        ),
    )
    sc = rk.crossJoin(F.broadcast(tot)).select(
        "d",
        "t",
        F.floor(
            norm_ppf(0.5 + F.col("r") / (2 * (F.col("n") + 1))) * 1e9
        )
        .cast("long")
        .alias("sq"),
    )
    segsum = (
        sdf.join(sc.select("d", "sq"), "d")
        .groupBy("seg")
        .agg(
            F.sum(F.col("lsv").cast("decimal(38,0)") * F.col("sq")).alias(
                "si"
            )
        )
    )
    num = (
        segsum.join(segs, "seg")
        .select(
            F.floor(
                (F.col("si").cast("double") / 1e9)
                * (F.col("si").cast("double") / 1e9)
                / F.col("ni")
                * 1e6
            )
            .cast("long")
            .cast("decimal(38,0)")
            .alias("q")
        )
        .agg(
            F.sum("q").alias("nq"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
    )
    den = sc.select(
        (
            F.col("t").cast("decimal(38,0)")
            * F.floor(
                (F.col("sq").cast("double") / 1e9)
                * (F.col("sq").cast("double") / 1e9)
                * 1e9
            ).cast("long")
        ).alias("q2"),
        (F.col("t").cast("decimal(38,0)") * F.col("sq")).alias("q1"),
    ).agg(F.sum("q2").alias("dq"), F.sum("q1").alias("st"))
    fin = num.crossJoin(F.broadcast(den)).crossJoin(F.broadcast(tot))
    n = F.col("n")
    abar = F.col("st").cast("double") / 1e9 / n
    return fin.select(
        F.col("k").alias("k_samples"),
        n.alias("n_total"),
        F.round(
            ((F.col("nq").cast("double") / 1e6) - n * abar * abar)
            / (
                ((F.col("dq").cast("double") / 1e9) - n * abar * abar)
                / (n - 1)
            ),
            4,
        ).alias("fk_stat"),
        (F.col("k") - 1).cast("long").alias("df"),
    )


@register(
    "stats_cvm_onesample",
    """
    WITH x AS (
        SELECT CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS v
        FROM orders
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX(v) + 1 AS BIGINT) AS d
        FROM x
    ), atoms AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM x GROUP BY 1
    ), cum AS (
        SELECT v, c,
               SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS e
        FROM atoms
    ), terms AS (
        SELECT t.n, c.c, c.e, c.e - c.c AS s,
               CAST(c.v AS DOUBLE) / t.d AS f
        FROM cum c, tot t
    ), fold AS (
        SELECT CAST(SUM(CAST(FLOOR((
                   c * f * f
                   - (CAST(e AS HUGEINT) * e - CAST(s AS HUGEINT) * s)
                     * f / n
                   + CAST((4 * CAST(e AS HUGEINT) * e * e - e)
                          - (4 * CAST(s AS HUGEINT) * s * s - s)
                          AS DOUBLE)
                     / (3.0 * (4.0 * CAST(n AS HUGEINT) * n))
                   ) * 1e9) AS BIGINT)) AS HUGEINT) AS wq,
               CAST(SUM(CAST(FLOOR(c * f * 1e9) AS BIGINT)) AS HUGEINT)
                   AS fq
        FROM terms
    )
    SELECT t.n AS n_orders,
           ROUND(1.0 / (12.0 * t.n) + CAST(wq AS DOUBLE) / 1e9, 6)
               AS w2_stat,
           ROUND(1.0 / (12.0 * t.n) + CAST(wq AS DOUBLE) / 1e9
                 - t.n * (CAST(fq AS DOUBLE) / 1e9 / t.n - 0.5)
                       * (CAST(fq AS DOUBLE) / 1e9 / t.n - 0.5), 6)
               AS u2_stat
    FROM fold, tot t
    """,
)
def stats_cvm_onesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample Cramér–von Mises W² plus Watson's U² against the same
    fitted U(0, max+1) as ``stats_ad_onesample`` — completing the
    classic EDF goodness-of-fit trio on identical footing (KS-style
    max gap, CvM mean-square gap, AD tail-weighted gap), with Watson's
    rotation-invariant U² = W² − n(F̄−½)² as the circular reading.
    The per-order-statistic sum Σ(F(x₍ᵢ₎) − (2i−1)/(2n))² collapses
    onto the distinct-value frame through tie-block closed forms:
    Σ(2i−1) = e²−s² and Σ(2i−1)² = ((4e³−e)−(4s³−s))/3 for positions
    (s, e] — one quantized fold, no per-row pass. The position cubes
    ride in 128-bit integers: exact for n ≲ 2·10¹² rows (past that the
    cube exceeds 38 digits — noted, not hidden).

    Scale: atom rollup with map-side combine, one bucketed two-level
    cumulative, one fold."""
    orders = load_table(spark, sf_dir, "orders")
    x = orders.select(
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("v")
    )
    tot = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.max("v") + 1).cast("long").alias("d"),
    )
    atoms = x.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cum = with_global_order(atoms, "v", cumsums={"e": "c"}).select(
        "v", "c", "e"
    )
    terms = cum.crossJoin(F.broadcast(tot)).select(
        "n",
        "c",
        "e",
        (F.col("e") - F.col("c")).alias("s"),
        (F.col("v").cast("double") / F.col("d")).alias("f"),
    )
    dec = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    e_d, s_d, n_d = dec("e"), dec("s"), dec("n")
    f, c, n = F.col("f"), F.col("c"), F.col("n")
    block = (
        c * f * f
        - (e_d * F.col("e") - s_d * F.col("s")).cast("double") * f / n
        + (
            (4 * e_d * F.col("e") * F.col("e") - F.col("e"))
            - (4 * s_d * F.col("s") * F.col("s") - F.col("s"))
        ).cast("double")
        / (3.0 * (4 * n_d * F.col("n")).cast("double"))
    )
    fold = terms.select(
        F.floor(block * 1e9).cast("long").cast("decimal(38,0)").alias("wq"),
        F.floor(c * f * 1e9).cast("long").cast("decimal(38,0)").alias("fq"),
        "n",
    ).groupBy("n").agg(F.sum("wq").alias("wq"), F.sum("fq").alias("fq"))
    w2 = 1.0 / (12.0 * F.col("n")) + F.col("wq").cast("double") / 1e9
    fbar_m = F.col("fq").cast("double") / 1e9 / F.col("n") - 0.5
    return fold.select(
        F.col("n").alias("n_orders"),
        F.round(w2, 6).alias("w2_stat"),
        F.round(w2 - F.col("n") * fbar_m * fbar_m, 6).alias("u2_stat"),
    )


@register(
    "stats_dagostino_k2",
    """
    WITH v AS (
        SELECT CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS y
        FROM orders
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s1,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS s2,
               CAST(SUM(CAST(y AS HUGEINT) * y * y) AS HUGEINT) AS s3,
               CAST(SUM(CAST(y AS HUGEINT) * y * y * y) AS HUGEINT) AS s4
        FROM v
    ), mo AS (
        SELECT n,
               CAST(s1 AS DOUBLE) / n AS m1,
               CAST(s2 AS DOUBLE) / n AS m2r,
               CAST(s3 AS DOUBLE) / n AS m3r,
               CAST(s4 AS DOUBLE) / n AS m4r
        FROM s
    ), mu AS (
        SELECT n,
               m2r - m1 * m1 AS mu2,
               m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1 AS mu3,
               m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r
                   - 3 * m1 * m1 * m1 * m1 AS mu4
        FROM mo
    ), g AS (
        SELECT n, mu3 / POWER(mu2, 1.5) AS g1, mu4 / (mu2 * mu2) AS b2
        FROM mu
    ), sk AS (
        SELECT n, g1, b2,
               g1 * SQRT((n + 1.0) * (n + 3) / (6.0 * (n - 2))) AS yy,
               SQRT(-1 + SQRT(2 * (3.0 * (CAST(n AS DOUBLE) * n + 27 * n
                   - 70) * (n + 1) * (n + 3)
                   / ((n - 2.0) * (n + 5) * (n + 7) * (n + 9)) - 1)))
                   AS ww
        FROM g
    ), z1c AS (
        SELECT n, g1, b2,
               (1 / SQRT(LN(ww)))
               * LN(yy / SQRT(2 / (ww * ww - 1))
                    + SQRT((yy / SQRT(2 / (ww * ww - 1)))
                           * (yy / SQRT(2 / (ww * ww - 1))) + 1)) AS z1
        FROM sk
    ), ku AS (
        SELECT n, g1, b2, z1,
               (b2 - 3.0 * (n - 1) / (n + 1))
               / SQRT(24.0 * n * (n - 2) * (n - 3)
                      / ((n + 1.0) * (n + 1) * (n + 3) * (n + 5))) AS x,
               6.0 * (CAST(n AS DOUBLE) * n - 5 * n + 2)
               / ((n + 7.0) * (n + 9))
               * SQRT(6.0 * (n + 3) * (n + 5)
                      / (CAST(n AS DOUBLE) * (n - 2) * (n - 3))) AS sb
        FROM z1c
    ), au AS (
        SELECT n, g1, b2, z1, x,
               6.0 + 8.0 / sb * (2.0 / sb + SQRT(1.0 + 4.0 / (sb * sb)))
                   AS a
        FROM ku
    ), z2c AS (
        SELECT n, g1, b2, z1,
               (1.0 - 2.0 / (9.0 * a)
                - POWER((1.0 - 2.0 / a)
                        / (1.0 + x * SQRT(2.0 / (a - 4.0))), 1.0 / 3.0))
               / SQRT(2.0 / (9.0 * a)) AS z2
        FROM au
    )
    SELECT n AS n_obs,
           ROUND(g1, 6) AS sample_skewness,
           ROUND(b2 - 3.0, 6) AS excess_kurtosis,
           ROUND(z1, 4) AS z_skew,
           ROUND(z2, 4) AS z_kurt,
           ROUND(z1 * z1 + z2 * z2, 4) AS k2_stat
    FROM z2c
    """,
)
def stats_dagostino_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Agostino–Pearson K² omnibus normality test: the Johnson-SU
    skewness z (same transform as ``stats_dagostino_skew``) plus the
    Anscombe–Glynn kurtosis z (Wilson–Hilferty cube-root normalization
    of b₂ against its exact null mean 3(n−1)/(n+1) and variance
    24n(n−2)(n−3)/((n+1)²(n+3)(n+5))), combined as K² = z₁² + z₂² ~
    χ²₂. The finite-n calibrated omnibus ``stats_jarque_bera``
    approximates asymptotically — at moderate n JB's χ² is known to be
    anti-conservative while K² holds size. First FOUR raw moments fold
    as exact 128-bit integers (y⁴ ≤ 5e30 at the fixture's price domain
    — within decimal(38,0) for any N whose Σy⁴ stays under 38 digits,
    i.e. ~10⁷× the 100 TB row count); everything after is fixed scalar
    algebra on one row.

    Scale: one map-side-combined pass to 5 cells; no shuffle beyond
    the aggregate's 1-row exchange."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("y")
    )
    y = F.col("y")
    s = v.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y).cast("long").alias("s1"),
        F.sum(y.cast("decimal(38,0)") * y).alias("s2"),
        F.sum(y.cast("decimal(38,0)") * y * y).alias("s3"),
        F.sum(y.cast("decimal(38,0)") * y * y * y).alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    m2r = F.col("s2").cast("double") / n
    m3r = F.col("s3").cast("double") / n
    m4r = F.col("s4").cast("double") / n
    mu2 = m2r - m1 * m1
    mu3 = m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1
    mu4 = m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r - 3 * m1 * m1 * m1 * m1
    g = s.select(
        n,
        (mu3 / F.pow(mu2, 1.5)).alias("g1"),
        (mu4 / (mu2 * mu2)).alias("b2"),
    )
    yy = F.col("g1") * F.sqrt((n + F.lit(1.0)) * (n + 3) / (6.0 * (n - 2)))
    ww = F.sqrt(
        -1
        + F.sqrt(
            2
            * (
                3.0
                * (n.cast("double") * n + 27 * n - 70)
                * (n + 1)
                * (n + 3)
                / ((n - F.lit(2.0)) * (n + 5) * (n + 7) * (n + 9))
                - 1
            )
        )
    )
    sk = g.select(n, "g1", "b2", yy.alias("yy"), ww.alias("ww"))
    alpha = F.sqrt(2 / (F.col("ww") * F.col("ww") - 1))
    z1 = (1 / F.sqrt(F.log(F.col("ww")))) * F.log(
        F.col("yy") / alpha
        + F.sqrt((F.col("yy") / alpha) * (F.col("yy") / alpha) + 1)
    )
    z1c = sk.select(n, "g1", "b2", z1.alias("z1"))
    x = (F.col("b2") - 3.0 * (n - 1) / (n + 1)) / F.sqrt(
        24.0
        * n
        * (n - 2)
        * (n - 3)
        / ((n + F.lit(1.0)) * (n + 1) * (n + 3) * (n + 5))
    )
    sb = (
        6.0
        * (n.cast("double") * n - 5 * n + 2)
        / ((n + F.lit(7.0)) * (n + 9))
        * F.sqrt(
            6.0
            * (n + 3)
            * (n + 5)
            / (n.cast("double") * (n - 2) * (n - 3))
        )
    )
    ku = z1c.select(n, "g1", "b2", "z1", x.alias("x"), sb.alias("sb"))
    a = 6.0 + 8.0 / F.col("sb") * (
        2.0 / F.col("sb") + F.sqrt(1.0 + 4.0 / (F.col("sb") * F.col("sb")))
    )
    au = ku.select(n, "g1", "b2", "z1", "x", a.alias("a"))
    z2 = (
        1.0
        - 2.0 / (9.0 * F.col("a"))
        - F.pow(
            (1.0 - 2.0 / F.col("a"))
            / (1.0 + F.col("x") * F.sqrt(2.0 / (F.col("a") - 4.0))),
            1.0 / 3.0,
        )
    ) / F.sqrt(2.0 / (9.0 * F.col("a")))
    z2c = au.select(n, "g1", "b2", "z1", z2.alias("z2"))
    return z2c.select(
        n.alias("n_obs"),
        F.round(F.col("g1"), 6).alias("sample_skewness"),
        F.round(F.col("b2") - 3.0, 6).alias("excess_kurtosis"),
        F.round(F.col("z1"), 4).alias("z_skew"),
        F.round(F.col("z2"), 4).alias("z_kurt"),
        F.round(
            F.col("z1") * F.col("z1") + F.col("z2") * F.col("z2"), 4
        ).alias("k2_stat"),
    )


@register(
    "stats_conover_squared_ranks",
    """
    WITH v AS (
        SELECT c_mktsegment AS seg,
               CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS cents
        FROM customer
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    segs AS (
        SELECT seg, CAST(COUNT(*) AS BIGINT) AS ni,
               AVG(cents) AS mean_c
        FROM v GROUP BY 1
    ), dv AS (
        SELECT v.seg, ABS(v.cents - s.mean_c) AS d
        FROM v JOIN segs s ON s.seg = v.seg
    ), df_ AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS t FROM dv GROUP BY 1
    ), rk AS (
        SELECT d, t,
               CAST(FLOOR(
                   (CAST(2 * (COALESCE(SUM(t) OVER (ORDER BY d ROWS
                        BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
                        + t + 1 AS DOUBLE) / (2.0 * tot.n))
                   * (CAST(2 * (COALESCE(SUM(t) OVER (ORDER BY d ROWS
                        BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
                        + t + 1 AS DOUBLE) / (2.0 * tot.n))
                   * 1e12) AS BIGINT) AS uq
        FROM df_, tot
    ), gsum AS (
        SELECT CAST(SUM(CAST(t AS HUGEINT) * uq) AS HUGEINT) AS a,
               CAST(SUM(CAST(t AS HUGEINT)
                    * CAST(FLOOR((uq / 1e12) * (uq / 1e12) * 1e12)
                           AS BIGINT)) AS HUGEINT) AS b
        FROM rk
    ), sdf AS (
        SELECT seg, d, CAST(COUNT(*) AS BIGINT) AS lsv
        FROM dv GROUP BY 1, 2
    ), segsum AS (
        SELECT f.seg,
               CAST(SUM(CAST(f.lsv AS HUGEINT) * r.uq) AS HUGEINT) AS ti
        FROM sdf f JOIN rk r ON r.d = f.d
        GROUP BY f.seg
    ), num AS (
        SELECT CAST(SUM(CAST(FLOOR(
                   (CAST(g.ti AS DOUBLE) / 1e12)
                   * (CAST(g.ti AS DOUBLE) / 1e12) / e.ni * 1e6)
               AS BIGINT)) AS HUGEINT) AS nq,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM segsum g JOIN segs e ON e.seg = g.seg
    )
    SELECT num.k AS k_samples, tot.n AS n_total,
           ROUND(((CAST(num.nq AS DOUBLE) / 1e6)
                  - tot.n * (CAST(gsum.a AS DOUBLE) / 1e12 / tot.n)
                          * (CAST(gsum.a AS DOUBLE) / 1e12 / tot.n))
                 / ((CAST(gsum.b AS DOUBLE) / 1e12
                     - tot.n * (CAST(gsum.a AS DOUBLE) / 1e12 / tot.n)
                             * (CAST(gsum.a AS DOUBLE) / 1e12 / tot.n))
                    / (tot.n - 1)), 4) AS conover_t,
           CAST(num.k - 1 AS BIGINT) AS df
    FROM num, gsum, tot
    """,
)
def stats_conover_squared_ranks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conover\'s squared-ranks k-sample scale test (Conover \'99 §5.3):
    rank the pooled |x − x̄ᵢ| (per-segment MEAN centering — the member
    of the scale family that keeps Conover\'s published null moments),
    square the midranks, and test T = (ΣTᵢ²/nᵢ − N·S̄²)/D² ~ χ²_{k−1}
    with D² = (ΣR⁴ − N·S̄²)/(N−1). Completes the registered scale
    battery: Bartlett (normal-theory), Levene/Brown–Forsythe (mean/
    median deviations), Mood/Ansari/Siegel–Tukey (2-sample ranks),
    Fligner–Killeen (normal scores) — Conover is the plain-squared-
    ranks k-sample member. T is invariant under rescaling every R² by
    a common factor, so the scores fold as NORMALIZED u = (R/2N)² ∈
    (0,1] quantized at 1e-12 — O(1) magnitudes at ANY N (the raw R⁴
    sums overflow 128-bit past N ≈ 6·10⁷; the normalized folds never
    do) and every cross-row sum is an integer fold. The deviation
    doubles derive from the same exact integer mean ratio on both
    engines, so the grouped-value frame and its midranks agree
    bit-for-bit.

    Scale: same grouped-frame shape as ``stats_fligner_killeen`` —
    per-segment mean from one rollup, deviation atoms re-pool through
    the bucketed two-level cumulative, one integer-weighted join."""
    cust = load_table(spark, sf_dir, "customer")
    v = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") * 100.0).cast("long").alias("cents"),
    )
    tot = v.agg(F.count(F.lit(1)).cast("long").alias("n"))
    segs = v.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("ni"),
        F.avg("cents").alias("mean_c"),
    )
    dv = v.join(segs.select("seg", "mean_c"), "seg").select(
        "seg", F.abs(F.col("cents") - F.col("mean_c")).alias("d")
    )
    df_ = dv.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("t"))
    r2n = (
        (2 * (F.col("ct") - F.col("t")) + F.col("t") + 1).cast("double")
        / (2.0 * F.col("n"))
    )
    rk = (
        with_global_order(df_, "d", cumsums={"ct": "t"})
        .crossJoin(F.broadcast(tot))
        .select(
            "d",
            "t",
            F.floor(r2n * r2n * 1e12).cast("long").alias("uq"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    gsum = rk.agg(
        F.sum(dec(F.col("t")) * F.col("uq")).alias("a"),
        F.sum(
            dec(F.col("t"))
            * F.floor(
                (F.col("uq") / 1e12) * (F.col("uq") / 1e12) * 1e12
            ).cast("long")
        ).alias("b"),
    )
    sdf = dv.groupBy("seg", "d").agg(
        F.count(F.lit(1)).cast("long").alias("lsv")
    )
    segsum = (
        sdf.join(rk.select("d", "uq"), "d")
        .groupBy("seg")
        .agg(F.sum(dec(F.col("lsv")) * F.col("uq")).alias("ti"))
    )
    num = (
        segsum.join(segs.select("seg", "ni"), "seg")
        .select(
            F.floor(
                (F.col("ti").cast("double") / 1e12)
                * (F.col("ti").cast("double") / 1e12)
                / F.col("ni")
                * 1e6
            )
            .cast("long")
            .cast("decimal(38,0)")
            .alias("q")
        )
        .agg(
            F.sum("q").alias("nq"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
    )
    fin = num.crossJoin(F.broadcast(gsum)).crossJoin(F.broadcast(tot))
    n = F.col("n")
    sbar = F.col("a").cast("double") / 1e12 / n
    t_stat = ((F.col("nq").cast("double") / 1e6) - n * sbar * sbar) / (
        (F.col("b").cast("double") / 1e12 - n * sbar * sbar) / (n - 1)
    )
    return fin.select(
        F.col("k").alias("k_samples"),
        n.alias("n_total"),
        F.round(t_stat, 4).alias("conover_t"),
        (F.col("k") - 1).cast("long").alias("df"),
    )


_CDF_Z = sql_norm_cdf(
    "(CAST(v AS DOUBLE) - mu) / sd"
)


@register(
    "stats_lilliefors",
    f"""
    WITH x AS (
        SELECT CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS v
        FROM orders
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS HUGEINT) AS s1,
               CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2
        FROM x
    ), par AS (
        SELECT n, CAST(s1 AS DOUBLE) / n AS mu,
               SQRT((CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                    / (n - 1)) AS sd
        FROM mom
    ), atoms AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM x GROUP BY 1
    ), cum AS (
        SELECT v, c,
               SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f
        FROM atoms
    ), gaps AS (
        SELECT p.n,
               CAST(f AS DOUBLE) / p.n - {_CDF_Z} AS dplus,
               {_CDF_Z} - (CAST(f AS DOUBLE) - c) / p.n AS dminus
        FROM cum, par p
    )
    SELECT MAX(n) AS n_orders,
           ROUND(GREATEST(MAX(dplus), MAX(dminus)), 6) AS d_stat,
           ROUND(GREATEST(MAX(dplus), MAX(dminus))
                 * (SQRT(CAST(MAX(n) AS DOUBLE)) - 0.01
                    + 0.85 / SQRT(CAST(MAX(n) AS DOUBLE))), 4)
               AS d_scaled
    FROM gaps
    """,
)
def stats_lilliefors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lilliefors normality test: the KS distance of order totals
    against a normal with ESTIMATED mean and sd — which is exactly the
    case where plain KS critical values are badly conservative
    (Lilliefors '67); Stephens' scaling D·(√n − 0.01 + 0.85/√n) gives
    the modified statistic (>1.035 ⇒ reject at 1%). Completes the
    normality battery from the EDF side (moments: ``stats_jarque_bera``,
    ``stats_dagostino_k2``; correlation: ``stats_shapiro_francia``).
    Φ comes from the shared engine-mirrored A&S 7.1.26 erf
    (functions/normdist.py, |approx error| < 1.5e-7 — below the 1e-6
    rounding of the emitted distance); both ECDF gaps evaluate only at
    the distinct-value atoms where they are attained. μ̂, σ̂ (ddof=1)
    fold as exact 128-bit integer moments.

    Scale: one moment pass with map-side combine, one atom rollup, one
    bucketed two-level cumulative, one max fold."""
    orders = load_table(spark, sf_dir, "orders")
    x = orders.select(
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("v")
    )
    mom = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("decimal(38,0)").alias("s1"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("s2"),
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    sd = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double") / n
        )
        / (n - 1)
    )
    par = mom.select(n, mu.alias("mu"), sd.alias("sd"))
    atoms = x.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cum = with_global_order(atoms, "v", cumsums={"f": "c"}).select(
        "v", "c", "f"
    )
    g = cum.crossJoin(F.broadcast(par))
    phi = norm_cdf((F.col("v").cast("double") - F.col("mu")) / F.col("sd"))
    gaps = g.select(
        "n",
        (F.col("f").cast("double") / F.col("n") - phi).alias("dplus"),
        (
            phi - (F.col("f").cast("double") - F.col("c")) / F.col("n")
        ).alias("dminus"),
    )
    d = F.greatest(F.max("dplus"), F.max("dminus"))
    n_d = F.max("n").cast("double")
    return gaps.groupBy().agg(
        F.max("n").alias("n_orders"),
        F.round(d, 6).alias("d_stat"),
        F.round(
            d * (F.sqrt(n_d) - 0.01 + 0.85 / F.sqrt(n_d)), 4
        ).alias("d_scaled"),
    )


@register(
    "stats_shapiro_francia",
    f"""
    WITH x AS (
        SELECT o_orderkey AS k,
               CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS v
        FROM orders
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS HUGEINT) AS s1,
               CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2
        FROM x
    ), rk AS (
        SELECT v, ROW_NUMBER() OVER (ORDER BY v, k) AS i FROM x
    ), sc AS (
        SELECT v,
               {sql_norm_ppf("(i - 0.375) / (n + 0.25)")} AS m
        FROM rk, tot
    ), fold AS (
        SELECT CAST(SUM(CAST(FLOOR(m * v * 1e4) AS BIGINT)) AS HUGEINT)
                   AS mxq,
               CAST(SUM(CAST(FLOOR(m * m * 1e9) AS BIGINT)) AS HUGEINT)
                   AS mmq
        FROM sc
    )
    SELECT t.n AS n_orders,
           ROUND((CAST(mxq AS DOUBLE) / 1e4)
                 * (CAST(mxq AS DOUBLE) / 1e4)
                 / ((CAST(mmq AS DOUBLE) / 1e9)
                    * (CAST(t.s2 AS DOUBLE)
                       - CAST(t.s1 AS DOUBLE) * CAST(t.s1 AS DOUBLE)
                         / t.n)), 6) AS w_prime,
           ROUND((LN(1.0 - (CAST(mxq AS DOUBLE) / 1e4)
                 * (CAST(mxq AS DOUBLE) / 1e4)
                 / ((CAST(mmq AS DOUBLE) / 1e9)
                    * (CAST(t.s2 AS DOUBLE)
                       - CAST(t.s1 AS DOUBLE) * CAST(t.s1 AS DOUBLE)
                         / t.n)))
                  - (-1.2725 + 1.0521 * (LN(LN(t.n)) - LN(t.n))))
                 / (1.0308 - 0.26758 * (LN(LN(t.n)) + 2.0 / LN(t.n))),
                 4) AS royston_z
    FROM fold, tot t
    """,
)
def stats_shapiro_francia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapiro–Francia normality test: W′ = corr(x₍ᵢ₎, mᵢ)² between the
    order statistics and the expected normal scores mᵢ =
    Φ⁻¹((i−3/8)/(n+1/4)) (Blom plotting positions) — the
    correlation-family normality test (Shapiro–Wilk's large-n sibling;
    SW's covariance-weighted coefficients don't scale past a few
    thousand, SF is the estimator used at big n), standardized via
    Royston's '93 ln(1−W′) normalization. The shared engine-mirrored
    Acklam probit supplies mᵢ per GLOBAL position from the bucketed
    two-level rank (deterministic (value, orderkey) order); the two
    cross folds quantize at 1e-4/1e-9 and sum as integers; Σm ≈ 0 by
    symmetry so the numerator needs no mean correction, and the x
    moments fold exactly.

    Scale: one two-level rank pass ∝ rows, two integer folds, one
    scalar epilogue."""
    orders = load_table(spark, sf_dir, "orders")
    x = orders.select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("v"),
    )
    tot = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("decimal(38,0)").alias("s1"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("s2"),
    )
    rk = with_global_order(x, "v", ["k"], rank="i").crossJoin(
        F.broadcast(tot)
    )
    m = norm_ppf((F.col("i") - 0.375) / (F.col("n") + 0.25))
    fold = rk.select(
        F.floor(m * F.col("v") * 1e4)
        .cast("long")
        .cast("decimal(38,0)")
        .alias("mxq"),
        F.floor(m * m * 1e9).cast("long").cast("decimal(38,0)").alias("mmq"),
    ).agg(F.sum("mxq").alias("mxq"), F.sum("mmq").alias("mmq"))
    fin = fold.crossJoin(F.broadcast(tot))
    n = F.col("n")
    mx = F.col("mxq").cast("double") / 1e4
    mm = F.col("mmq").cast("double") / 1e9
    sxx = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / n
    )
    wp = mx * mx / (mm * sxx)
    lnn = F.log(n.cast("double"))
    mu_r = -1.2725 + 1.0521 * (F.log(lnn) - lnn)
    s_r = 1.0308 - 0.26758 * (F.log(lnn) + 2.0 / lnn)
    return fin.select(
        n.alias("n_orders"),
        F.round(wp, 6).alias("w_prime"),
        F.round((F.log(1.0 - wp) - mu_r) / s_r, 4).alias("royston_z"),
    )


@register(
    "stats_blomqvist_beta",
    """
    WITH v AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS p
        FROM lineitem
    ), med AS (
        SELECT PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY q) AS mq,
               PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY p) AS mp
        FROM v
    ), cls AS (
        SELECT CASE WHEN q > mq THEN 1 WHEN q < mq THEN -1 ELSE 0 END AS sq,
               CASE WHEN p > mp THEN 1 WHEN p < mp THEN -1 ELSE 0 END AS sp
        FROM v, med
    )
    SELECT CAST(COUNT(*) FILTER (WHERE sq * sp = 1) AS BIGINT) AS concordant,
           CAST(COUNT(*) FILTER (WHERE sq * sp = -1) AS BIGINT) AS discordant,
           CAST(COUNT(*) FILTER (WHERE sq = 0 OR sp = 0) AS BIGINT)
               AS on_median,
           ROUND(CAST(COUNT(*) FILTER (WHERE sq * sp = 1)
                      - COUNT(*) FILTER (WHERE sq * sp = -1) AS DOUBLE)
                 / (COUNT(*) FILTER (WHERE sq * sp = 1)
                    + COUNT(*) FILTER (WHERE sq * sp = -1)), 6)
               AS blomqvist_beta
    FROM cls
    """,
)
def stats_blomqvist_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blomqvist's β (medial / quadrant correlation) between quantity and
    extended price: classify every lineitem by which quadrant it falls in
    around the (median-q, median-p) point, then
    β = (concordant − discordant)/(concordant + discordant). The cheapest
    robust dependence screen — one counting pass after two order
    statistics, immune to any monotone transform of either margin and to
    outliers that would swamp Pearson r (``stats_kendall_tau`` is the
    O(n log n) refinement; β is its O(n) quadrant coarsening). Medians
    are PERCENTILE_DISC (an actual data value, integer-exact on both
    engines — no interpolation float to disagree about); points ON either
    median are counted and excluded from β, the standard convention.

    Scale: one sort-based median per margin + one conditional-count
    aggregate with map-side combine; β itself is 1-row algebra."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        F.floor(F.col("l_extendedprice") * 100.0).cast("long").alias("p"),
    )
    # Round-11 opt pass: percentile_disc is an ImperativeAggregate that
    # buffers every value; the medians are read off cumulative counts
    # instead — PERCENTILE_DISC(0.5) ≡ the smallest value whose running
    # count reaches ceil(n/2), exact in integers on both engines, oracle
    # unchanged. Round-12 opt pass (the winsorized probe machinery): the
    # per-margin near-unique groupBy + checkpoint + full bucketed
    # cumulative were all serving a SINGLE order-statistic probe per
    # margin — replaced by grouped_order_statistics over the margin-
    # tagged raw rows with fixed documented-superset bounds (quantity
    # < 64, cents < 2e7): one bucket-count scan + one target-bucket
    # slice scan, shuffle ∝ bucket cells, no near-unique aggregation and
    # no value-distinct cumulative anywhere (in-session A/B in
    # OPTIMIZATION_r12.md).
    tagged = v.select(
        F.explode(
            F.array(
                F.struct(F.lit("q").alias("m"), F.col("q").alias("val")),
                F.struct(F.lit("p").alias("m"), F.col("p").alias("val")),
            )
        ).alias("t")
    ).select("t.m", "t.val", F.lit(1).alias("c"))
    meds = grouped_order_statistics(
        tagged,
        "m",
        "val",
        "c",
        {"med": lambda n: F.floor((n + 1) / 2).cast("long")},
        bounds={"q": (0.0, 64.0), "p": (0.0, 2e7)},
    )
    med = meds.agg(
        F.max(F.when(F.col("m") == "q", F.col("med"))).alias("mq"),
        F.max(F.when(F.col("m") == "p", F.col("med"))).alias("mp"),
    )
    sq = (
        F.when(F.col("q") > F.col("mq"), 1)
        .when(F.col("q") < F.col("mq"), -1)
        .otherwise(0)
    )
    sp = (
        F.when(F.col("p") > F.col("mp"), 1)
        .when(F.col("p") < F.col("mp"), -1)
        .otherwise(0)
    )
    cls = v.crossJoin(F.broadcast(med)).select(
        sq.alias("sq"), sp.alias("sp")
    )
    conc = F.count_if(F.col("sq") * F.col("sp") == 1).cast("long")
    disc = F.count_if(F.col("sq") * F.col("sp") == -1).cast("long")
    onm = F.count_if((F.col("sq") == 0) | (F.col("sp") == 0)).cast("long")
    return cls.agg(
        conc.alias("concordant"),
        disc.alias("discordant"),
        onm.alias("on_median"),
    ).select(
        "concordant",
        "discordant",
        "on_median",
        F.round(
            (F.col("concordant") - F.col("discordant")).cast("double")
            / (F.col("concordant") + F.col("discordant")),
            6,
        ).alias("blomqvist_beta"),
    )


@register(
    "stats_gk_lambda",
    """
    WITH c AS (
        SELECT o_orderpriority AS pr, o_orderstatus AS st,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1, 2
    ), rowmax AS (
        SELECT CAST(SUM(mx) AS BIGINT) AS srm
        FROM (SELECT pr, MAX(n) AS mx FROM c GROUP BY pr)
    ), colmax AS (
        SELECT CAST(SUM(mx) AS BIGINT) AS scm
        FROM (SELECT st, MAX(n) AS mx FROM c GROUP BY st)
    ), cmarg AS (
        SELECT CAST(MAX(sn) AS BIGINT) AS mc
        FROM (SELECT st, SUM(n) AS sn FROM c GROUP BY st)
    ), rmarg AS (
        SELECT CAST(MAX(sn) AS BIGINT) AS mr
        FROM (SELECT pr, SUM(n) AS sn FROM c GROUP BY pr)
    ), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM c)
    SELECT t AS n_orders,
           ROUND(CAST(srm - mc AS DOUBLE) / (t - mc), 6)
               AS lambda_status_given_priority,
           ROUND(CAST(scm - mr AS DOUBLE) / (t - mr), 6)
               AS lambda_priority_given_status,
           ROUND(CAST(srm + scm - mc - mr AS DOUBLE)
                 / (2 * t - mc - mr), 6) AS lambda_symmetric
    FROM rowmax, colmax, cmarg, rmarg, tot
    """,
)
def stats_gk_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman–Kruskal λ over the priority × status contingency table —
    the PRE (proportional reduction in error) association measure the
    χ²/Cramér's V family cannot give: "knowing the order's priority, by
    what fraction do errors predicting its status drop vs always guessing
    the modal status?" λ_c|r = (Σ_row max − max column marginal)/(N − max
    column marginal), its transpose, and the symmetric average. Unlike V,
    λ = 0 has an operational meaning (the predictor is useless) and λ is
    asymmetric — the two directions genuinely differ. Every term is an
    exact integer count; only the final three ratios are doubles.

    Scale: one partial→final count to the ≤15-cell grid, then
    metadata-sized max/sum folds."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy(
        F.col("o_orderpriority").alias("pr"),
        F.col("o_orderstatus").alias("st"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    rowmax = (
        c.groupBy("pr")
        .agg(F.max("n").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("srm"))
    )
    colmax = (
        c.groupBy("st")
        .agg(F.max("n").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("scm"))
    )
    cmarg = (
        c.groupBy("st")
        .agg(F.sum("n").alias("sn"))
        .agg(F.max("sn").cast("long").alias("mc"))
    )
    rmarg = (
        c.groupBy("pr")
        .agg(F.sum("n").alias("sn"))
        .agg(F.max("sn").cast("long").alias("mr"))
    )
    tot = c.agg(F.sum("n").cast("long").alias("t"))
    fin = (
        rowmax.crossJoin(F.broadcast(colmax))
        .crossJoin(F.broadcast(cmarg))
        .crossJoin(F.broadcast(rmarg))
        .crossJoin(F.broadcast(tot))
    )
    t, srm, scm, mc, mr = (F.col(x) for x in ("t", "srm", "scm", "mc", "mr"))
    return fin.select(
        t.alias("n_orders"),
        F.round((srm - mc).cast("double") / (t - mc), 6).alias(
            "lambda_status_given_priority"
        ),
        F.round((scm - mr).cast("double") / (t - mr), 6).alias(
            "lambda_priority_given_status"
        ),
        F.round(
            (srm + scm - mc - mr).cast("double") / (2 * t - mc - mr), 6
        ).alias("lambda_symmetric"),
    )


def _holm_sql() -> str:
    phi_abs = sql_norm_cdf("ABS(z)")
    return f"""
    WITH seg AS (
        SELECT c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS ns,
               CAST(SUM(CAST(FLOOR(c_acctbal * 100.0) AS BIGINT))
                    AS HUGEINT) AS s1,
               CAST(SUM(CAST(FLOOR(c_acctbal * 100.0) AS HUGEINT)
                        * CAST(FLOOR(c_acctbal * 100.0) AS BIGINT))
                    AS HUGEINT) AS s2
        FROM customer GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(ns) AS BIGINT) AS n,
               CAST(SUM(s1) AS HUGEINT) AS g1,
               CAST(SUM(s2) AS HUGEINT) AS g2,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM seg
    ), z AS (
        SELECT segment, k,
               ((CAST(s1 AS DOUBLE) / ns)
                - (CAST(g1 - s1 AS DOUBLE) / (n - ns)))
               / SQRT(((CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / ns)
                       / (ns - 1)) / ns
                      + ((CAST(g2 - s2 AS DOUBLE)
                          - CAST(g1 - s1 AS DOUBLE)
                            * CAST(g1 - s1 AS DOUBLE) / (n - ns))
                         / (n - ns - 1)) / (n - ns)) AS z
        FROM seg, tot
    ), p AS (
        SELECT segment, k, 2.0 * (1.0 - {phi_abs}) AS p FROM z
    ), ranked AS (
        SELECT segment, p, k,
               ROW_NUMBER() OVER (ORDER BY p, segment) AS i
        FROM p
    ), holm AS (
        SELECT segment, p,
               MAX(LEAST((k - i + 1) * p, 1.0))
                   OVER (ORDER BY p, segment ROWS UNBOUNDED PRECEDING)
                   AS p_holm
        FROM ranked
    )
    SELECT segment, ROUND(p, 6) AS p_raw, ROUND(p_holm, 6) AS p_holm,
           CAST(CASE WHEN p_holm < 0.05 THEN 1 ELSE 0 END AS INT)
               AS reject_5pct
    FROM holm ORDER BY segment
    """


@register("stats_holm_bonferroni", _holm_sql())
def stats_holm_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm step-down multiple-testing correction over the family of five
    per-segment Welch z-tests (segment account balance vs the complement):
    sort raw p ascending, multiply the i-th by (k−i+1), enforce
    monotonicity with a running max, cap at 1. Controls FWER at any
    dependence — the step-DOWN counterpart to the step-UP
    ``stats_bh_fdr`` (which controls the weaker FDR); together they are
    the two corrections every metrics dashboard needs. Sufficient stats
    are exact 128-bit integer moments; each complement's mean/variance is
    derived by subtraction from the global fold, so the whole family
    costs ONE aggregation pass. Φ from the shared engine-mirrored erf.

    Scale: one partial→final grouped aggregate; the step-down window
    runs over the k-row family frame (k = |segments|, metadata-sized —
    measured in WINDOW_AUDIT.json)."""
    cust = load_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100.0).cast("long")
    seg = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("long").alias("ns"),
        F.sum(cents).cast("decimal(38,0)").alias("s1"),
        F.sum(cents.cast("decimal(38,0)") * cents).alias("s2"),
    )
    tot = seg.agg(
        F.sum("ns").cast("long").alias("n"),
        F.sum("s1").cast("decimal(38,0)").alias("g1"),
        F.sum("s2").cast("decimal(38,0)").alias("g2"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    j = seg.crossJoin(F.broadcast(tot))
    ns, n = F.col("ns"), F.col("n")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    c1d = (F.col("g1") - F.col("s1")).cast("double")
    c2d = (F.col("g2") - F.col("s2")).cast("double")
    nc = n - ns
    v1 = (s2d - s1d * s1d / ns) / (ns - 1)
    v2 = (c2d - c1d * c1d / nc) / (nc - 1)
    z = (s1d / ns - c1d / nc) / F.sqrt(v1 / ns + v2 / nc)
    p = j.select(
        "segment",
        "k",
        (2.0 * (1.0 - norm_cdf(F.abs(z)))).alias("p"),
    )
    w_rank = Window.orderBy("p", "segment")
    ranked = p.select(
        "segment", "p", "k", F.row_number().over(w_rank).alias("i")
    )
    stepd = F.least(
        (F.col("k") - F.col("i") + 1) * F.col("p"), F.lit(1.0)
    )
    holm = ranked.select(
        "segment",
        "p",
        F.max(stepd)
        .over(w_rank.rowsBetween(Window.unboundedPreceding, 0))
        .alias("p_holm"),
    )
    return holm.select(
        "segment",
        F.round("p", 6).alias("p_raw"),
        F.round("p_holm", 6).alias("p_holm"),
        F.when(F.col("p_holm") < 0.05, 1)
        .otherwise(0)
        .cast("int")
        .alias("reject_5pct"),
    ).orderBy("segment")


@register(
    "stats_hartley_cochran",
    """
    WITH g AS (
        SELECT o_orderpriority AS pr,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
                    AS HUGEINT) AS s1,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS HUGEINT)
                        * CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
                    AS HUGEINT) AS s2
        FROM orders GROUP BY 1
    ), v AS (
        SELECT pr, n,
               (CAST(s2 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)
                   AS s2v
        FROM g
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
           CAST(MIN(n) AS BIGINT) AS n_min,
           CAST(MAX(n) AS BIGINT) AS n_max,
           MAX_BY(pr, s2v) AS group_max_var,
           ROUND(MAX(s2v) / MIN(s2v), 4) AS hartley_fmax,
           ROUND(MAX(s2v) / (CAST(SUM(CAST(FLOOR(s2v) AS HUGEINT))
                                  AS DOUBLE)
                             + CAST(SUM(CAST(FLOOR((s2v - FLOOR(s2v))
                                                   * 1e6) AS BIGINT))
                                    AS DOUBLE) / 1e6), 6) AS cochran_c
    FROM v
    """,
)
def stats_hartley_cochran(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hartley's F_max and Cochran's C — the two classical quick screens
    for variance heterogeneity across the five order-priority groups
    (order totals, cents): F_max = s²_max/s²_min flags ANY imbalance,
    C = s²_max/Σs² asks whether ONE group dominates the pooled variance —
    the pre-ANOVA diagnostics that decide between ``stats_anova_oneway``
    and ``stats_anova_welch`` (Levene/Bartlett/Fligner are the formal
    tests; these are the ones read off a summary table). Group variances
    come from exact 128-bit integer moments; the cross-group sum splits
    each s² into integer and fractional parts, both floor-quantized, so
    the fold is summation-order-independent (the max/min/argmax folds
    are order-free by construction).

    Scale: one partial→final grouped aggregate, then a 5-row fold."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0).cast("long")
    g = orders.groupBy(F.col("o_orderpriority").alias("pr")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents).cast("decimal(38,0)").alias("s1"),
        F.sum(cents.cast("decimal(38,0)") * cents).alias("s2"),
    )
    n = F.col("n")
    s2v = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / n
    ) / (n - 1)
    v = g.select("pr", "n", s2v.alias("s2v"))
    int_part = F.sum(F.floor("s2v").cast("decimal(38,0)")).cast("double")
    frac_part = (
        F.sum(
            F.floor((F.col("s2v") - F.floor("s2v")) * 1e6).cast("long")
        ).cast("double")
        / 1e6
    )
    return v.agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.min("n").cast("long").alias("n_min"),
        F.max("n").cast("long").alias("n_max"),
        F.expr("max_by(pr, s2v)").alias("group_max_var"),
        F.round(F.max("s2v") / F.min("s2v"), 4).alias("hartley_fmax"),
        F.round(F.max("s2v") / (int_part + frac_part), 6).alias(
            "cochran_c"
        ),
    )


@register(
    "stats_woolf_test",
    """
    WITH v AS (
        SELECT date_part('year', l_shipdate) AS yr,
               CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS exposed,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS outcome
        FROM lineitem WHERE l_returnflag IN ('R', 'A')
    ), strata AS (
        SELECT yr,
               COUNT(*) FILTER (WHERE exposed = 1 AND outcome = 1) + 0.5
                   AS a,
               COUNT(*) FILTER (WHERE exposed = 1 AND outcome = 0) + 0.5
                   AS b,
               COUNT(*) FILTER (WHERE exposed = 0 AND outcome = 1) + 0.5
                   AS c,
               COUNT(*) FILTER (WHERE exposed = 0 AND outcome = 0) + 0.5
                   AS d
        FROM v GROUP BY yr
    ), terms AS (
        SELECT LN(a * d / (b * c)) AS y,
               1.0 / (1.0/a + 1.0/b + 1.0/c + 1.0/d) AS w
        FROM strata
    ), folds AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
               CAST(SUM(CAST(FLOOR(w * 1e9) AS BIGINT)) AS BIGINT) AS wq,
               CAST(SUM(CAST(FLOOR(w * y * 1e9) AS BIGINT)) AS BIGINT)
                   AS wyq,
               CAST(SUM(CAST(FLOOR(w * y * y * 1e9) AS BIGINT)) AS BIGINT)
                   AS wy2q
        FROM terms
    )
    SELECT n_strata, n_strata - 1 AS df,
           ROUND((wyq / 1e9) / (wq / 1e9), 6) AS ln_or_pooled,
           ROUND(wy2q / 1e9 - (wyq / 1e9) * (wyq / 1e9) / (wq / 1e9), 4)
               AS woolf_chi2
    FROM folds
    """,
)
def stats_woolf_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Woolf's test for homogeneity of the odds ratio across ship-year
    strata — the inverse-variance-on-log-OR alternative reading of the
    same question ``stats_breslow_day`` answers on the same 2×2 tables
    (discount ≥ 5% exposure vs R-vs-A returns by year): with Haldane's
    +0.5 in every cell, χ²_W = Σwᵢyᵢ² − (Σwᵢyᵢ)²/Σwᵢ where y = ln OR and
    w = (1/a+1/b+1/c+1/d)⁻¹, ~χ²_{K−1} under a common OR. BD conditions
    on the MH estimate; Woolf weights in log-odds space — when they
    disagree the cells are small and you trust neither, which is itself
    the diagnostic. Per-stratum y and w are deterministic IEEE algebra on
    exact integer cells; the three cross-strata folds are floor-quantized
    at 1e-9 (y can be negative — floor is sign-consistent on both
    engines). Also emits the pooled log-OR Σwy/Σw, Woolf's own common-OR
    estimate.

    Scale: one partial→final aggregate to ≤7 year strata, scalar algebra
    on the stratum frame, a 3-sum fold."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    v = li.select(
        F.year("l_shipdate").alias("yr"),
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("exposed"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("outcome"),
    )
    strata = v.groupBy("yr").agg(
        (
            F.count(
                F.when((F.col("exposed") == 1) & (F.col("outcome") == 1), 1)
            )
            + 0.5
        ).alias("a"),
        (
            F.count(
                F.when((F.col("exposed") == 1) & (F.col("outcome") == 0), 1)
            )
            + 0.5
        ).alias("b"),
        (
            F.count(
                F.when((F.col("exposed") == 0) & (F.col("outcome") == 1), 1)
            )
            + 0.5
        ).alias("c"),
        (
            F.count(
                F.when((F.col("exposed") == 0) & (F.col("outcome") == 0), 1)
            )
            + 0.5
        ).alias("d"),
    )
    a, b, c, d = (F.col(x) for x in "abcd")
    terms = strata.select(
        F.log(a * d / (b * c)).alias("y"),
        (1.0 / (1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)).alias("w"),
    )
    y, w = F.col("y"), F.col("w")
    folds = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum(F.floor(w * 1e9).cast("long")).cast("long").alias("wq"),
        F.sum(F.floor(w * y * 1e9).cast("long")).cast("long").alias("wyq"),
        F.sum(F.floor(w * y * y * 1e9).cast("long"))
        .cast("long")
        .alias("wy2q"),
    )
    return folds.select(
        "n_strata",
        (F.col("n_strata") - 1).alias("df"),
        F.round((F.col("wyq") / 1e9) / (F.col("wq") / 1e9), 6).alias(
            "ln_or_pooled"
        ),
        F.round(
            F.col("wy2q") / 1e9
            - (F.col("wyq") / 1e9) * (F.col("wyq") / 1e9) / (F.col("wq") / 1e9),
            4,
        ).alias("woolf_chi2"),
    )


def _platt_sums_sql(par: str) -> str:
    p = f"(1.0 / (1.0 + EXP(-({par}.a * d.f + {par}.b))))"
    return f"""
        SELECT MAX({par}.a) AS a0, MAX({par}.b) AS b0,
               CAST(SUM(CAST(FLOOR(({p} - d.y) * d.f * 1e6) AS BIGINT))
                    AS BIGINT) / 1e6 AS g1,
               CAST(SUM(CAST(FLOOR(({p} - d.y) * 1e6) AS BIGINT))
                    AS BIGINT) / 1e6 AS g2,
               CAST(SUM(CAST(FLOOR({p} * (1.0 - {p}) * d.f * d.f * 1e6)
                             AS BIGINT)) AS BIGINT) / 1e6 AS h11,
               CAST(SUM(CAST(FLOOR({p} * (1.0 - {p}) * d.f * 1e6)
                             AS BIGINT)) AS BIGINT) / 1e6 AS h12,
               CAST(SUM(CAST(FLOOR({p} * (1.0 - {p}) * 1e6) AS BIGINT))
                    AS BIGINT) / 1e6 AS h22
        FROM d, {par}
    """


_PLATT_STEP_SQL = """
    SELECT FLOOR((a0 - (h22 * g1 - h12 * g2)
                  / (h11 * h22 - h12 * h12)) * 1e9) / 1e9 AS a,
           FLOOR((b0 - (h11 * g2 - h12 * g1)
                  / (h11 * h22 - h12 * h12)) * 1e9) / 1e9 AS b
    FROM {src}
"""


def _platt_sql() -> str:
    pcal = "(1.0 / (1.0 + EXP(-(it2.a * d.f + it2.b))))"
    return f"""
    WITH d AS (
        SELECT LEAST(value / 500.0, 1.0) AS f,
               CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
        FROM events
    ), it0 AS (SELECT 1.0 AS a, 0.0 AS b),
    s1 AS ({_platt_sums_sql('it0')}),
    it1 AS ({_PLATT_STEP_SQL.format(src='s1')}),
    s2 AS ({_platt_sums_sql('it1')}),
    it2 AS ({_PLATT_STEP_SQL.format(src='s2')})
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MAX(it2.a), 6) AS a_hat,
           ROUND(MAX(it2.b), 6) AS b_hat,
           ROUND(CAST(SUM(CAST(FLOOR((d.f - d.y) * (d.f - d.y) * 1e6)
                                AS BIGINT)) AS BIGINT)
                 / 1e6 / COUNT(*), 6) AS brier_raw,
           ROUND(CAST(SUM(CAST(FLOOR(({pcal} - d.y) * ({pcal} - d.y)
                                     * 1e6) AS BIGINT)) AS BIGINT)
                 / 1e6 / COUNT(*), 6) AS brier_platt
    FROM d, it2
    """


@register("ml_platt_scaling", _platt_sql())
def ml_platt_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt scaling (Platt '99): recalibrate the value/500 forecast
    (``ml_brier_score``'s probability) through σ(a·f + b), with (a, b)
    fit by TWO unrolled Newton–Raphson steps on the logistic
    log-likelihood from (a,b)=(1,0) — the parametric counterpart to
    ``ml_isotonic_calibration`` (PAVA), and the standard fix when a
    classifier's scores are systematically over/under-confident. Each
    Newton step is ONE aggregation pass: gradient and 2×2 Hessian
    reduce as five floor-quantized sums, the Hessian inverts in closed
    form, and the updated (a, b) re-enter the next pass as a quantized
    1-row broadcast (same bounded-unroll shape as
    ``ml_poisson_mixture_em``). Emits the fitted map and the Brier
    score before/after — the after must not be worse on calibrated
    data, and on this fixture's miscalibrated linear forecast it
    improves.

    Scale: three aggregation passes over the scored frame (two Newton,
    one evaluation), all map-side combined; everything between passes is
    1-row algebra."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        F.least(F.col("value") / 500.0, F.lit(1.0)).alias("f"),
        F.when(F.col("event_type") == "purchase", 1.0)
        .otherwise(0.0)
        .alias("y"),
    )

    def q6(c):
        return F.sum(F.floor(c * 1e6).cast("long")).cast("long") / 1e6

    params = spark.createDataFrame([(1.0, 0.0)], "a double, b double")
    for _ in range(2):
        pr = 1.0 / (
            1.0 + F.exp(-(F.col("a") * F.col("f") + F.col("b")))
        )
        w = pr * (1.0 - pr)
        s = d.crossJoin(F.broadcast(params)).agg(
            F.max("a").alias("a0"),
            F.max("b").alias("b0"),
            q6((pr - F.col("y")) * F.col("f")).alias("g1"),
            q6(pr - F.col("y")).alias("g2"),
            q6(w * F.col("f") * F.col("f")).alias("h11"),
            q6(w * F.col("f")).alias("h12"),
            q6(w).alias("h22"),
        )
        det = (
            F.col("h11") * F.col("h22") - F.col("h12") * F.col("h12")
        )
        params = s.select(
            (
                F.floor(
                    (
                        F.col("a0")
                        - (F.col("h22") * F.col("g1") - F.col("h12") * F.col("g2"))
                        / det
                    )
                    * 1e9
                )
                / 1e9
            ).alias("a"),
            (
                F.floor(
                    (
                        F.col("b0")
                        - (F.col("h11") * F.col("g2") - F.col("h12") * F.col("g1"))
                        / det
                    )
                    * 1e9
                )
                / 1e9
            ).alias("b"),
        )
    pcal = 1.0 / (1.0 + F.exp(-(F.col("a") * F.col("f") + F.col("b"))))
    return d.crossJoin(F.broadcast(params)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.max("a"), 6).alias("a_hat"),
        F.round(F.max("b"), 6).alias("b_hat"),
        F.round(
            q6((F.col("f") - F.col("y")) * (F.col("f") - F.col("y")))
            / F.count(F.lit(1)),
            6,
        ).alias("brier_raw"),
        F.round(
            q6((pcal - F.col("y")) * (pcal - F.col("y")))
            / F.count(F.lit(1)),
            6,
        ).alias("brier_platt"),
    )


def _cuzick_sql() -> str:
    zc = "((t_obs - e_t) / SQRT(var_t))"
    phi = sql_norm_cdf(f"ABS({zc})")
    return f"""
    WITH x AS (
        SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS s,
               CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS v
        FROM orders
    ), vg AS (
        SELECT v, s, CAST(COUNT(*) AS BIGINT) AS n FROM x GROUP BY 1, 2
    ), vt AS (
        SELECT v, CAST(SUM(n) AS BIGINT) AS t FROM vg GROUP BY v
    ), rk AS (
        SELECT v, t,
               SUM(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f
        FROM vt
    ), rj AS (
        SELECT g.s, CAST(SUM(g.n) AS BIGINT) AS n_g,
               SUM(g.n * (r.f - r.t + (r.t + 1) / 2.0)) AS r_g
        FROM vg g JOIN rk r ON g.v = r.v GROUP BY g.s
    ), folds AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n,
               SUM(s * r_g) AS t_obs,
               CAST(SUM(s * n_g) AS BIGINT) AS l1,
               CAST(SUM(CAST(s AS BIGINT) * s * n_g) AS BIGINT) AS q1
        FROM rj
    ), ties AS (
        SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie3 FROM vt
    ), zc AS (
        SELECT f.n, f.t_obs,
               f.l1 * (f.n + 1) / 2.0 AS e_t,
               (f.n + 1.0) / 12.0
               * (CAST(f.n AS DOUBLE) * f.q1
                  - CAST(f.l1 AS DOUBLE) * f.l1)
               * (1.0 - CAST(t.tie3 AS DOUBLE)
                  / (CAST(f.n AS DOUBLE) * f.n * f.n - f.n)) AS var_t
        FROM folds f, ties t
    )
    SELECT n AS n_orders,
           ROUND({zc}, 4) AS z,
           ROUND(2.0 * (1.0 - {phi}), 6) AS p_two_sided
    FROM zc
    """


@register("stats_cuzick_trend", _cuzick_sql())
def stats_cuzick_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cuzick's nonparametric test for TREND across ordered groups
    (Cuzick '85): do order totals drift monotonically across the five
    priority levels (scores 1=URGENT … 5=LOW)? T = Σ s_g·R_g over
    average ranks, z = (T − L(N+1)/2)/√Var with the Wilcoxon-style
    tie-corrected variance (N+1)/12·(N·Q − L²)·(1 − Σ(t³−t)/(N³−N)).
    The score-weighted refinement of ``stats_jonckheere`` (which only
    uses the ordering, not the spacing) — the two disagree exactly when
    the trend is non-uniform across levels. Average ranks are exact
    half-integers from the grouped-by-value rank algebra (same machinery
    as ``stats_kruskal_wallis``), so every fold is exact; the cumulative
    rank pass runs on the bucketed two-level ``with_global_order``, no
    single-partition window.

    Scale: one shuffle ∝ distinct values, the bucketed prefix-sum, a
    5-row score fold."""
    orders = load_table(spark, sf_dir, "orders")
    x = orders.select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("s"),
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("v"),
    )
    vg = x.groupBy("v", "s").agg(F.count(F.lit(1)).cast("long").alias("n"))
    vt = vg.groupBy("v").agg(F.sum("n").cast("long").alias("t"))
    rk = with_global_order(vt, "v", cumsums={"f": "t"}).select(
        "v", "t", "f"
    )
    avg_rank = F.col("f") - F.col("t") + (F.col("t") + 1) / F.lit(2.0)
    rj = (
        vg.join(rk, "v")
        .groupBy("s")
        .agg(
            F.sum("n").cast("long").alias("n_g"),
            F.sum(F.col("n") * avg_rank).alias("r_g"),
        )
    )
    folds = rj.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum(F.col("s") * F.col("r_g")).alias("t_obs"),
        F.sum(F.col("s") * F.col("n_g")).cast("long").alias("l1"),
        F.sum(F.col("s").cast("long") * F.col("s") * F.col("n_g"))
        .cast("long")
        .alias("q1"),
    )
    ties = vt.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie3")
    )
    n = F.col("n")
    e_t = F.col("l1") * (n + 1) / 2.0
    var_t = (
        (n + 1.0)
        / 12.0
        * (n.cast("double") * F.col("q1") - F.col("l1").cast("double") * F.col("l1"))
        * (
            1.0
            - F.col("tie3").cast("double")
            / (n.cast("double") * n * n - n)
        )
    )
    z = (F.col("t_obs") - e_t) / F.sqrt(var_t)
    return folds.crossJoin(F.broadcast(ties)).select(
        n.alias("n_orders"),
        F.round(z, 4).alias("z"),
        F.round(2.0 * (1.0 - norm_cdf(F.abs(z))), 6).alias("p_two_sided"),
    )


def _fisher_z_sql() -> str:
    zd = "((d.z96 - d.z97) / SQRT(1.0 / (d.n96 - 3.0) + 1.0 / (d.n97 - 3.0)))"
    phi = sql_norm_cdf(f"ABS({zd})")
    return f"""
    WITH pts AS (
        SELECT date_part('year', l_shipdate) AS yr,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS y
        FROM lineitem WHERE date_part('year', l_shipdate) IN (1996, 1997)
    ), m AS (
        SELECT yr, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM pts GROUP BY yr
    ), r AS (
        SELECT yr, n,
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
               / SQRT((CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                      * (CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n))
                   AS r
        FROM m
    ), z AS (
        SELECT yr, n, r, 0.5 * LN((1.0 + r) / (1.0 - r)) AS zr FROM r
    ), d AS (
        SELECT MAX(CASE WHEN yr = 1996 THEN zr END) AS z96,
               MAX(CASE WHEN yr = 1997 THEN zr END) AS z97,
               MAX(CASE WHEN yr = 1996 THEN n END) AS n96,
               MAX(CASE WHEN yr = 1997 THEN n END) AS n97
        FROM z
    )
    SELECT CAST(z.yr AS BIGINT) AS year, z.n,
           ROUND(z.r, 6) AS r,
           ROUND((EXP(2.0 * (z.zr - 1.959964 / SQRT(z.n - 3.0))) - 1.0)
                 / (EXP(2.0 * (z.zr - 1.959964 / SQRT(z.n - 3.0))) + 1.0),
                 6) AS ci_lo,
           ROUND((EXP(2.0 * (z.zr + 1.959964 / SQRT(z.n - 3.0))) - 1.0)
                 / (EXP(2.0 * (z.zr + 1.959964 / SQRT(z.n - 3.0))) + 1.0),
                 6) AS ci_hi,
           ROUND({zd}, 4) AS z_diff,
           ROUND(2.0 * (1.0 - {phi}), 6) AS p_diff
    FROM z, d ORDER BY year
    """


@register("stats_fisher_z_corr", _fisher_z_sql())
def stats_fisher_z_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher z machinery for Pearson correlations: the quantity–price
    correlation per ship year (1996 vs 1997), each with its
    variance-stabilized 95% CI tanh(atanh r ± 1.96/√(n−3)), plus the
    two-sample test for whether the TWO correlations differ —
    Z = (z₁−z₂)/√(1/(n₁−3)+1/(n₂−3)), the question the raw r's overlap
    can't answer (CIs on r are asymmetric; the z transform is what makes
    them comparable). Correlations come from exact 128-bit integer
    moments in ONE grouped pass; atanh is spelled ½ln((1+r)/(1−r)) and
    tanh as (e²ˣ−1)/(e²ˣ+1) on both engines (no libm atanh/tanh
    dependency — DuckDB 1.0 has neither), Φ from the shared
    engine-mirrored erf.

    Scale: one partial→final grouped aggregate over the pruned two-year
    scan; everything after is 2-row algebra."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(1996, 1997)
    )
    pts = li.select(
        F.year("l_shipdate").alias("yr"),
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100.0).cast("long").alias("y"),
    )
    m = pts.groupBy("yr").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    r_expr = (F.col("sxy").cast("double") - sx * sy / n) / F.sqrt(
        (F.col("sxx").cast("double") - sx * sx / n)
        * (F.col("syy").cast("double") - sy * sy / n)
    )
    z = m.select(
        "yr",
        "n",
        r_expr.alias("r"),
        (0.5 * F.log((1.0 + r_expr) / (1.0 - r_expr))).alias("zr"),
    )
    d = z.agg(
        F.max(F.when(F.col("yr") == 1996, F.col("zr"))).alias("z96"),
        F.max(F.when(F.col("yr") == 1997, F.col("zr"))).alias("z97"),
        F.max(F.when(F.col("yr") == 1996, F.col("n"))).alias("n96"),
        F.max(F.when(F.col("yr") == 1997, F.col("n"))).alias("n97"),
    )
    zd = (F.col("z96") - F.col("z97")) / F.sqrt(
        1.0 / (F.col("n96") - 3.0) + 1.0 / (F.col("n97") - 3.0)
    )
    return (
        z.crossJoin(F.broadcast(d))
        .select(
            F.col("yr").cast("long").alias("year"),
            "n",
            F.round("r", 6).alias("r"),
            F.round(
                (F.exp(2.0 * (F.col("zr") - 1.959964 / F.sqrt(n - 3.0))) - 1.0)
                / (F.exp(2.0 * (F.col("zr") - 1.959964 / F.sqrt(n - 3.0))) + 1.0),
                6,
            ).alias("ci_lo"),
            F.round(
                (F.exp(2.0 * (F.col("zr") + 1.959964 / F.sqrt(n - 3.0))) - 1.0)
                / (F.exp(2.0 * (F.col("zr") + 1.959964 / F.sqrt(n - 3.0))) + 1.0),
                6,
            ).alias("ci_hi"),
            F.round(zd, 4).alias("z_diff"),
            F.round(2.0 * (1.0 - norm_cdf(F.abs(zd))), 6).alias("p_diff"),
        )
        .orderBy("year")
    )


@register(
    "stats_ancova",
    """
    WITH d AS (
        SELECT l_returnflag AS g,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS y
        FROM lineitem
    ), m AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM d GROUP BY g
    ), w AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS nt,
               CAST(SUM(sx) AS DOUBLE) AS tx,
               CAST(SUM(sy) AS DOUBLE) AS ty,
               CAST(SUM(sxy) AS DOUBLE) AS txy,
               CAST(SUM(sxx) AS DOUBLE) AS txx,
               CAST(SUM(syy) AS DOUBLE) AS tyy,
               CAST(SUM(CAST(FLOOR((CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) * 1e4)
                    AS HUGEINT)) AS DOUBLE) / 1e4 AS wxx,
               CAST(SUM(CAST(FLOOR((CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) * 1e2)
                    AS HUGEINT)) AS DOUBLE) / 1e2 AS wxy,
               CAST(SUM(CAST(FLOOR(CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
                    AS HUGEINT)) AS DOUBLE) AS wyy
        FROM m
    ), f AS (
        SELECT k, nt, wxy / wxx AS bw,
               wyy - wxy * wxy / wxx AS sse_full,
               (tyy - ty * ty / nt)
               - (txy - tx * ty / nt) * (txy - tx * ty / nt)
                 / (txx - tx * tx / nt) AS sse_red,
               tx / nt AS xbar
        FROM w
    )
    SELECT m.g AS return_flag, m.n,
           ROUND((CAST(m.sy AS DOUBLE) / m.n
                  - f.bw * (CAST(m.sx AS DOUBLE) / m.n - f.xbar))
                 / 100.0, 2) AS adj_mean_price,
           ROUND(f.bw / 100.0, 6) AS common_slope,
           ROUND(((f.sse_red - f.sse_full) / (f.k - 1))
                 / (f.sse_full / (f.nt - f.k - 1)), 4) AS f_stat,
           CAST(f.k - 1 AS BIGINT) AS df1,
           CAST(f.nt - f.k - 1 AS BIGINT) AS df2
    FROM m, f ORDER BY m.g
    """,
)
def stats_ancova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANCOVA: do the return-flag groups differ in extended
    price AFTER adjusting for quantity? The covariate soaks up the
    variance that ``stats_anova_oneway`` would call noise: fit the
    common within-group slope b_w = Sxy_w/Sxx_w, compare the full model
    (groups + covariate) against the reduced (covariate only) by extra
    sum of squares — F = (ΔSSE/(k−1))/(SSE_full/(N−k−1)) — and emit each
    group's ADJUSTED mean ȳ_g − b_w(x̄_g − x̄), the "what would the
    groups cost at equal quantity" number. All five moments fold as
    exact 128-bit integers per group; the within-group corrected sums
    cross the k-row frame floor-quantized at per-fold scales sized to
    keep the BIGINT floor exact (Syy_w is cents²-scale ~1e18).

    Scale: ONE partial→final grouped aggregate over the fact table;
    everything after is k-row algebra."""
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100.0).cast("long").alias("y"),
    )
    m = d.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    n = F.col("n")

    def corr_q(ss, s1, s2, scale):
        # Spark's FLOOR(double) returns BIGINT, so the quantization scale
        # must keep |value|*scale under 2^63 — sized per fold: Sxx_w
        # (~1e8 at sf0.1) at 1e4, Sxy_w (~1e11) at 1e2, Syy_w (~1e18,
        # cents^2) at 1e0; each keeps >=7 significant digits of headroom
        # while the fold stays an exact integer sum on both engines.
        val = (
            F.col(ss).cast("double")
            - F.col(s1).cast("double") * F.col(s2).cast("double") / n
        )
        q = F.floor(val * scale) if scale != 1 else F.floor(val)
        return (
            F.sum(q.cast("decimal(38,0)")).cast("double") / scale
        )

    w = m.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nt"),
        F.sum("sx").cast("double").alias("tx"),
        F.sum("sy").cast("double").alias("ty"),
        F.sum("sxy").cast("double").alias("txy"),
        F.sum("sxx").cast("double").alias("txx"),
        F.sum("syy").cast("double").alias("tyy"),
        corr_q("sxx", "sx", "sx", 1e4).alias("wxx"),
        corr_q("sxy", "sx", "sy", 1e2).alias("wxy"),
        corr_q("syy", "sy", "sy", 1).alias("wyy"),
    )
    nt = F.col("nt")
    f = w.select(
        "k",
        "nt",
        (F.col("wxy") / F.col("wxx")).alias("bw"),
        (F.col("wyy") - F.col("wxy") * F.col("wxy") / F.col("wxx")).alias(
            "sse_full"
        ),
        (
            (F.col("tyy") - F.col("ty") * F.col("ty") / nt)
            - (F.col("txy") - F.col("tx") * F.col("ty") / nt)
            * (F.col("txy") - F.col("tx") * F.col("ty") / nt)
            / (F.col("txx") - F.col("tx") * F.col("tx") / nt)
        ).alias("sse_red"),
        (F.col("tx") / nt).alias("xbar"),
    )
    j = m.crossJoin(F.broadcast(f))
    fstat = ((F.col("sse_red") - F.col("sse_full")) / (F.col("k") - 1)) / (
        F.col("sse_full") / (F.col("nt") - F.col("k") - 1)
    )
    return j.select(
        F.col("g").alias("return_flag"),
        "n",
        F.round(
            (
                F.col("sy").cast("double") / n
                - F.col("bw") * (F.col("sx").cast("double") / n - F.col("xbar"))
            )
            / 100.0,
            2,
        ).alias("adj_mean_price"),
        F.round(F.col("bw") / 100.0, 6).alias("common_slope"),
        F.round(fstat, 4).alias("f_stat"),
        (F.col("k") - 1).cast("long").alias("df1"),
        (F.col("nt") - F.col("k") - 1).cast("long").alias("df2"),
    ).orderBy("return_flag")


@register(
    "stats_deming_regression",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CASE WHEN event_type = 'click'
                   THEN CAST(FLOOR(value * 100.0) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                   THEN CAST(FLOOR(value * 100.0) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM daily
    ), c AS (
        SELECT n,
               CAST(sx AS DOUBLE) / n AS xb,
               CAST(sy AS DOUBLE) / n AS yb,
               CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n
                   AS cxx,
               CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n
                   AS cyy,
               CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n
                   AS cxy
        FROM m
    )
    SELECT n AS n_days,
           ROUND((cyy - cxx + SQRT((cyy - cxx) * (cyy - cxx)
                                   + 4.0 * cxy * cxy))
                 / (2.0 * cxy), 6) AS deming_slope,
           ROUND((yb - (cyy - cxx + SQRT((cyy - cxx) * (cyy - cxx)
                                         + 4.0 * cxy * cxy))
                       / (2.0 * cxy) * xb) / 100.0, 2)
               AS deming_intercept,
           ROUND(cxy / cxx, 6) AS ols_slope
    FROM c
    """,
)
def stats_deming_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deming (orthogonal, λ=1) regression of daily purchase value on
    daily click value — the errors-in-BOTH-variables fit: OLS assumes x
    is measured exactly and attenuates the slope toward zero when it
    isn't (both daily totals here are noisy samples of the same latent
    activity); Deming minimizes perpendicular distance instead, slope =
    (S_yy−S_xx+√((S_yy−S_xx)²+4S_xy²))/(2S_xy). Emits the OLS slope
    beside it — the gap IS the attenuation bias, the method-comparison
    diagnostic (Deming is the standard in instrument-agreement studies,
    next to ``stats_bland_altman``). Moments fold as exact 128-bit
    integers over the daily frame; the closed form is 1-row IEEE algebra.

    Scale: one conditional-sum rollup to days (map-side combined), one
    1-row moment fold."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0).cast("long")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", cents).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    c = m.select(
        n,
        (sx / n).alias("xb"),
        (sy / n).alias("yb"),
        (F.col("sxx").cast("double") - sx * sx / n).alias("cxx"),
        (F.col("syy").cast("double") - sy * sy / n).alias("cyy"),
        (F.col("sxy").cast("double") - sx * sy / n).alias("cxy"),
    )
    slope = (
        F.col("cyy")
        - F.col("cxx")
        + F.sqrt(
            (F.col("cyy") - F.col("cxx")) * (F.col("cyy") - F.col("cxx"))
            + 4.0 * F.col("cxy") * F.col("cxy")
        )
    ) / (2.0 * F.col("cxy"))
    return c.select(
        n.alias("n_days"),
        F.round(slope, 6).alias("deming_slope"),
        F.round(
            (F.col("yb") - slope * F.col("xb")) / 100.0, 2
        ).alias("deming_intercept"),
        F.round(F.col("cxy") / F.col("cxx"), 6).alias("ols_slope"),
    )


@register(
    "stats_tukey_nonadditivity",
    """
    WITH cells AS (
        SELECT c.c_mktsegment AS seg, date_part('year', o.o_orderdate) AS yr,
               CAST(FLOOR(CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0)
                                        AS BIGINT)) AS DOUBLE)
                          / COUNT(*) * 1e4) AS BIGINT) AS vq
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ), rows_ AS (
        SELECT seg, CAST(SUM(vq) AS BIGINT) AS rsum,
               CAST(COUNT(*) AS BIGINT) AS rn
        FROM cells GROUP BY seg
    ), cols_ AS (
        SELECT yr, CAST(SUM(vq) AS BIGINT) AS csum,
               CAST(COUNT(*) AS BIGINT) AS cn
        FROM cells GROUP BY yr
    ), g AS (
        SELECT CAST(SUM(vq) AS BIGINT) AS gsum,
               CAST(COUNT(*) AS BIGINT) AS gn
        FROM cells
    ), dev AS (
        SELECT x.vq / 1e6 AS v,
               r.rsum / 1e6 / r.rn - g.gsum / 1e6 / g.gn AS a,
               c.csum / 1e6 / c.cn - g.gsum / 1e6 / g.gn AS b,
               g.gsum / 1e6 / g.gn AS gm
        FROM cells x
        JOIN rows_ r ON x.seg = r.seg
        JOIN cols_ c ON x.yr = c.yr, g
    ), folds AS (
        SELECT CAST(SUM(CAST(FLOOR(v * a * b * 1e2) AS BIGINT))
                    AS BIGINT) / 1e2 AS s_vab,
               CAST(SUM(CAST(FLOOR((v - gm - a - b) * (v - gm - a - b)
                                   * 1e6) AS BIGINT)) AS BIGINT) / 1e6
                   AS ss_resid,
               CAST(COUNT(*) AS BIGINT) AS nc
        FROM dev
    ), effs AS (
        SELECT (SELECT CAST(SUM(CAST(FLOOR(POW(rsum / 1e6 / rn
                    - (SELECT gsum / 1e6 / gn FROM g), 2) * 1e6)
                    AS BIGINT)) AS BIGINT) / 1e6 FROM rows_) AS sa2,
               (SELECT CAST(SUM(CAST(FLOOR(POW(csum / 1e6 / cn
                    - (SELECT gsum / 1e6 / gn FROM g), 2) * 1e6)
                    AS BIGINT)) AS BIGINT) / 1e6 FROM cols_) AS sb2,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM rows_) AS r,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM cols_) AS c
    )
    SELECT e.r AS n_rows, e.c AS n_cols,
           ROUND(f.s_vab * f.s_vab / (e.sa2 * e.sb2), 4) AS ss_nonadd,
           ROUND(f.ss_resid, 4) AS ss_resid,
           ROUND((f.s_vab * f.s_vab / (e.sa2 * e.sb2))
                 / ((f.ss_resid - f.s_vab * f.s_vab / (e.sa2 * e.sb2))
                    / ((e.r - 1) * (e.c - 1) - 1)), 4) AS tukey_f,
           CAST((e.r - 1) * (e.c - 1) - 1 AS BIGINT) AS df2
    FROM folds f, effs e
    """,
)
def stats_tukey_nonadditivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey's one-degree-of-freedom test for non-additivity (Tukey '49)
    on the segment × order-year table of mean order values: is the
    two-way layout ADDITIVE (row effect + column effect), or do segments
    respond multiplicatively to year-to-year drift? SS_nonadd =
    (Σᵢⱼ yᵢⱼαᵢβⱼ)²/(Σαᵢ²Σβⱼ²) carved out of the interaction residual,
    F₁,(r−1)(c−1)−1 — the test that says whether ``agg_median_polish``'s
    additive decomposition (same table, robust fit) is even the right
    model, and whether a log transform is needed before ANOVA. Cell
    means are floor-quantized to a 1e-6-dollar grid FIRST (exact integer
    sums/counts underneath), so row/column/grand effects are exact
    integer-sum ÷ count doubles, identical on both engines; the three
    cross-cell folds are floor-quantized at scales sized to the 35-cell
    frame.

    Scale: one grouped aggregate to the r×c cell grid (map-side
    combined) after an equi-join to the dimension; everything after is
    metadata-sized algebra."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cells = (
        orders.join(
            cust, orders.o_custkey == cust.c_custkey
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(
            F.floor(
                F.sum(
                    F.floor(F.col("o_totalprice") * 100.0).cast("long")
                ).cast("double")
                / F.count(F.lit(1))
                * 1e4
            )
            .cast("long")
            .alias("vq")
        )
    )
    rows_ = cells.groupBy("seg").agg(
        F.sum("vq").cast("long").alias("rsum"),
        F.count(F.lit(1)).cast("long").alias("rn"),
    )
    cols_ = cells.groupBy("yr").agg(
        F.sum("vq").cast("long").alias("csum"),
        F.count(F.lit(1)).cast("long").alias("cn"),
    )
    g = cells.agg(
        F.sum("vq").cast("long").alias("gsum"),
        F.count(F.lit(1)).cast("long").alias("gn"),
    )
    gm = F.col("gsum") / 1e6 / F.col("gn")
    dev = (
        cells.join(F.broadcast(rows_), "seg")
        .join(F.broadcast(cols_), "yr")
        .crossJoin(F.broadcast(g))
        .select(
            (F.col("vq") / 1e6).alias("v"),
            (F.col("rsum") / 1e6 / F.col("rn") - gm).alias("a"),
            (F.col("csum") / 1e6 / F.col("cn") - gm).alias("b"),
            gm.alias("gm"),
        )
    )
    v, a, b = F.col("v"), F.col("a"), F.col("b")
    folds = dev.agg(
        (
            F.sum(F.floor(v * a * b * 1e2).cast("long")).cast("long") / 1e2
        ).alias("s_vab"),
        (
            F.sum(
                F.floor(
                    (v - F.col("gm") - a - b)
                    * (v - F.col("gm") - a - b)
                    * 1e6
                ).cast("long")
            ).cast("long")
            / 1e6
        ).alias("ss_resid"),
    )
    ra = rows_.crossJoin(F.broadcast(g)).agg(
        (
            F.sum(
                F.floor(
                    F.pow(F.col("rsum") / 1e6 / F.col("rn") - gm, 2.0)
                    * 1e6
                ).cast("long")
            ).cast("long")
            / 1e6
        ).alias("sa2"),
        F.count(F.lit(1)).cast("long").alias("r"),
    )
    ca = cols_.crossJoin(F.broadcast(g)).agg(
        (
            F.sum(
                F.floor(
                    F.pow(F.col("csum") / 1e6 / F.col("cn") - gm, 2.0)
                    * 1e6
                ).cast("long")
            ).cast("long")
            / 1e6
        ).alias("sb2"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    fin = folds.crossJoin(F.broadcast(ra)).crossJoin(F.broadcast(ca))
    ss_na = F.col("s_vab") * F.col("s_vab") / (F.col("sa2") * F.col("sb2"))
    df2 = (F.col("r") - 1) * (F.col("c") - 1) - 1
    return fin.select(
        F.col("r").alias("n_rows"),
        F.col("c").alias("n_cols"),
        F.round(ss_na, 4).alias("ss_nonadd"),
        F.round(F.col("ss_resid"), 4).alias("ss_resid"),
        F.round(
            ss_na / ((F.col("ss_resid") - ss_na) / df2), 4
        ).alias("tukey_f"),
        df2.cast("long").alias("df2"),
    )


@register(
    "stats_getis_ord",
    """
    WITH nat AS (
        SELECT n.n_regionkey AS rk, n.n_nationkey AS nk, n.n_name AS name,
               CAST(SUM(CAST(FLOOR(c.c_acctbal * 100.0) AS BIGINT))
                    AS HUGEINT) AS x
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2, 3
    ), reg AS (
        SELECT rk, CAST(SUM(x) AS HUGEINT) AS sr,
               CAST(COUNT(*) AS BIGINT) AS nr
        FROM nat GROUP BY rk
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS s,
               CAST(SUM(x * x) AS HUGEINT) AS q
        FROM nat
    ), z AS (
        SELECT a.name, a.rk,
               (CAST(r.sr AS DOUBLE) - CAST(t.s AS DOUBLE) / t.n * r.nr)
               / (SQRT(CAST(t.q AS DOUBLE) / t.n
                       - (CAST(t.s AS DOUBLE) / t.n)
                         * (CAST(t.s AS DOUBLE) / t.n))
                  * SQRT((CAST(t.n AS DOUBLE) * r.nr - CAST(r.nr AS DOUBLE)
                          * r.nr) / (t.n - 1.0))) AS gi
        FROM nat a JOIN reg r ON a.rk = r.rk, tot t
    )
    SELECT name AS nation, CAST(rk AS BIGINT) AS region_key,
           ROUND(gi, 4) AS gi_star_z,
           CAST(CASE WHEN gi > 1.96 THEN 1 ELSE 0 END AS INT) AS hotspot,
           CAST(CASE WHEN gi < -1.96 THEN 1 ELSE 0 END AS INT)
               AS coldspot
    FROM z ORDER BY nation
    """,
)
def stats_getis_ord(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis–Ord Gi* local hotspot statistic per nation under the
    same-region contiguity weights (self included — the * variant):
    z_i = (Σ_j∈region x_j − x̄·n_r)/(s·√((n·n_r − n_r²)/(n−1))) — WHICH
    nations sit in anomalously rich (or poor) neighborhoods, the local
    drill-down of ``stats_moran_geary``'s single global I (a global
    null can hide offsetting local clusters; Gi* is how you find them).
    Block weights make Σ_j w_ij x_j the region sum — no pair join, same
    collapse as Moran. All moments are exact 128-bit integer folds of
    account-balance cents; each z is one fixed-form IEEE expression per
    nation row.

    Scale: one customer-sized groupBy under a broadcast nation join,
    then 25-row algebra."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    nat = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_regionkey").alias("rk"),
            F.col("n_nationkey").alias("nk"),
            F.col("n_name").alias("name"),
        )
        .agg(
            F.sum(
                F.floor(F.col("c_acctbal") * 100.0).cast("decimal(38,0)")
            ).alias("x")
        )
    )
    reg = nat.groupBy("rk").agg(
        F.sum("x").alias("sr"), F.count(F.lit(1)).cast("long").alias("nr")
    )
    tot = nat.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    )
    n = F.col("n")
    xbar = F.col("s").cast("double") / n
    sd = F.sqrt(
        F.col("q").cast("double") / n - xbar * xbar
    )
    gi = (F.col("sr").cast("double") - xbar * F.col("nr")) / (
        sd
        * F.sqrt(
            (n.cast("double") * F.col("nr") - F.col("nr").cast("double") * F.col("nr"))
            / (n - 1.0)
        )
    )
    return (
        nat.join(F.broadcast(reg), "rk")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("name").alias("nation"),
            F.col("rk").cast("long").alias("region_key"),
            F.round(gi, 4).alias("gi_star_z"),
            F.when(gi > 1.96, 1).otherwise(0).cast("int").alias("hotspot"),
            F.when(gi < -1.96, 1)
            .otherwise(0)
            .cast("int")
            .alias("coldspot"),
        )
        .orderBy("nation")
    )


@register(
    "stats_chow_test",
    """
    WITH pts AS (
        SELECT CASE WHEN date_part('year', l_shipdate) <= 1996
                    THEN 1 ELSE 2 END AS seg,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS y
        FROM lineitem
        WHERE date_part('year', l_shipdate) IN (1996, 1997)
    ), m AS (
        SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM pts GROUP BY seg
    ), sse AS (
        SELECT seg, n,
               (CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
               - POW(CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n, 2)
                 / (CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) AS sse
        FROM m
    ), pool AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(sx) AS DOUBLE) AS sx,
               CAST(SUM(sy) AS DOUBLE) AS sy,
               CAST(SUM(sxy) AS DOUBLE) AS sxy,
               CAST(SUM(sxx) AS DOUBLE) AS sxx,
               CAST(SUM(syy) AS DOUBLE) AS syy
        FROM m
    ), psse AS (
        SELECT n,
               (syy - sy * sy / n)
               - POW(sxy - sx * sy / n, 2) / (sxx - sx * sx / n) AS sse_p
        FROM pool
    ), parts AS (
        SELECT CAST(SUM(CAST(FLOOR(sse) AS HUGEINT)) AS DOUBLE) AS sse_u,
               CAST(SUM(n) AS BIGINT) AS nt,
               COUNT(*) AS n_seg
        FROM sse
    )
    SELECT p.nt AS n_rows,
           ROUND(q.sse_p / 1e8, 4) AS sse_pooled_m,
           ROUND(p.sse_u / 1e8, 4) AS sse_split_m,
           CASE WHEN p.n_seg = 2 THEN
               ROUND(((q.sse_p - p.sse_u) / 2.0)
                     / (p.sse_u / (p.nt - 4.0)), 4)
           ELSE NULL END AS chow_f,
           CAST(2 AS BIGINT) AS df1,
           CAST(p.nt - 4 AS BIGINT) AS df2
    FROM parts p, psse q
    """,
)
def stats_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test for a structural break in the price ~ quantity
    regression at the 1996→1997 boundary: fit the pooled line and the
    two per-period lines, F = ((SSE_pooled − SSE₁ − SSE₂)/k) /
    ((SSE₁+SSE₂)/(n−2k)) with k = 2 parameters — did the RELATIONSHIP
    change, not just the correlation (``stats_fisher_z_corr`` compares
    r's; Chow compares slope+intercept jointly, and a slope can move
    while r stays put). All moments are exact 128-bit integers in one
    grouped pass; per-segment SSEs cross the 2-row frame floored to
    integer cents² (magnitude ~1e18, exact in the BIGINT floor), SSEs
    reported in 1e8-cents² (= dollars²·10⁴) units.

    Scale: one partial→final grouped aggregate over the pruned two-year
    scan; 2-row algebra after."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(1996, 1997)
    )
    pts = li.select(
        F.when(F.year("l_shipdate") <= 1996, 1).otherwise(2).alias("seg"),
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100.0).cast("long").alias("y"),
    )
    m = pts.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sse_expr = (
        F.col("syy").cast("double") - sy * sy / n
    ) - F.pow(F.col("sxy").cast("double") - sx * sy / n, 2.0) / (
        F.col("sxx").cast("double") - sx * sx / n
    )
    sse = m.select("seg", "n", sse_expr.alias("sse"))
    pool = m.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sx").cast("double").alias("sx"),
        F.sum("sy").cast("double").alias("sy"),
        F.sum("sxy").cast("double").alias("sxy"),
        F.sum("sxx").cast("double").alias("sxx"),
        F.sum("syy").cast("double").alias("syy"),
    )
    psse = pool.select(
        "n",
        (
            (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
            - F.pow(
                F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"), 2.0
            )
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        ).alias("sse_p"),
    )
    # SUM(n), not MAX+MIN: on a degenerate one-segment input the latter
    # silently doubles n (and df2); with n_seg carried alongside, a
    # missing break segment yields a NULL chow_f in BOTH engines instead
    # of a fabricated 0 (sse_pooled == sse_split when nothing splits).
    parts = sse.agg(
        F.sum(F.floor("sse").cast("decimal(38,0)"))
        .cast("double")
        .alias("sse_u"),
        F.sum("n").cast("long").alias("nt"),
        F.count(F.lit(1)).alias("n_seg"),
    )
    fin = parts.crossJoin(F.broadcast(psse))
    chow = ((F.col("sse_p") - F.col("sse_u")) / 2.0) / (
        F.col("sse_u") / (F.col("nt") - 4.0)
    )
    return fin.select(
        F.col("nt").alias("n_rows"),
        F.round(F.col("sse_p") / 1e8, 4).alias("sse_pooled_m"),
        F.round(F.col("sse_u") / 1e8, 4).alias("sse_split_m"),
        F.when(F.col("n_seg") == 2, F.round(chow, 4)).alias("chow_f"),
        F.lit(2).cast("long").alias("df1"),
        (F.col("nt") - 4).cast("long").alias("df2"),
    )


_BC_GRID = (
    # (lambda, value-scale qv, square-scale qq) — per-lambda quantization
    # sized so FLOOR(double)->BIGINT stays exact at sf0.1 magnitudes
    (0.0, 1e9, 1e6),
    (0.3333333333333333, 1e8, 1e5),
    (0.5, 1e8, 1e4),
    (1.0, 1e4, 1.0),
    (2.0, 1.0, 1e-4),
)


def _boxcox_sql() -> str:
    branches_t = " ".join(
        f"WHEN l = {lam!r} THEN "
        + ("LN(y)" if lam == 0.0 else f"(POW(y, {lam!r}) - 1.0) / {lam!r}")
        for lam, _, _ in _BC_GRID
    )
    branches_qv = " ".join(
        f"WHEN l = {lam!r} THEN {qv!r}" for lam, qv, _ in _BC_GRID
    )
    branches_qq = " ".join(
        f"WHEN l = {lam!r} THEN {qq!r}" for lam, _, qq in _BC_GRID
    )
    lam_list = ", ".join(repr(lam) for lam, _, _ in _BC_GRID)
    return f"""
    WITH x AS (
        SELECT CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) / 100.0 AS y
        FROM orders
    ), fan AS (
        SELECT y, l.l,
               CASE {branches_t} END AS t,
               CASE {branches_qv} END AS qv,
               CASE {branches_qq} END AS qq
        FROM x CROSS JOIN (SELECT UNNEST([{lam_list}]) AS l) l
    ), agg AS (
        SELECT l, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(t * qv) AS HUGEINT)) AS DOUBLE)
                   / MAX(qv) AS sv,
               CAST(SUM(CAST(FLOOR(t * t * qq) AS HUGEINT)) AS DOUBLE)
                   / MAX(qq) AS sq,
               CAST(SUM(CAST(FLOOR(LN(y) * 1e9) AS BIGINT)) AS DOUBLE)
                   / 1e9 AS sln
        FROM fan GROUP BY l
    ), ll AS (
        SELECT l, n,
               -0.5 * n * LN((sq - sv * sv / n) / n)
               + (l - 1.0) * sln AS loglik
        FROM agg
    ), best AS (SELECT MAX(loglik) AS m FROM ll)
    SELECT ROUND(l, 4) AS lambda, n AS n_orders,
           ROUND(loglik, 2) AS loglik,
           CAST(CASE WHEN loglik = m THEN 1 ELSE 0 END AS INT) AS is_best
    FROM ll, best ORDER BY lambda
    """


@register("stats_box_cox_lambda", _boxcox_sql())
def stats_box_cox_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box–Cox transform selection by profile log-likelihood over the
    λ grid {0, ⅓, ½, 1, 2} on order totals: LL(λ) = −n/2·ln σ̂²(λ) +
    (λ−1)Σln y — which power transform makes the data most normal, the
    decision ``stats_tukey_nonadditivity`` (multiplicative structure)
    and the skewed-revenue ANOVAs hang on (λ=0 ⇒ log, λ=1 ⇒ leave
    alone). One pass: the λ fan-out rides a 5-row cross join, each
    branch's transformed value and square fold at a PER-λ quantization
    scale (the λ=2 branch is 1e10-scale while λ=0 is ~11 — one shared
    scale would either overflow the BIGINT floor or erase the small
    branches); y is snapped to the exact cents grid first so POW sees
    the identical double on both engines.

    Scale: one grouped aggregate over a 5× fan-out of the scan,
    map-side combined; 5-row algebra after."""
    orders = load_table(spark, sf_dir, "orders")
    x = orders.select(
        (F.floor(F.col("o_totalprice") * 100.0).cast("long") / 100.0).alias(
            "y"
        )
    )
    grid = spark.createDataFrame(
        [(lam, qv, qq) for lam, qv, qq in _BC_GRID],
        "l double, qv double, qq double",
    )
    lam = F.col("l")
    t = F.when(lam == 0.0, F.log("y")).otherwise(
        (F.pow("y", lam) - 1.0) / lam
    )
    fan = x.crossJoin(F.broadcast(grid)).select(
        "y", "l", "qv", "qq", t.alias("t")
    )
    agg = fan.groupBy("l").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.sum(
                F.floor(F.col("t") * F.col("qv")).cast("decimal(38,0)")
            ).cast("double")
            / F.max("qv")
        ).alias("sv"),
        (
            F.sum(
                F.floor(F.col("t") * F.col("t") * F.col("qq")).cast(
                    "decimal(38,0)"
                )
            ).cast("double")
            / F.max("qq")
        ).alias("sq"),
        (
            F.sum(F.floor(F.log("y") * 1e9).cast("long")).cast("double")
            / 1e9
        ).alias("sln"),
    )
    n = F.col("n")
    ll = agg.select(
        "l",
        n,
        (
            -0.5 * n * F.log((F.col("sq") - F.col("sv") * F.col("sv") / n) / n)
            + (F.col("l") - 1.0) * F.col("sln")
        ).alias("loglik"),
    )
    best = ll.agg(F.max("loglik").alias("m"))
    return (
        ll.crossJoin(F.broadcast(best))
        .select(
            F.round("l", 4).alias("lambda"),
            n.alias("n_orders"),
            F.round("loglik", 2).alias("loglik"),
            F.when(F.col("loglik") == F.col("m"), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_best"),
        )
        .orderBy("lambda")
    )


@register(
    "stats_cooks_distance",
    """
    WITH pts AS (
        SELECT l_orderkey AS ok, l_linenumber AS ln,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS y
        FROM lineitem
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM pts
    ), fit AS (
        SELECT n,
               CAST(sx AS DOUBLE) / n AS xbar,
               CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n AS cxx,
               (CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
               / (CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) AS b,
               ((CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
                - POW(CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n, 2)
                  / (CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n))
               / (n - 2) AS s2,
               (CAST(sy AS DOUBLE)
                - (CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
                  / (CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                  * CAST(sx AS DOUBLE)) / n AS a
        FROM m
    ), d AS (
        SELECT p.ok, p.ln, p.x, p.y,
               POW(p.y - (f.a + f.b * p.x), 2)
               * (1.0 / f.n + POW(p.x - f.xbar, 2) / f.cxx)
               / (2.0 * f.s2
                  * POW(1.0 - (1.0 / f.n + POW(p.x - f.xbar, 2) / f.cxx),
                        2)) AS cd
        FROM pts p, fit f
    )
    SELECT ok AS orderkey, CAST(ln AS BIGINT) AS linenumber,
           CAST(x AS BIGINT) AS quantity,
           ROUND(y / 100.0, 2) AS price,
           ROUND(cd * 1e6, 4) AS cooks_d_ppm
    FROM d ORDER BY cd DESC, ok, ln LIMIT 10
    """,
)
def stats_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance for the price ~ quantity OLS fit: the ten most
    INFLUENTIAL lineitems — D_i = e_i²hᵢ/(p·s²(1−hᵢ)²) with the
    simple-regression leverage hᵢ = 1/n + (xᵢ−x̄)²/Sxx — the regression
    diagnostic ``ml_linreg`` (the fit) and ``profile_iqr_outliers``
    (marginal outliers) both miss: influence = leverage × residual, and
    a point can be extreme in neither margin yet steer the line. Fit
    and s² come from exact 128-bit moments in one pass, broadcast back;
    each D is a fixed-form per-row expression, identical on both
    engines, so the top-10 (tie-broken on the primary key) is
    deterministic. Reported in parts-per-million (n is large, so
    individual D's are small — it's the RANKING that matters).

    Scale: one moment pass + one broadcast-annotated scan into
    TakeOrderedAndProject — no shuffle of the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100.0).cast("long").alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    cxx = F.col("sxx").cast("double") - sx * sx / n
    b = (F.col("sxy").cast("double") - sx * sy / n) / cxx
    s2 = (
        (F.col("syy").cast("double") - sy * sy / n)
        - F.pow(F.col("sxy").cast("double") - sx * sy / n, 2.0) / cxx
    ) / (n - 2)
    fit = m.select(
        n,
        (sx / n).alias("xbar"),
        cxx.alias("cxx"),
        b.alias("b"),
        s2.alias("s2"),
        ((sy - b * sx) / n).alias("a"),
    )
    d = pts.crossJoin(F.broadcast(fit))
    h = 1.0 / F.col("n") + F.pow(F.col("x") - F.col("xbar"), 2.0) / F.col(
        "cxx"
    )
    cd = (
        F.pow(F.col("y") - (F.col("a") + F.col("b") * F.col("x")), 2.0)
        * h
        / (2.0 * F.col("s2") * F.pow(1.0 - h, 2.0))
    )
    return (
        d.select(
            F.col("ok").alias("orderkey"),
            F.col("ln").cast("long").alias("linenumber"),
            F.col("x").cast("long").alias("quantity"),
            F.round(F.col("y") / 100.0, 2).alias("price"),
            F.round(cd * 1e6, 4).alias("cooks_d_ppm"),
            cd.alias("_cd"),
        )
        .orderBy(F.desc("_cd"), "orderkey", "linenumber")
        .limit(10)
        .drop("_cd")
    )


def _huber_wsums_sql(par: str) -> str:
    e = f"(d.y - ({par}.a + {par}.b * d.x))"
    w = f"LEAST(1.0, {par}.k / ABS({e}))"
    return f"""
        SELECT MAX({par}.k) AS k,
               CAST(SUM(CAST(FLOOR({w} * 1e9) AS HUGEINT)) AS DOUBLE)
                   / 1e9 AS sw,
               CAST(SUM(CAST(FLOOR({w} * d.x * 1e8) AS HUGEINT)) AS DOUBLE)
                   / 1e8 AS swx,
               CAST(SUM(CAST(FLOOR({w} * d.y * 1e4) AS HUGEINT)) AS DOUBLE)
                   / 1e4 AS swy,
               CAST(SUM(CAST(FLOOR({w} * d.x * d.y * 1e2) AS HUGEINT))
                    AS DOUBLE) / 1e2 AS swxy,
               CAST(SUM(CAST(FLOOR({w} * d.x * d.x * 1e6) AS HUGEINT))
                    AS DOUBLE) / 1e6 AS swxx
        FROM d, {par}
    """


_HUBER_STEP_SQL = """
    SELECT k,
           FLOOR((swxy - swx * swy / sw)
                 / (swxx - swx * swx / sw) * 1e9) / 1e9 AS b,
           FLOOR((swy - (swxy - swx * swy / sw)
                        / (swxx - swx * swx / sw) * swx) / sw * 1e9)
               / 1e9 AS a
    FROM {src}
"""


def _huber_sql() -> str:
    return f"""
    WITH d AS (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS y
        FROM lineitem
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM d
    ), ols AS (
        SELECT n,
               (CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
               / (CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) AS b0,
               SQRT(((CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
                     - POW(CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n, 2)
                       / (CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n))
                    / (n - 2)) AS s
        FROM m
    ), it0 AS (
        SELECT FLOOR(o.b0 * 1e9) / 1e9 AS b,
               FLOOR((CAST(m.sy AS DOUBLE) - o.b0 * CAST(m.sx AS DOUBLE))
                     / m.n * 1e9) / 1e9 AS a,
               FLOOR(1.345 * o.s * 1e9) / 1e9 AS k
        FROM ols o, m
    ),
    s1 AS ({_huber_wsums_sql('it0')}),
    it1x AS ({_HUBER_STEP_SQL.format(src='s1')}),
    it1 AS (SELECT a, b, (SELECT k FROM it0) AS k FROM it1x),
    s2 AS ({_huber_wsums_sql('it1')}),
    it2x AS ({_HUBER_STEP_SQL.format(src='s2')}),
    it2 AS (SELECT a, b, (SELECT k FROM it0) AS k FROM it2x)
    SELECT m.n,
           ROUND(o.b0 / 100.0, 6) AS ols_slope,
           ROUND(t.b / 100.0, 6) AS huber_slope,
           ROUND(t.a / 100.0, 2) AS huber_intercept,
           CAST(SUM(CASE WHEN ABS(d.y - (t.a + t.b * d.x)) > t.k
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_downweighted
    FROM d, m, ols o, it2 t
    GROUP BY m.n, o.b0, t.b, t.a
    """


@register("ml_huber_regression", _huber_sql())
def ml_huber_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator for price ~ quantity by two unrolled IRLS
    steps: weights w = min(1, k/|e|) with k = 1.345·σ̂_OLS (the 95%-
    efficiency tuning), each step ONE weighted-moment aggregation pass
    with the refit line re-entering as a quantized 1-row broadcast —
    the robust middle ground between OLS (breakdown 0) and
    ``agg_theil_sen`` (median-of-slopes, breakdown 29% but O(n²) pairs):
    IRLS-Huber costs two linear passes at any scale. Weighted sums fold
    floor-quantized into 128-bit accumulators at per-sum scales (wxy is
    cents·qty-scale ~5e8/row); emits the OLS slope beside the Huber fit
    (the gap measures how much outliers steer OLS) and the count of
    downweighted rows.

    Scale: four aggregation passes over the fact scan (moments, two
    IRLS, final eval), all map-side combined; 1-row algebra between."""
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100.0).cast("long").alias("y"),
    )
    m = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    cxx = F.col("sxx").cast("double") - sx * sx / n
    cxy = F.col("sxy").cast("double") - sx * sy / n
    cyy = F.col("syy").cast("double") - sy * sy / n
    b0 = cxy / cxx
    s = F.sqrt((cyy - F.pow(cxy, 2.0) / cxx) / (n - 2))
    q9 = lambda c: F.floor(c * 1e9) / 1e9  # noqa: E731
    it = m.select(
        n.alias("n"),
        b0.alias("b0"),
        q9(b0).alias("b"),
        q9((sy - b0 * sx) / n).alias("a"),
        q9(1.345 * s).alias("k"),
    )

    def wsums(params):
        j = d.crossJoin(F.broadcast(params))
        e = F.col("y") - (F.col("a") + F.col("b") * F.col("x"))
        w = F.least(F.lit(1.0), F.col("k") / F.abs(e))

        def q(c, scale):
            qq = F.floor(c * scale) if scale != 1 else F.floor(c)
            return F.sum(qq.cast("decimal(38,0)")).cast("double") / scale

        return j.agg(
            F.max("n").alias("n"),
            F.max("b0").alias("b0"),
            F.max("k").alias("k"),
            q(w, 1e9).alias("sw"),
            q(w * F.col("x"), 1e8).alias("swx"),
            q(w * F.col("y"), 1e4).alias("swy"),
            q(w * F.col("x") * F.col("y"), 1e2).alias("swxy"),
            q(w * F.col("x") * F.col("x"), 1e6).alias("swxx"),
        )

    for _ in range(2):
        sums = wsums(it)
        bw = (
            F.col("swxy") - F.col("swx") * F.col("swy") / F.col("sw")
        ) / (F.col("swxx") - F.col("swx") * F.col("swx") / F.col("sw"))
        it = sums.select(
            "n",
            "b0",
            "k",
            q9(bw).alias("b"),
            q9((F.col("swy") - bw * F.col("swx")) / F.col("sw")).alias("a"),
        )
    fin = d.crossJoin(F.broadcast(it))
    e = F.col("y") - (F.col("a") + F.col("b") * F.col("x"))
    return fin.agg(
        F.max("n").alias("n"),
        F.round(F.max("b0") / 100.0, 6).alias("ols_slope"),
        F.round(F.max("b") / 100.0, 6).alias("huber_slope"),
        F.round(F.max("a") / 100.0, 2).alias("huber_intercept"),
        F.sum(F.when(F.abs(e) > F.col("k"), 1).otherwise(0))
        .cast("long")
        .alias("n_downweighted"),
    )


@register(
    "stats_mahalanobis_outliers",
    """
    WITH pts AS (
        SELECT l_orderkey AS ok, l_linenumber AS ln,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS y
        FROM lineitem
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM pts
    ), cov AS (
        SELECT n,
               CAST(sx AS DOUBLE) / n AS xb,
               CAST(sy AS DOUBLE) / n AS yb,
               (CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1)
                   AS cxx,
               (CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n) / (n - 1)
                   AS cyy,
               (CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / (n - 1)
                   AS cxy
        FROM m
    ), d AS (
        SELECT p.ok, p.ln, p.x, p.y,
               (c.cyy * POW(p.x - c.xb, 2)
                - 2.0 * c.cxy * (p.x - c.xb) * (p.y - c.yb)
                + c.cxx * POW(p.y - c.yb, 2))
               / (c.cxx * c.cyy - c.cxy * c.cxy) AS d2
        FROM pts p, cov c
    )
    SELECT ok AS orderkey, CAST(ln AS BIGINT) AS linenumber,
           CAST(x AS BIGINT) AS quantity,
           ROUND(y / 100.0, 2) AS price,
           ROUND(d2, 4) AS mahalanobis_d2,
           CAST(CASE WHEN d2 > 13.8155 THEN 1 ELSE 0 END AS INT)
               AS beyond_999
    FROM d ORDER BY d2 DESC, ok, ln LIMIT 10
    """,
)
def stats_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 bivariate Mahalanobis outliers in (quantity, price): D² =
    vᵀS⁻¹v with the 2×2 sample covariance inverted in closed form —
    the correlation-aware multivariate outlier screen that the marginal
    z/IQR/MAD family cannot do (a point can be unremarkable in each
    margin yet far off the correlation ridge; under normality
    D² ~ χ²₂, so D² > 13.82 flags the 99.9% ellipse). Model-free
    companion to ``stats_cooks_distance`` (which needs a regression
    direction). Covariance from exact 128-bit moments in one pass,
    broadcast back; each D² is a fixed-form per-row expression, so the
    top-10 (pk tie-break) is deterministic on both engines.

    Scale: one moment pass + one broadcast-annotated scan into
    TakeOrderedAndProject — no shuffle of the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100.0).cast("long").alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    cov = m.select(
        n,
        (sx / n).alias("xb"),
        (sy / n).alias("yb"),
        ((F.col("sxx").cast("double") - sx * sx / n) / (n - 1)).alias("cxx"),
        ((F.col("syy").cast("double") - sy * sy / n) / (n - 1)).alias("cyy"),
        ((F.col("sxy").cast("double") - sx * sy / n) / (n - 1)).alias("cxy"),
    )
    j = pts.crossJoin(F.broadcast(cov))
    vx = F.col("x") - F.col("xb")
    vy = F.col("y") - F.col("yb")
    d2 = (
        F.col("cyy") * vx * vx
        - 2.0 * F.col("cxy") * vx * vy
        + F.col("cxx") * vy * vy
    ) / (F.col("cxx") * F.col("cyy") - F.col("cxy") * F.col("cxy"))
    return (
        j.select(
            F.col("ok").alias("orderkey"),
            F.col("ln").cast("long").alias("linenumber"),
            F.col("x").cast("long").alias("quantity"),
            F.round(F.col("y") / 100.0, 2).alias("price"),
            F.round(d2, 4).alias("mahalanobis_d2"),
            F.when(d2 > 13.8155, 1).otherwise(0).cast("int").alias(
                "beyond_999"
            ),
            d2.alias("_d2"),
        )
        .orderBy(F.desc("_d2"), "orderkey", "linenumber")
        .limit(10)
        .drop("_d2")
    )


@register(
    "ml_iv_2sls",
    """
    WITH pts AS (
        SELECT CAST(ROUND(l_discount * 10000.0) AS BIGINT) AS z,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0)
                    AS BIGINT) AS y
        FROM lineitem
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(z) AS HUGEINT) AS sz,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(CAST(z AS HUGEINT) * x) AS HUGEINT) AS szx,
               CAST(SUM(CAST(z AS HUGEINT) * y) AS HUGEINT) AS szy,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        FROM pts
    ), c AS (
        SELECT n,
               CAST(szx AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sx AS DOUBLE) / n AS czx,
               CAST(szy AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sy AS DOUBLE) / n AS czy,
               CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n AS cxy,
               CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / n AS czz,
               CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n AS cxx
        FROM m
    )
    SELECT n AS n_rows,
           ROUND(cxy / cxx / 100.0, 6) AS beta_ols,
           ROUND(czy / czx / 100.0, 6) AS beta_iv,
           ROUND((czx * czx / (czz * cxx))
                 * (n - 2) / (1.0 - czx * czx / (czz * cxx)), 2)
               AS first_stage_f,
           ROUND((czy / czx - cxy / cxx) / 100.0, 6) AS endogeneity_gap
    FROM c
    """,
)
def ml_iv_2sls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variables (2SLS, single instrument — the Wald/ratio
    closed form) estimate of the quantity → net-revenue slope, with the
    posted DISCOUNT (basis points) as the instrument: when x is
    endogenous (quantity and revenue co-move with unobserved demand),
    OLS is biased; β_IV = cov(z,y)/cov(z,x) is consistent as long as
    the instrument moves x and touches y only through x. Emits β_OLS
    beside β_IV (the gap is the endogeneity reading — the Hausman
    numerator) and the FIRST-STAGE F (czx²/(czz·cxx) r² form; F < 10 is
    the weak-instrument red flag that voids the whole exercise). The
    causal-inference counterpart to ``ml_ipw_ate`` (treatment weighting)
    for CONTINUOUS endogenous regressors. All nine moments are exact
    128-bit integers in ONE pass; the ratios are 1-row IEEE algebra.

    Scale: one partial→final aggregate over the fact scan."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.round(F.col("l_discount") * 10000.0).cast("long").alias("z"),
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(
            F.col("l_extendedprice") * (1.0 - F.col("l_discount")) * 100.0
        )
        .cast("long")
        .alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("z").cast("decimal(38,0)").alias("sz"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(dec("z") * F.col("x")).alias("szx"),
        F.sum(dec("z") * F.col("y")).alias("szy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("z") * F.col("z")).alias("szz"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n")

    def corr(ab, a, b):
        return F.col(ab).cast("double") - F.col(a).cast("double") * F.col(
            b
        ).cast("double") / n

    c = m.select(
        n,
        corr("szx", "sz", "sx").alias("czx"),
        corr("szy", "sz", "sy").alias("czy"),
        corr("sxy", "sx", "sy").alias("cxy"),
        corr("szz", "sz", "sz").alias("czz"),
        corr("sxx", "sx", "sx").alias("cxx"),
    )
    r2 = F.col("czx") * F.col("czx") / (F.col("czz") * F.col("cxx"))
    return c.select(
        n.alias("n_rows"),
        F.round(F.col("cxy") / F.col("cxx") / 100.0, 6).alias("beta_ols"),
        F.round(F.col("czy") / F.col("czx") / 100.0, 6).alias("beta_iv"),
        F.round(r2 * (n - 2) / (1.0 - r2), 2).alias("first_stage_f"),
        F.round(
            (F.col("czy") / F.col("czx") - F.col("cxy") / F.col("cxx"))
            / 100.0,
            6,
        ).alias("endogeneity_gap"),
    )


@register(
    "ml_offpolicy_ips",
    """
    WITH u AS (
        SELECT user_id,
               (('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR)), 1, 8))
                ::BIGINT) % 2 AS a,
               CAST(user_id % 3 = 0 AS INT) AS pi,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(FLOOR(value * 100.0) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS r
        FROM events GROUP BY user_id
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(r) AS HUGEINT) AS r_all,
               CAST(SUM(CASE WHEN a = pi THEN r ELSE 0 END) AS HUGEINT)
                   AS r_match,
               CAST(COUNT(*) FILTER (WHERE a = pi) AS BIGINT) AS n_match
        FROM u
    )
    SELECT n AS n_users,
           ROUND(CAST(r_all AS DOUBLE) / n / 100.0, 4) AS v_logging,
           ROUND(2.0 * CAST(r_match AS DOUBLE) / n / 100.0, 4) AS v_ips,
           ROUND(CAST(r_match AS DOUBLE) / n_match / 100.0, 4) AS v_snips,
           ROUND(CAST(n_match AS DOUBLE), 1) AS ess,
           ROUND(CAST(n_match AS DOUBLE) / n, 4) AS match_rate
    FROM agg
    """,
)
def ml_offpolicy_ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy (counterfactual) evaluation of a DETERMINISTIC target
    policy from randomized logs — the bandit-OPE primitive (Horvitz–
    Thompson lineage; Li et al. '11): the logging policy exposes each
    user with propensity ½ (the engine-shared MD5 coin), the target
    policy π exposes ``user_id % 3 = 0``; V̂_IPS = (1/n)Σ 1{a=π(u)}·r/½
    and the self-normalized V̂_SNIPS = Σ𝟙r/Σ𝟙 (lower variance, small
    bias), with the effective sample size and match rate the estimate's
    trustworthiness rides on. Answers "what would the new targeting rule
    have earned?" WITHOUT an experiment — the counterfactual sibling of
    ``ab_uplift_qini`` (which needs the A/B split). With a ½ propensity
    the weights are exactly {0, 2}, so both estimates are pure integer
    folds in cents — no float variance at any parallelism — and the
    Kish ESS (Σw)²/Σw² collapses to exactly n_match.

    Scale: one per-user rollup (map-side combined), one 4-sum fold."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100.0).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("r")
    )
    a = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
    )
    pi = (F.col("user_id") % 3 == 0).cast("int")
    scored = u.select(
        "r", a.alias("a"), pi.alias("pi")
    )
    agg = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r").cast("decimal(38,0)").alias("r_all"),
        F.sum(F.when(F.col("a") == F.col("pi"), F.col("r")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("r_match"),
        F.count_if(F.col("a") == F.col("pi")).cast("long").alias("n_match"),
    )
    n = F.col("n")
    return agg.select(
        n.alias("n_users"),
        F.round(F.col("r_all").cast("double") / n / 100.0, 4).alias(
            "v_logging"
        ),
        F.round(
            2.0 * F.col("r_match").cast("double") / n / 100.0, 4
        ).alias("v_ips"),
        F.round(
            F.col("r_match").cast("double") / F.col("n_match") / 100.0, 4
        ).alias("v_snips"),
        F.round(F.col("n_match").cast("double"), 1).alias("ess"),
        F.round(F.col("n_match").cast("double") / n, 4).alias(
            "match_rate"
        ),
    )
