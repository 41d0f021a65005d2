"""Retrieval-evaluation operators: the "is my embedding index any good"
family — labelled precision@k, mean reciprocal rank, rank fusion, and
embedding-space diagnostics (dispatched through the registry surface the
reference exposes via ``Processor.call``, reference ``src/processor.ts:57-89``).

These close the loop on the ANN stack (similarity.py): the IVF/LSH/PQ
operators *retrieve*, these *grade the retrieval* against labels, which is
how a training-data pipeline decides whether its near-dup / dedup /
curation retrieval layer is trustworthy.

Scale shape: every operator broadcasts the (small) query side against the
corpus scan and reduces per query — the canonical broadcast-join +
window-top-k plan that survives any corpus size. The fixture's exhaustive
pair frames (50×450, 500²) stand in for what a 100 TB deployment would
run through the IVF-pruned candidate generator first; the *grading* math
is identical either way. All similarity math is the floor-quantized HOF
kernel from functions/vector.py — codegen'd JVM expressions, bit-stable at
any parallelism, no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_processor_spark.engine import register
from hive_processor_spark.functions.vector import (
    cosine_q,
    dot_q,
    sq_norm_q,
    sql_cosine_q,
)
from hive_processor_spark.sources.tables import load_table

#: Query/corpus split: first 50 vectors probe the remaining 450.
_Q_MAX = 50

_SQL_PAIRS = f"""
        SELECT q.vec_id AS qid, q.label AS qlabel,
               c.vec_id AS cid, c.label AS clabel,
               {sql_cosine_q('q.embedding', 'c.embedding')} AS sim
        FROM embeddings q JOIN embeddings c
          ON q.vec_id < {_Q_MAX} AND c.vec_id >= {_Q_MAX}
"""


#: Pair-mass floor (|q|·|corpus| cosine evaluations) above which the
#: mapInPandas numpy kernel beats the codegen HOF fold. Below it the
#: Python-worker + Arrow round-trip costs more than the interpreted folds
#: it replaces — the round-11 kernel measured SLOWER at bench SF on 3 of
#: its 4 consumers (r11 verdict item 1). The mass is derived from the
#: loaded frame's own parquet row count (never a local-mode constant);
#: the crossover was measured by same-window interleaved A/B at
#: 1×/2×/4×/10×/20×/40× corpus replicas (numbers in
#: OPTIMIZATION_r12.md): HOF wins ≤1M pairs, the lanes cross
#: near ~2M, kernel wins beyond. Both lanes are bit-identical, so the
#: constant trades only time, never results.
_KERNEL_MIN_PAIRS = 2_000_000


def _embeddings_rows(spark: SparkSession, sf_dir: str) -> int:
    """Row count of the embeddings fixture — parquet footer metadata only
    (no Spark job); falls back to a count() (itself metadata-only for a
    bare parquet scan) if the footer read fails."""
    try:
        import pyarrow.parquet as pq

        return int(
            pq.ParquetFile(f"{sf_dir}/embeddings.parquet").metadata.num_rows
        )
    except Exception:
        return int(load_table(spark, sf_dir, "embeddings").count())


def _ranked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, qlabel, cid, clabel, sim, rn) — corpus ranked per query by
    quantized cosine, vec_id tie-break. Broadcast the 50-row query side;
    the corpus scan is the only data-sized stage. Each side's squared norm
    is computed ONCE per row before the pair fan-out (the quantized values
    are identical, so results don't change) and the corpus side is
    repartitioned — the fixture is a single parquet file, and without the
    spread every pair's interpreted HOF cosine would run on one core.

    Two bit-identical lanes, gated on the ACTUAL pair mass |q|·|corpus|
    read from the frame (r12 opt pass, r11 verdict item 1): below
    ``_KERNEL_MIN_PAIRS`` the codegen HOF fold wins (no Python boundary);
    above it the numpy kernel lane wins (vectorized batches, guide §4.2).
    NOTE the kernel lane runs an EAGER ≤``_Q_MAX``-row collect of the
    query side at DataFrame-construction time (plan-building triggers a
    Spark job — explain-only flows pay it too); an empty query side falls
    through to the lazy HOF lane, which yields the same empty frame."""
    emb = load_table(spark, sf_dir, "embeddings")
    n_corpus = max(0, _embeddings_rows(spark, sf_dir) - _Q_MAX)
    if _Q_MAX * n_corpus >= _KERNEL_MIN_PAIRS:
        out = _ranked_pairs_kernel(spark, emb)
        if out is not None:
            return out
    return _ranked_pairs_hof(spark, emb)


def _ranked_pairs_hof(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """HOF-fold lane: quantized cosine as codegen JVM expressions — the
    cheapest shape while the pair mass is small (no JVM↔Python boundary,
    no worker spin-up)."""
    q = emb.filter(F.col("vec_id") < _Q_MAX).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qv"),
        sq_norm_q(F.col("embedding")).alias("qn"),
    )
    c = (
        emb.filter(F.col("vec_id") >= _Q_MAX)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("label").alias("clabel"),
            F.col("embedding").alias("cv"),
            sq_norm_q(F.col("embedding")).alias("cn"),
        )
    )
    pairs = c.join(F.broadcast(q)).select(
        "qid",
        "qlabel",
        "cid",
        "clabel",
        (
            dot_q(F.col("qv"), F.col("cv"))
            / F.sqrt(F.col("qn") * F.col("cn"))
        ).alias("sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid"))
    return pairs.withColumn("rn", F.row_number().over(w))


def _ranked_pairs_kernel(spark: SparkSession, emb: DataFrame) -> DataFrame | None:
    """Kernel lane (round-11 opt pass): the query×corpus cosines were a
    codegen HOF fold per pair (~|q|·|corpus|·dim interpreted lambda
    evaluations — the stage's whole cost, paid by all four consumers of
    this helper). The query side is BOUNDED (< _Q_MAX = 50 rows — the
    regression.py ≤50-row driver-state discipline), so it ships into a
    mapInPandas kernel that reproduces dot_q/sq_norm_q BIT-IDENTICALLY:
    per-element float64 products floor-quantized to int64 at 1e12,
    integer-summed, the same double divisions (guide §4.2). The window and
    every downstream consumer are unchanged. Collects the ≤50-row query
    side EAGERLY; returns None when it is empty (caller falls back to the
    lazy HOF lane)."""
    import numpy as np
    import pandas as pd

    qrows = (
        emb.filter(F.col("vec_id") < _Q_MAX)
        .select("vec_id", "label", "embedding")
        .collect()
    )
    if not qrows:
        return None
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    q_lab = np.array([r["label"] for r in qrows], dtype=np.int32)
    q_mat = np.array([list(r["embedding"]) for r in qrows], dtype=np.float64)
    q_qn = np.floor(q_mat * q_mat * 1e12).astype(np.int64).sum(axis=1) / 1e12

    def _query_sims(it):  # pragma: no cover - executed on executors
        for pdf in it:
            ids = pdf["vec_id"].to_numpy(np.int64)
            labs = pdf["label"].to_numpy(np.int32)
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            cn = np.floor(mat * mat * 1e12).astype(np.int64).sum(axis=1) / 1e12
            chunk = max(1, 4_000_000 // max(1, len(q_ids) * q_mat.shape[1]))
            for s in range(0, len(ids), chunk):
                blk = slice(s, s + chunk)
                terms = np.floor(
                    mat[blk][:, None, :] * q_mat[None, :, :] * 1e12
                ).astype(np.int64)
                sim = terms.sum(axis=2) / 1e12 / np.sqrt(
                    q_qn[None, :] * cn[blk][:, None]
                )
                nb, nq = sim.shape
                ci = np.repeat(np.arange(nb), nq)
                qi = np.tile(np.arange(nq), nb)
                yield pd.DataFrame(
                    {
                        "qid": q_ids[qi],
                        "qlabel": q_lab[qi],
                        "cid": ids[blk][ci],
                        "clabel": labs[ci],
                        "sim": sim[ci, qi],
                    }
                )

    pairs = (
        emb.filter(F.col("vec_id") >= _Q_MAX)
        # the fixture is a single parquet file: spread the corpus scan so
        # the kernel runs at core parallelism, not on one task
        .repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", "label", "embedding")
        .mapInPandas(
            _query_sims,
            "qid bigint, qlabel int, cid bigint, clabel int, sim double",
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid"))
    return pairs.withColumn("rn", F.row_number().over(w))


@register(
    "sim_precision_at_k",
    f"""
    WITH p AS ({_SQL_PAIRS}
    ), r AS (
        SELECT qid, qlabel, clabel,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
        FROM p
    ), perq AS (
        SELECT qid, qlabel,
               CAST(COUNT(*) FILTER (WHERE clabel = qlabel) AS DOUBLE) / 10
                   AS p10
        FROM r WHERE rn <= 10 GROUP BY qid, qlabel
    )
    SELECT CAST(qlabel AS INT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(AVG(p10), 6) AS precision_at_10
    FROM perq GROUP BY qlabel ORDER BY label
    """,
)
def sim_precision_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labelled precision@10 per class: rank the corpus for each probe by
    quantized cosine, count same-label hits in the top 10 — the standard
    supervised grade for an embedding space (and for the ANN index built
    on it). Per-query precision is an exact count/10; the per-label mean
    averages ≤50 such ratios, so rounding at 6dp is stable. Plan:
    broadcast probes, one corpus scan, per-query window top-k, two tiny
    reductions."""
    r = _ranked_pairs(spark, sf_dir)
    perq = (
        r.filter(F.col("rn") <= 10)
        .groupBy("qid", "qlabel")
        .agg(
            (F.count_if(F.col("clabel") == F.col("qlabel")).cast("double") / 10)
            .alias("p10")
        )
    )
    return (
        perq.groupBy(F.col("qlabel").cast("int").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.round(F.avg("p10"), 6).alias("precision_at_10"),
        )
        .orderBy("label")
    )


@register(
    "sim_mrr",
    f"""
    WITH p AS ({_SQL_PAIRS}
    ), r AS (
        SELECT qid, qlabel, clabel,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
        FROM p
    ), firsts AS (
        SELECT qid, MIN(rn) AS first_hit
        FROM r WHERE clabel = qlabel GROUP BY qid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(CAST(SUM(CAST(FLOOR(1e9 / first_hit) AS BIGINT)) AS DOUBLE)
                 / 1e9 / COUNT(*), 6) AS mrr,
           CAST(MIN(first_hit) AS BIGINT) AS best_first_hit,
           CAST(MAX(first_hit) AS BIGINT) AS worst_first_hit
    FROM firsts
    """,
)
def sim_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank of the first same-label neighbor over the full
    corpus ranking — the single-number retrieval grade that punishes a
    relevant result slipping down the list. Reciprocal ranks are
    floor-quantized at 1e-9 before summation (integer ranks → identical
    quantized terms in both engines), so the mean is order-independent.
    Same broadcast + window plan as precision@k; the extra MIN-per-query
    reduction is free after the rank window."""
    r = _ranked_pairs(spark, sf_dir)
    firsts = (
        r.filter(F.col("clabel") == F.col("qlabel"))
        .groupBy("qid")
        .agg(F.min("rn").alias("first_hit"))
    )
    rq = F.floor(F.lit(1e9) / F.col("first_hit")).cast("bigint")
    return firsts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.round(F.sum(rq).cast("double") / 1e9 / F.count(F.lit(1)), 6).alias("mrr"),
        F.min("first_hit").cast("bigint").alias("best_first_hit"),
        F.max("first_hit").cast("bigint").alias("worst_first_hit"),
    )


def _hamming(a: Column, b: Column) -> Column:
    """Sign-bit Hamming distance between two float vectors (exact int)."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: ((x >= 0) != (y >= 0)).cast("int")
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )


_SQL_HAMMING = (
    "LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, LEN({a}) + 1), i -> "
    "CASE WHEN ({a}[i] >= 0) <> ({b}[i] >= 0) THEN 1 ELSE 0 END), 'sum')"
)


@register(
    "sim_rrf_fusion",
    f"""
    WITH s AS (
        SELECT c.vec_id,
               {sql_cosine_q('q.embedding', 'c.embedding')} AS sim,
               {_SQL_HAMMING.format(a='q.embedding', b='c.embedding')} AS ham
        FROM embeddings q JOIN embeddings c ON c.vec_id <> 0
        WHERE q.vec_id = 0
    ), r AS (
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS r_cos,
               ROW_NUMBER() OVER (ORDER BY ham ASC, vec_id) AS r_ham
        FROM s
    ), f AS (
        SELECT vec_id, r_cos, r_ham,
               1.0 / (60 + r_cos) + 1.0 / (60 + r_ham) AS rrf
        FROM r
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, vec_id) AS INT) AS rank,
           vec_id, CAST(r_cos AS INT) AS r_cos, CAST(r_ham AS INT) AS r_ham,
           ROUND(rrf, 6) AS rrf
    FROM f ORDER BY rrf DESC, vec_id LIMIT 10
    """,
)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of two retrieval
    channels for one probe: exact quantized cosine and 1-bit sign-Hamming
    (the binary-quantized fast path from ``embed_binary_quantize``). RRF =
    Σ 1/(60+rank) needs only ranks, so channels with incomparable scores
    fuse cleanly — the standard trick for hybrid dense+sparse retrieval.
    Ranks are exact ints (vec_id tie-break), the fused score is identical
    rational arithmetic in both engines. One corpus scan, two bucketed
    two-level ranks over the scored frame (round-6 window-audit fix —
    the per-candidate frame grows with the corpus), top-10."""
    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    s = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            cosine_q(F.col("qv"), F.col("embedding")).alias("sim"),
            _hamming(F.col("qv"), F.col("embedding")).alias("ham"),
        )
    )
    from hive_processor_spark.functions.orderstat import with_global_order

    # Round-11 opt pass: the nested with_global_order calls multiplied
    # subtree evaluations — the outer call's span + bucket + main passes
    # each re-derived the inner call's passes over the 4-HOF-fold scored
    # scan (up to 9 evaluations of s). Fixed exact bounds (cosine ∈
    # [−1, 1], 64-bit Hamming ∈ [0, 64]) remove both span passes, and the
    # answer-sized inner rank frame is checkpointed so the outer passes
    # read a materialized 3-column frame instead of re-deriving the scan.
    inner = with_global_order(
        s, "sim", ["vec_id"], rank="r_cos", desc=True, bounds=(-1.0, 1.0)
    ).localCheckpoint(eager=True)
    r = with_global_order(
        inner,
        "ham",
        ["vec_id"],
        rank="r_ham",
        bounds=(0.0, 64.0),
    ).select("vec_id", "r_cos", "r_ham")
    f = r.withColumn(
        "rrf", 1.0 / (60 + F.col("r_cos")) + 1.0 / (60 + F.col("r_ham"))
    )
    # distributed top-10 first; the rank window sees a provably-10-row frame
    lim = f.orderBy(F.col("rrf").desc(), "vec_id").limit(10)
    return (
        lim.select(
            F.row_number()
            .over(Window.orderBy(F.col("rrf").desc(), F.col("vec_id")))
            .cast("int")
            .alias("rank"),
            "vec_id",
            F.col("r_cos").cast("int").alias("r_cos"),
            F.col("r_ham").cast("int").alias("r_ham"),
            F.round("rrf", 6).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), "vec_id")
    )


@register(
    "embed_dim_variance",
    """
    WITH e AS (
        SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings, (SELECT UNNEST(RANGE(1, 65)) AS i) g
    ), m AS (
        SELECT dim,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(FLOOR(x * 1e8) AS DECIMAL(28,0))) AS DOUBLE) / 1e8
                   AS sx,
               CAST(SUM(CAST(FLOOR(x * x * 1e12) AS DECIMAL(28,0))) AS DOUBLE)
                   / 1e12 AS sxx
        FROM e GROUP BY dim
    )
    SELECT CAST(dim AS INT) AS dim,
           ROUND(sx / n, 6) AS mean,
           ROUND((sxx - sx * sx / n) / (n - 1), 8) AS variance
    FROM m ORDER BY variance DESC, dim LIMIT 10
    """,
)
def embed_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance profile of the embedding space, top-10
    dims by variance — the screening pass behind dimension pruning and
    Matryoshka-style truncation (low-variance dims carry no retrieval
    signal). posexplode → one partial→final aggregation keyed on the 64
    dims; at 100 TB the explode multiplies rows ×64 but every term
    combines map-side into 64 accumulators, so the shuffle is O(dims),
    not O(corpus). Moments floor-quantized (1e-8 values, 1e-12 squares)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        F.posexplode("embedding").alias("dim", "xf")
    ).select("dim", F.col("xf").cast("double").alias("x"))
    m = e.groupBy("dim").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (
            F.sum(F.floor(F.col("x") * 1e8).cast("decimal(28,0)")).cast("double")
            / 1e8
        ).alias("sx"),
        (
            F.sum(
                F.floor(F.col("x") * F.col("x") * 1e12).cast("decimal(28,0)")
            ).cast("double")
            / 1e12
        ).alias("sxx"),
    )
    return (
        m.select(
            F.col("dim").cast("int").alias("dim"),
            F.round(F.col("sx") / F.col("n"), 6).alias("mean"),
            F.round(
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                / (F.col("n") - 1),
                8,
            ).alias("variance"),
        )
        .orderBy(F.col("variance").desc(), "dim")
        .limit(10)
    )


@register(
    "embed_label_margin",
    f"""
    WITH p AS (
        SELECT a.label AS la, b.label AS lb,
               {sql_cosine_q('a.embedding', 'b.embedding')} AS sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ), sides AS (
        SELECT la AS label, (la = lb) AS intra, sim FROM p
        UNION ALL
        SELECT lb AS label, (la = lb) AS intra, sim FROM p WHERE la <> lb
    ), agg AS (
        SELECT label,
               CAST(SUM(CASE WHEN intra THEN CAST(FLOOR(sim * 1e9) AS BIGINT)
                             END) AS DOUBLE) / 1e9
                   / COUNT(*) FILTER (WHERE intra) AS intra_mean,
               CAST(SUM(CASE WHEN NOT intra THEN CAST(FLOOR(sim * 1e9) AS BIGINT)
                             END) AS DOUBLE) / 1e9
                   / COUNT(*) FILTER (WHERE NOT intra) AS inter_mean
        FROM sides GROUP BY label
    )
    SELECT CAST(label AS INT) AS label,
           ROUND(intra_mean, 6) AS intra_mean,
           ROUND(inter_mean, 6) AS inter_mean,
           ROUND(intra_mean - inter_mean, 6) AS margin
    FROM agg ORDER BY label
    """,
)
def embed_label_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class separation audit: mean intra-class vs inter-class cosine
    and their margin — the one-table answer to "do my embeddings cluster
    by label at all". A class whose margin ≈ 0 will poison both k-NN
    labelling and dedup thresholds. Intra pairs count once; inter pairs
    contribute to both classes' averages (each class grades against its
    own outside world). Pairs come from the block-partitioned numpy
    kernel (``_pair_sims_block``, bit-identical quantized cosine — the
    same kernel the 100 TB corpus runs), each pair's per-class
    contributions emitted in ONE pass via a 1-or-2-element explode: the
    previous union-of-two-selects re-derived the whole O(n²) pair
    stream for the inter branch (measured 2.1 → ~1.1 s at sf0.1).
    Per-term 1e-9 floor quantization keeps both engines' sums
    bit-equal."""
    from hive_processor_spark.operators.similarity import _pair_sims_block

    emb = load_table(spark, sf_dir, "embeddings")
    lab_a = emb.select(F.col("vec_id").alias("vec_a"), F.col("label").alias("la"))
    lab_b = emb.select(F.col("vec_id").alias("vec_b"), F.col("label").alias("lb"))
    p = (
        _pair_sims_block(spark, emb)
        .join(F.broadcast(lab_a), "vec_a")
        .join(F.broadcast(lab_b), "vec_b")
        .select("la", "lb", F.col("sim_raw").alias("sim"))
    )
    contrib = F.when(
        F.col("la") == F.col("lb"),
        F.array(
            F.struct(
                F.col("la").alias("label"),
                F.lit(True).alias("intra"),
                F.col("sim").alias("sim"),
            )
        ),
    ).otherwise(
        F.array(
            F.struct(
                F.col("la").alias("label"),
                F.lit(False).alias("intra"),
                F.col("sim").alias("sim"),
            ),
            F.struct(
                F.col("lb").alias("label"),
                F.lit(False).alias("intra"),
                F.col("sim").alias("sim"),
            ),
        )
    )
    sides = p.select(F.explode(contrib).alias("c")).select("c.*")
    qsim = F.floor(F.col("sim") * 1e9).cast("bigint")
    agg = sides.groupBy("label").agg(
        (
            F.sum(F.when(F.col("intra"), qsim)).cast("double")
            / 1e9
            / F.count_if(F.col("intra"))
        ).alias("intra_mean"),
        (
            F.sum(F.when(~F.col("intra"), qsim)).cast("double")
            / 1e9
            / F.count_if(~F.col("intra"))
        ).alias("inter_mean"),
    )
    return agg.select(
        F.col("label").cast("int").alias("label"),
        F.round("intra_mean", 6).alias("intra_mean"),
        F.round("inter_mean", 6).alias("inter_mean"),
        F.round(F.col("intra_mean") - F.col("inter_mean"), 6).alias("margin"),
    ).orderBy("label")


@register(
    "ml_ranking_stability",
    """
    WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS asof FROM events),
    terms AS (
        SELECT e.user_id,
               CAST(FLOOR(CAST(FLOOR(e.value * 100.0) AS BIGINT)
                    * POW(2.0, -DATEDIFF('day', CAST(e.ts AS DATE), mx.asof)
                          / 7.0) * 1e4) AS BIGINT) AS w_q,
               CAST(FLOOR(e.value * 100.0) AS BIGINT) AS cents
        FROM events e CROSS JOIN mx
    ), g AS (
        SELECT user_id, CAST(SUM(w_q) AS BIGINT) AS decay_q,
               CAST(SUM(cents) AS BIGINT) AS raw_q
        FROM terms GROUP BY 1
    ), ra AS (
        SELECT user_id,
               ROW_NUMBER() OVER (ORDER BY decay_q DESC, user_id) AS r_decay,
               ROW_NUMBER() OVER (ORDER BY raw_q DESC, user_id) AS r_raw
        FROM g
    ), topk AS (
        SELECT user_id,
               CAST(r_decay <= 20 AS INT) AS in_decay,
               CAST(r_raw <= 20 AS INT) AS in_raw,
               r_decay, r_raw
        FROM ra
    )
    SELECT CAST(SUM(in_decay * in_raw) AS BIGINT) AS overlap_20,
           ROUND(CAST(SUM(in_decay * in_raw) AS DOUBLE)
                 / (40 - SUM(in_decay * in_raw)), 6) AS jaccard_20,
           CAST(SUM(CASE WHEN in_decay + in_raw = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS churned_members,
           ROUND(CAST(SUM(CASE WHEN in_decay = 1 AND in_raw = 1
                               THEN ABS(r_decay - r_raw) ELSE 0 END)
                      AS DOUBLE)
                 / NULLIF(SUM(in_decay * in_raw), 0), 4)
               AS mean_rank_shift
    FROM topk
    """,
)
def ml_ranking_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-stability audit between two scoring functions over the
    same population — decay-weighted vs raw-sum user value — measured
    where it matters operationally: top-20 membership overlap, Jaccard,
    churned members, and the mean rank shift among survivors. This is
    the pre-deployment check for any scorer swap ("how many VIPs does
    the new definition demote"), and the same frame as search-ranking
    regression testing. Both scores are quantized integer sums with
    user_id tie-breaks, so both rankings and every stability metric are
    bit-deterministic. One grouped pass, two distributed top-20s
    (TakeOrderedAndProject + a rank window over the provably-20-row
    frame — round-6 window-audit fix: every metric below only consumes
    top-20 rows, so the full per-user frame is never ranked through one
    partition), one outer join of the two 20-row sets, one reduction."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.to_date("ts")).alias("asof"))
    terms = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.floor(
            F.floor(F.col("value") * 100.0).cast("long")
            * F.pow(
                F.lit(2.0),
                -F.datediff(F.col("asof"), F.to_date("ts")) / 7.0,
            )
            * 1e4
        )
        .cast("long")
        .alias("w_q"),
        F.floor(F.col("value") * 100.0).cast("long").alias("cents"),
    )
    g = terms.groupBy("user_id").agg(
        F.sum("w_q").cast("bigint").alias("decay_q"),
        F.sum("cents").cast("bigint").alias("raw_q"),
    )
    def top20(col, rname):
        lim = g.orderBy(F.col(col).desc(), F.col("user_id")).limit(20)
        w = Window.orderBy(F.col(col).desc(), F.col("user_id"))
        return lim.select(
            "user_id", F.row_number().over(w).alias(rname)
        )

    topk = (
        top20("decay_q", "r_decay")
        .join(top20("raw_q", "r_raw"), "user_id", "full_outer")
        .select(
            "user_id",
            F.col("r_decay").isNotNull().cast("int").alias("in_decay"),
            F.col("r_raw").isNotNull().cast("int").alias("in_raw"),
            F.coalesce("r_decay", F.lit(0)).alias("r_decay"),
            F.coalesce("r_raw", F.lit(0)).alias("r_raw"),
        )
    )
    both = F.sum(F.col("in_decay") * F.col("in_raw"))
    return topk.agg(
        both.cast("bigint").alias("overlap_20"),
        F.round(both.cast("double") / (40 - both), 6).alias("jaccard_20"),
        F.sum(
            F.when(F.col("in_decay") + F.col("in_raw") == 1, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("churned_members"),
        F.round(
            F.sum(
                F.when(
                    (F.col("in_decay") == 1) & (F.col("in_raw") == 1),
                    F.abs(F.col("r_decay") - F.col("r_raw")),
                ).otherwise(0)
            ).cast("double")
            / F.nullif(both, F.lit(0)),
            4,
        ).alias("mean_rank_shift"),
    )


@register(
    "sim_map_at_k",
    f"""
    WITH p AS ({_SQL_PAIRS}
    ), r AS (
        SELECT qid, qlabel, clabel,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid)
                   AS rn
        FROM p
    ), rel AS (
        SELECT qid, CAST(COUNT(*) FILTER (WHERE clabel = qlabel) AS BIGINT)
                   AS n_rel
        FROM r GROUP BY qid
    ), hits AS (
        SELECT qid, qlabel, rn,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rn) AS hit_idx
        FROM r WHERE rn <= 10 AND clabel = qlabel
    ), ap AS (
        SELECT h.qid, h.qlabel,
               CAST(SUM(CAST(FLOOR(CAST(h.hit_idx AS DOUBLE) / h.rn * 1e9)
                             AS BIGINT)) AS DOUBLE) / 1e9
               / LEAST(MAX(rel.n_rel), 10) AS ap10
        FROM hits h JOIN rel ON rel.qid = h.qid
        GROUP BY h.qid, h.qlabel
    ), apq AS (
        SELECT qid, qlabel, CAST(FLOOR(ap10 * 1e9) AS BIGINT) AS apq
        FROM ap
    )
    SELECT CAST(qlabel AS INT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_queries_with_hits,
           ROUND(CAST(SUM(apq) AS DOUBLE) / COUNT(*) / 1e9, 6)
               AS map_at_10
    FROM apq GROUP BY qlabel ORDER BY label
    """,
)
def sim_map_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean average precision at 10 per label — the order-sensitive
    retrieval grade that completes the precision@k / MRR / NDCG panel:
    AP rewards ranking ALL relevant items early, not just the first
    (MRR) or any (P@k). AP@10 = Σ_hits (hit_idx / rank) / min(R, 10)
    with R the query's total relevant count. Every per-hit precision
    term and every per-query AP is floor-quantized to 1e-9 integers
    before its cross-row sum, so the two-level mean is bit-stable — the
    discipline AVG(double) would violate.

    Plan: the shared broadcast-probe ranked-pair frame, one hit-rank
    window over the top-10 slice, two tiny reductions."""
    r = _ranked_pairs(spark, sf_dir)
    rel = r.groupBy("qid").agg(
        F.count_if(F.col("clabel") == F.col("qlabel"))
        .cast("bigint")
        .alias("n_rel")
    )
    w_hit = Window.partitionBy("qid").orderBy("rn")
    hits = (
        r.filter((F.col("rn") <= 10) & (F.col("clabel") == F.col("qlabel")))
        .select(
            "qid", "qlabel", "rn", F.row_number().over(w_hit).alias("hit_idx")
        )
    )
    ap = (
        hits.join(rel, "qid")
        .groupBy("qid", "qlabel")
        .agg(
            (
                F.sum(
                    F.floor(
                        F.col("hit_idx").cast("double") / F.col("rn") * 1e9
                    ).cast("bigint")
                ).cast("double")
                / 1e9
                / F.least(F.max("n_rel"), F.lit(10))
            ).alias("ap10")
        )
    )
    apq = ap.select(
        "qlabel", F.floor(F.col("ap10") * 1e9).cast("bigint").alias("apq")
    )
    return (
        apq.groupBy(F.col("qlabel").cast("int").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries_with_hits"),
            F.round(F.sum("apq").cast("double") / F.count(F.lit(1)) / 1e9, 6)
            .alias("map_at_10"),
        )
        .orderBy("label")
    )


#: IVF probe depths for the recall curve (10 coarse cells exist).
_IVF_PROBES = (1, 2, 4, 8)


@register(
    "sim_ivf_recall_curve",
    f"""
    WITH p AS ({_SQL_PAIRS}
    ), truth AS (
        SELECT qid, clabel
        FROM (
            SELECT qid, clabel,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY sim DESC, cid) AS rn
            FROM p
        ) WHERE rn <= 10
    ), cex AS (
        SELECT label,
               CAST(UNNEST(RANGE(1, LEN(embedding) + 1)) AS INT) AS pos,
               CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS q
        FROM embeddings WHERE vec_id >= {_Q_MAX}
    ), cent AS (
        SELECT label, pos,
               CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mq
        FROM cex GROUP BY label, pos
    ), cnorm AS (
        SELECT label, CAST(SUM(mq * mq) AS BIGINT) AS cn FROM cent
        GROUP BY label
    ), qex AS (
        SELECT vec_id AS qid,
               CAST(UNNEST(RANGE(1, LEN(embedding) + 1)) AS INT) AS pos,
               CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS qq
        FROM embeddings WHERE vec_id < {_Q_MAX}
    ), qnorm AS (
        SELECT qid, CAST(SUM(qq * qq) AS BIGINT) AS qn FROM qex GROUP BY qid
    ), csim AS (
        SELECT q.qid, c.label,
               CAST(SUM(q.qq * c.mq) AS DOUBLE)
                   / SQRT(CAST(qn.qn AS DOUBLE) * cn.cn) AS s
        FROM qex q
        JOIN cent c ON c.pos = q.pos
        JOIN qnorm qn ON qn.qid = q.qid
        JOIN cnorm cn ON cn.label = c.label
        GROUP BY q.qid, c.label, qn.qn, cn.cn
    ), cellrank AS (
        SELECT qid, label,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY s DESC, label) AS rc
        FROM csim
    ), sz AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_cell
        FROM embeddings WHERE vec_id >= {_Q_MAX} GROUP BY label
    ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus,
               CAST(COUNT(DISTINCT CASE WHEN vec_id < {_Q_MAX}
                                        THEN vec_id END) AS BIGINT) AS n_q
        FROM embeddings
    ), probes AS (
        SELECT CAST(UNNEST([{', '.join(str(p) for p in _IVF_PROBES)}])
                    AS BIGINT) AS nprobe
    ), hits AS (
        SELECT pr.nprobe,
               CAST(COUNT(*) FILTER (WHERE cr.rc <= pr.nprobe) AS BIGINT)
                   AS n_hits
        FROM truth t
        JOIN cellrank cr ON cr.qid = t.qid AND cr.label = t.clabel
        CROSS JOIN probes pr
        GROUP BY pr.nprobe
    ), scan AS (
        SELECT pr.nprobe,
               CAST(SUM(s.n_cell) AS BIGINT) AS cells_scanned
        FROM cellrank cr
        JOIN sz s ON s.label = cr.label
        CROSS JOIN probes pr
        WHERE cr.rc <= pr.nprobe
        GROUP BY pr.nprobe
    )
    SELECT h.nprobe,
           ROUND(CAST(h.n_hits AS DOUBLE) / (10.0 * nn.n_q), 6)
               AS mean_recall_at_10,
           ROUND(CAST(sc.cells_scanned AS DOUBLE)
                 / (CAST(nn.n_q AS DOUBLE) * (nn.n_corpus - nn.n_q)), 6)
               AS mean_scan_frac
    FROM hits h JOIN scan sc ON sc.nprobe = h.nprobe CROSS JOIN nn
    ORDER BY h.nprobe
    """,
)
def sim_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF design curve: recall@10 vs fraction-of-corpus-scanned at
    nprobe ∈ {1,2,4,8}, measured against the EXACT top-10 (the same
    quantized-cosine truth the other retrieval grades use) — the table
    an engineer reads to pick nprobe before pointing the index at
    100 TB (cf. ``sketch_cms_width_sweep``'s accuracy-for-memory table,
    this is accuracy-for-scan). Coarse cells are the label partitions
    (the ``ivf_prepare`` layout); cell ranking uses floor-quantized
    integer centroid/query dot products, and both the recall mean and
    the scan-fraction mean reduce as exact integer hit/size totals over
    a common denominator — no float accumulation anywhere.

    Scale: one corpus pass builds centroids (shuffle ∝ cells·dims), one
    broadcast query×cell ranking, and the truth join; recall is graded
    on the 50-query probe set exactly as a production index audit
    samples its own traffic."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= _Q_MAX)
    cex = corpus.select(
        "label", F.posexplode("embedding").alias("pos0", "x")
    ).select(
        "label",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.floor(F.col("x").cast("double") * F.lit(1e6))
        .cast("bigint")
        .alias("q"),
    )
    cent = cex.groupBy("label", "pos").agg(
        F.floor(F.sum("q").cast("double") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("mq")
    )
    cnorm = cent.groupBy("label").agg(
        F.sum(F.col("mq") * F.col("mq")).cast("bigint").alias("cn")
    )
    qex = (
        emb.filter(F.col("vec_id") < _Q_MAX)
        .select(
            F.col("vec_id").alias("qid"),
            F.posexplode("embedding").alias("pos0", "x"),
        )
        .select(
            "qid",
            (F.col("pos0") + 1).cast("int").alias("pos"),
            F.floor(F.col("x").cast("double") * F.lit(1e6))
            .cast("bigint")
            .alias("qq"),
        )
    )
    qnorm = qex.groupBy("qid").agg(
        F.sum(F.col("qq") * F.col("qq")).cast("bigint").alias("qn")
    )
    csim = (
        qex.join(F.broadcast(cent), "pos")
        .groupBy("qid", "label")
        .agg(F.sum(F.col("qq") * F.col("mq")).cast("bigint").alias("dot"))
        .join(F.broadcast(qnorm), "qid")
        .join(F.broadcast(cnorm), "label")
        .select(
            "qid",
            "label",
            (
                F.col("dot").cast("double")
                / F.sqrt(F.col("qn").cast("double") * F.col("cn"))
            ).alias("s"),
        )
    )
    wc = Window.partitionBy("qid").orderBy(F.desc("s"), "label")
    cellrank = csim.select(
        "qid", "label", F.row_number().over(wc).alias("rc")
    )
    truth = (
        _ranked_pairs(spark, sf_dir)
        .filter(F.col("rn") <= 10)
        .select("qid", "clabel")
    )
    sz = corpus.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cell")
    )
    nn = emb.agg(
        F.count_if(F.col("vec_id") >= _Q_MAX).cast("bigint").alias("n_corpus_only"),
        F.count_if(F.col("vec_id") < _Q_MAX).cast("bigint").alias("n_q"),
    ).select(
        (F.col("n_corpus_only") + F.col("n_q")).alias("n_corpus"),
        "n_q",
        F.col("n_corpus_only"),
    )
    probes = spark.createDataFrame(
        [(int(p),) for p in _IVF_PROBES], "nprobe bigint"
    )
    hits = (
        truth.join(
            cellrank,
            (truth.qid == cellrank.qid) & (truth.clabel == cellrank.label),
        )
        .select(cellrank.rc)
        .crossJoin(F.broadcast(probes))
        .groupBy("nprobe")
        .agg(F.count_if(F.col("rc") <= F.col("nprobe")).cast("bigint").alias("n_hits"))
    )
    scan = (
        cellrank.join(F.broadcast(sz), "label")
        .crossJoin(F.broadcast(probes))
        .filter(F.col("rc") <= F.col("nprobe"))
        .groupBy("nprobe")
        .agg(F.sum("n_cell").cast("bigint").alias("cells_scanned"))
    )
    return (
        hits.join(scan, "nprobe")
        .crossJoin(F.broadcast(nn))
        .select(
            "nprobe",
            F.round(
                F.col("n_hits").cast("double") / (10.0 * F.col("n_q")), 6
            ).alias("mean_recall_at_10"),
            F.round(
                F.col("cells_scanned").cast("double")
                / (F.col("n_q").cast("double") * F.col("n_corpus_only")),
                6,
            ).alias("mean_scan_frac"),
        )
        .orderBy("nprobe")
    )
