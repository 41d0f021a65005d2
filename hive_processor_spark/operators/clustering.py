"""Embedding clustering (k-means) — the semantic-clustering pass behind
topic bucketing, cluster-balanced sampling, and semantic dedup at corpus
scale.

Spelled as pure DataFrame ops: assignment is a broadcast cross join against
the k-row centroid table + a rank window (k·n score rows, never n²);
re-estimation is a per-dimension quantized sum (exact.py discipline applied
per array slot), so the centroids — and therefore the final assignment —
are bit-identical at any parallelism, which is what makes a 2-iteration
unrolled DuckDB oracle hash-match (Tier-H, rare for an ML operator).

At 100 TB: per iteration one broadcast join (centroids are KiB) + one
shuffle on (cluster, dim) bounded by k·dims groups — the standard
distributed Lloyd step. More iterations = a driver loop over the same two
stages with lineage checkpoints every few rounds (dedup_cluster's
discipline); k grows past broadcast size → IVF-style cell partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_processor_spark.engine import register
from hive_processor_spark.functions.vector import (
    SQL_DOT_Q,
    SQL_SQ_NORM_Q,
    centroid_vectors,
    dot_q,
    sq_dist_q,
    sq_norm_q,
)
from hive_processor_spark.sources.tables import load_table

_K = 4
_MEAN_SCALE = 1e9  # per-dimension quantization for centroid re-estimation


def _assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, embedding, cluster): nearest centroid by squared L2
    distance, |v|² dropped (constant per vector), ties → lowest cluster id."""
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "cluster",
        (
            -2.0 * dot_q(F.col("embedding"), F.col("centroid"))
            + sq_norm_q(F.col("centroid"))
        ).alias("score"),
    )
    w = Window.partitionBy("vec_id").orderBy("score", "cluster")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "cluster")
    )


def _recenter(assigned: DataFrame) -> DataFrame:
    """(cluster, centroid): per-dimension quantized mean of the members."""
    per_dim = (
        assigned.select(
            "cluster", F.posexplode("embedding").alias("pos", "val")
        )
        .groupBy("cluster", "pos")
        .agg(
            (
                F.sum(
                    F.floor(F.col("val").cast("double") * _MEAN_SCALE).cast(
                        "decimal(28,0)"
                    )
                ).cast("double")
                / (_MEAN_SCALE * F.count(F.lit(1)))
            ).alias("m")
        )
    )
    return per_dim.groupBy("cluster").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
        ).alias("centroid")
    )


_SQL_ASSIGN = f"""
        SELECT vec_id, embedding, cluster FROM (
            SELECT e.vec_id, e.embedding, c.cluster,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY -2.0 * {SQL_DOT_Q.format(a='e.embedding', b='c.centroid')}
                                + {SQL_SQ_NORM_Q.format(v='c.centroid')},
                                c.cluster
                   ) AS rn
            FROM embeddings e CROSS JOIN {{cents}} c
        ) WHERE rn = 1
"""

# RANGE(1, 65): the fixture embeddings are 64-dimensional (TESTDATA.md).
_SQL_RECENTER = f"""
        SELECT cluster, LIST(m ORDER BY i) AS centroid FROM (
            SELECT cluster, i,
                   CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {_MEAN_SCALE!r})
                                 AS DECIMAL(28,0))) AS DOUBLE)
                       / ({_MEAN_SCALE!r} * COUNT(*)) AS m
            FROM {{assigned}}, (SELECT UNNEST(RANGE(1, 65)) AS i)
            GROUP BY cluster, i
        ) GROUP BY cluster
"""


@register(
    "embed_kmeans",
    f"""
    WITH cent0 AS (
        SELECT CAST(vec_id AS INT) AS cluster,
               LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS centroid
        FROM embeddings WHERE vec_id < {_K}
    ), assign1 AS ({_SQL_ASSIGN.format(cents='cent0')}
    ), cent1 AS ({_SQL_RECENTER.format(assigned='assign1')}
    ), assign2 AS ({_SQL_ASSIGN.format(cents='cent1')}
    )
    SELECT cluster,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(vec_id) AS BIGINT) AS min_member
    FROM assign2
    GROUP BY cluster
    ORDER BY cluster
    """,
)
def embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means (k=4, 2 unrolled Lloyd iterations) over the embedding corpus:
    seeds are the first k vectors, assignment is broadcast-join + rank
    window, re-estimation is a per-dimension quantized mean. Returns
    per-cluster membership stats; bit-stable, so the DuckDB twin of the
    whole two-round dance hash-matches."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    cents = emb.filter(F.col("vec_id") < _K).select(
        F.col("vec_id").cast("int").alias("cluster"),
        F.col("embedding").alias("centroid"),
    )
    assigned = _assign(emb, cents)
    cents = _recenter(assigned)
    assigned = _assign(emb, cents)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vec_id").alias("min_member"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# Product quantization — the memory side of the 100 TB ANN stack (IVF
# partitions the corpus, PQ compresses it: 64 float32 dims → 8 nibble
# codes ≈ 64× smaller residency for the scan phase).
# ---------------------------------------------------------------------------
_PQ_SUBS = 8  # subspaces
_PQ_SUBDIM = 8  # dims per subspace (8 × 8 = 64-dim fixture vectors)
_PQ_K = 16  # codebook entries per subspace


def _pq_subvectors(emb: DataFrame) -> DataFrame:
    """(vec_id, s, sub): the 8-dim slice of each vector per subspace."""
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice("embedding", s * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("sub"),
            )
            for s in range(_PQ_SUBS)
        ]
    )
    return emb.select("vec_id", F.explode(subs).alias("x")).select(
        "vec_id", "x.s", "x.sub"
    )


def _pq_codebooks(sub: DataFrame) -> DataFrame:
    """(s, k, centroid): per-subspace 16-entry codebook — seeds are the
    first 16 vectors' subvectors, refined by one quantized Lloyd step."""
    seeds = sub.filter(F.col("vec_id") < _PQ_K).select(
        "s", F.col("vec_id").cast("int").alias("k"), F.col("sub").alias("centroid")
    )
    scored = sub.join(F.broadcast(seeds), "s").select(
        "vec_id", "s", "sub", "k", sq_dist_q(F.col("sub"), F.col("centroid")).alias("d")
    )
    w = Window.partitionBy("vec_id", "s").orderBy("d", "k")
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", "sub", "k")
    )
    per_dim = (
        assigned.select("s", "k", F.posexplode("sub").alias("pos", "val"))
        .groupBy("s", "k", "pos")
        .agg(
            (
                F.sum(F.floor(F.col("val").cast("double") * 1e9).cast("decimal(28,0)"))
                .cast("double")
                / (1e9 * F.count(F.lit(1)))
            ).alias("m")
        )
    )
    return per_dim.groupBy("s", "k").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "m"))), lambda x: x.m
        ).alias("centroid")
    )


def _pq_sqd_sql(a: str, b: str, dims: int) -> str:
    """DuckDB twin of :func:`~hive_processor_spark.functions.vector.sq_dist_q`
    over ``dims``-element lists."""
    return (
        f"(CAST(LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, {dims + 1}),"
        f" i -> CAST(FLOOR((CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * 1e12) AS BIGINT)), 'sum') AS DOUBLE) / 1e12)"
    )


def _pq_sql() -> str:
    """Oracle for ``sim_ann_pq`` (round-9 Tier-H promotion): the full PQ
    pipeline — subspace slicing, seed assignment, ONE quantized Lloyd
    recenter, encoding, the query's ADC table, the top-50 shortlist by
    summed subdistances, and the exact rerank — mirrored CTE-for-stage.
    Every distance is the quantized integer-term sum of sq_dist_q and
    every mean is the floor(·1e9) decimal fold, so the codebooks (not
    just the final ranking) agree bit-for-bit. Stage CTEs are
    MATERIALIZED: inlining re-derives the codebook train per reference."""
    sqd8 = _pq_sqd_sql("t.sub", "c.centroid", _PQ_SUBDIM)
    sqd8_books = _pq_sqd_sql("t.sub", "b.centroid", _PQ_SUBDIM)
    sqd8_adc = _pq_sqd_sql("q.qsub", "b.centroid", _PQ_SUBDIM)
    sqd64 = _pq_sqd_sql("e.embedding", "qv.qvec", _PQ_SUBS * _PQ_SUBDIM)
    return f"""
    WITH sub AS MATERIALIZED (
        SELECT vec_id, g.s,
               embedding[g.s * {_PQ_SUBDIM} + 1 : g.s * {_PQ_SUBDIM}
                         + {_PQ_SUBDIM}] AS sub
        FROM embeddings, (SELECT UNNEST(RANGE(0, {_PQ_SUBS})) AS s) g
    ), seeds AS MATERIALIZED (
        SELECT s, CAST(vec_id AS INT) AS k, sub AS centroid
        FROM sub WHERE vec_id < {_PQ_K}
    ), assigned AS MATERIALIZED (
        SELECT vec_id, s, sub, k FROM (
            SELECT t.vec_id, t.s, t.sub, c.k,
                   ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.s
                       ORDER BY {sqd8}, c.k) AS rn
            FROM sub t JOIN seeds c ON c.s = t.s
        ) x WHERE rn = 1
    ), books AS MATERIALIZED (
        SELECT s, k,
               LIST(m ORDER BY pos) AS centroid
        FROM (
            SELECT s, k, pos,
                   CAST(SUM(CAST(FLOOR(CAST(sub[pos] AS DOUBLE) * 1e9)
                                 AS HUGEINT)) AS DOUBLE)
                       / (1e9 * COUNT(*)) AS m
            FROM assigned, (SELECT UNNEST(RANGE(1, {_PQ_SUBDIM + 1})) AS pos) p
            GROUP BY s, k, pos
        ) t GROUP BY s, k
    ), codes AS MATERIALIZED (
        SELECT vec_id, s, k FROM (
            SELECT t.vec_id, t.s, b.k,
                   ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.s
                       ORDER BY {sqd8_books}, b.k) AS rn
            FROM sub t JOIN books b ON b.s = t.s
        ) x WHERE rn = 1
    ), qsub AS (
        SELECT s, sub AS qsub FROM sub WHERE vec_id = 0
    ), adc AS MATERIALIZED (
        SELECT b.s, b.k, {sqd8_adc} AS qd
        FROM books b JOIN qsub q ON q.s = b.s
    ), shortlist AS MATERIALIZED (
        SELECT c.vec_id,
               CAST(SUM(CAST(FLOOR(a.qd * 1e9) AS HUGEINT)) AS DOUBLE)
                   / 1e9 AS approx_dist
        FROM codes c JOIN adc a ON a.s = c.s AND a.k = c.k
        WHERE c.vec_id <> 0
        GROUP BY c.vec_id
        ORDER BY approx_dist, c.vec_id
        LIMIT 50
    ), qv AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
    SELECT sl.vec_id,
           ROUND({sqd64}, 6) AS exact_dist,
           ROUND(sl.approx_dist, 6) AS approx_dist
    FROM shortlist sl
    JOIN embeddings e ON e.vec_id = sl.vec_id, qv
    ORDER BY ROUND({sqd64}, 6), sl.vec_id
    LIMIT 10
    """


@register("sim_ann_pq", _pq_sql())
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search with exact rerank: train 8×16 sub-codebooks (one quantized
    Lloyd step from fixed seeds), encode every vector as 8 codes, shortlist
    the ADC top-50 for query vec 0 by summing 128 precomputed
    subdistances, then rerank the shortlist with the exact quantized L2 —
    the standard two-stage production shape (compressed scan → exact
    rerank of a small candidate set). All math uses the quantized kernels,
    so results are bit-stable at any parallelism. At 100 TB the codebooks +
    ADC table are KiB-sized broadcasts, encoded vectors are ~64× smaller
    than raw floats, the scan is a map-side lookup-sum per row, and only
    the 50-row shortlist ever touches full-precision vectors again
    (composes with sim_ann_ivf's cell pruning for the full stack).
    Round-9 Tier-H promotion: the whole pipeline — codebook train
    included — is mirrored stage-for-stage in the DuckDB oracle
    (_pq_sql), so the differential checks the CODEBOOKS, the codes, the
    ADC shortlist and the reranked answer, not just the 10 output rows."""
    from hive_processor_spark.operators.similarity import (
        ann_plane_frame,
        ann_plane_pinned,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )

    # Codebook train + corpus encode are pure functions of (fixture,
    # constants) — session-pinned on the shared ANN plane bundle
    # (round-10, VERDICT r9 item 2): the hot path is the ADC shortlist +
    # exact rerank, the parts that actually depend on the query.
    bundle = ann_plane_pinned(spark, sf_dir)
    books = ann_plane_frame(
        bundle, "pq_books", lambda: _pq_codebooks(_pq_subvectors(emb))
    )

    def _build_codes() -> DataFrame:
        # Encode: nearest codebook entry per (vector, subspace).
        scored = _pq_subvectors(emb).join(F.broadcast(books), "s").select(
            "vec_id",
            "s",
            "k",
            sq_dist_q(F.col("sub"), F.col("centroid")).alias("d"),
        )
        w = Window.partitionBy("vec_id", "s").orderBy("d", "k")
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "s", "k")
        )

    codes = ann_plane_frame(bundle, "pq_codes", _build_codes)

    # ADC table for query vec 0: distance from each of its subvectors to
    # every codebook entry (8 × 16 rows, broadcast).
    qsub = _pq_subvectors(emb.filter(F.col("vec_id") == 0)).select(
        "s", F.col("sub").alias("qsub")
    )
    adc = (
        books.join(qsub, "s")
        .select("s", "k", sq_dist_q(F.col("qsub"), F.col("centroid")).alias("qd"))
    )
    shortlist = (
        codes.join(F.broadcast(adc), ["s", "k"])
        .groupBy("vec_id")
        .agg(
            (
                F.sum(F.floor(F.col("qd") * 1e9).cast("decimal(28,0)")).cast(
                    "double"
                )
                / 1e9
            ).alias("approx_dist")
        )
        .filter(F.col("vec_id") != 0)
        .orderBy("approx_dist", "vec_id")
        .limit(50)
    )
    # Exact rerank of the 50-row shortlist against the full-precision query.
    qvec = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    return (
        shortlist.join(emb, "vec_id")
        .crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            F.round(sq_dist_q(F.col("embedding"), F.col("qvec")), 6).alias(
                "exact_dist"
            ),
            F.round("approx_dist", 6).alias("approx_dist"),
        )
        .orderBy("exact_dist", "vec_id")
        .limit(10)
    )


@register(
    "ml_nearest_centroid",
    """
    WITH e AS (
        SELECT vec_id, label, i - 1 AS dim,
               CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings, (SELECT UNNEST(RANGE(1, 65)) AS i) g
    ), cent AS (
        SELECT label AS clabel, dim,
               CAST(SUM(CAST(FLOOR(x * 1e9) AS DECIMAL(28,0))) AS DOUBLE)
                   / 1e9 / COUNT(*) AS cx
        FROM e GROUP BY label, dim
    ), cnorm AS (
        SELECT clabel,
               CAST(SUM(CAST(FLOOR(cx * cx * 1e12) AS DECIMAL(28,0))) AS DOUBLE)
                   / 1e12 AS nrm
        FROM cent GROUP BY clabel
    ), score AS (
        SELECT e.vec_id, e.label, c.clabel,
               CAST(SUM(CAST(FLOOR(e.x * c.cx * 1e12) AS DECIMAL(28,0)))
                    AS DOUBLE) / 1e12 AS dot
        FROM e JOIN cent c ON c.dim = e.dim
        GROUP BY e.vec_id, e.label, c.clabel
    ), ranked AS (
        SELECT s.vec_id, s.label, s.clabel,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                  ORDER BY s.dot / SQRT(n.nrm) DESC, s.clabel)
                   AS rn
        FROM score s JOIN cnorm n ON n.clabel = s.clabel
    ), pred AS (
        SELECT vec_id, label AS truth, clabel AS guess
        FROM ranked WHERE rn = 1
    ), conf AS (
        SELECT CAST(k.c AS INT) AS label,
               COUNT(*) FILTER (WHERE pred.truth = k.c) AS support,
               COUNT(*) FILTER (WHERE pred.guess = k.c) AS predicted_n,
               COUNT(*) FILTER (WHERE pred.truth = k.c AND pred.guess = k.c)
                   AS tp
        FROM pred, (SELECT UNNEST(RANGE(0, 10)) AS c) k
        GROUP BY k.c
    )
    SELECT label,
           CAST(support AS BIGINT) AS support,
           CAST(predicted_n AS BIGINT) AS predicted_n,
           CAST(tp AS BIGINT) AS tp,
           ROUND(CAST(tp AS DOUBLE) / NULLIF(predicted_n, 0), 6) AS precision,
           ROUND(CAST(tp AS DOUBLE) / NULLIF(support, 0), 6) AS recall,
           ROUND(CAST(2 * tp AS DOUBLE) / NULLIF(predicted_n + support, 0), 6)
               AS f1
    FROM conf ORDER BY label
    """,
)
def ml_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification with resubstitution
    scoring: per-label centroids from quantized per-dimension means,
    cosine-argmax prediction, per-class precision/recall/F1 — the
    embarrassingly-aggregable baseline classifier an engine can fit and
    grade without any ML runtime. Everything is exploded (vec, dim)
    aggregation: centroids shuffle O(labels × dims), scores come from a
    dim-keyed join against the 640-row broadcast centroid frame and reduce
    to O(vecs × labels) — no pairwise vector math, which is what lets the
    same plan classify a 100 TB corpus in one pass. The cosine argmax
    tie-breaks on label, and all sums are floor-quantized, so predictions
    are bit-stable."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "xf")
    ).select("vec_id", "label", "dim", F.col("xf").cast("double").alias("x"))
    cent = e.groupBy(F.col("label").alias("clabel"), "dim").agg(
        (
            F.sum(F.floor(F.col("x") * 1e9).cast("decimal(28,0)")).cast("double")
            / 1e9
            / F.count(F.lit(1))
        ).alias("cx")
    )
    cnorm = cent.groupBy("clabel").agg(
        (
            F.sum(
                F.floor(F.col("cx") * F.col("cx") * 1e12).cast("decimal(28,0)")
            ).cast("double")
            / 1e12
        ).alias("nrm")
    )
    score = (
        e.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            (
                F.sum(
                    F.floor(F.col("x") * F.col("cx") * 1e12).cast("decimal(28,0)")
                ).cast("double")
                / 1e12
            ).alias("dot")
        )
    )
    sim = F.col("dot") / F.sqrt(F.col("nrm"))
    w = Window.partitionBy("vec_id").orderBy(sim.desc(), F.col("clabel"))
    pred = (
        score.join(F.broadcast(cnorm), "clabel")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", F.col("clabel").alias("pred"))
    )
    classes = spark.range(10).select(F.col("id").cast("int").alias("c"))
    conf = (
        pred.crossJoin(F.broadcast(classes))
        .groupBy("c")
        .agg(
            F.count_if(F.col("label") == F.col("c")).alias("support"),
            F.count_if(F.col("pred") == F.col("c")).alias("predicted_n"),
            F.count_if(
                (F.col("label") == F.col("c")) & (F.col("pred") == F.col("c"))
            ).alias("tp"),
        )
    )
    d = lambda c: c.cast("double")  # noqa: E731
    return conf.select(
        F.col("c").alias("label"),
        F.col("support").cast("bigint").alias("support"),
        F.col("predicted_n").cast("bigint").alias("predicted_n"),
        F.col("tp").cast("bigint").alias("tp"),
        F.round(
            d(F.col("tp")) / F.nullif(d(F.col("predicted_n")), F.lit(0.0)), 6
        ).alias("precision"),
        F.round(d(F.col("tp")) / F.nullif(d(F.col("support")), F.lit(0.0)), 6).alias(
            "recall"
        ),
        F.round(
            d(2 * F.col("tp"))
            / F.nullif(d(F.col("predicted_n") + F.col("support")), F.lit(0.0)),
            6,
        ).alias("f1"),
    ).orderBy("label")


_SIL_CENTROID_CTE = """
    WITH ex AS (
        SELECT label,
               CAST(UNNEST(RANGE(1, LEN(embedding) + 1)) AS INT) AS pos,
               CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS q
        FROM embeddings
    ), cent AS (
        SELECT label, pos,
               CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1000000.0 AS m
        FROM ex GROUP BY label, pos
    ), cvec AS (
        SELECT label AS lc, LIST(m ORDER BY pos) AS cv
        FROM cent GROUP BY label
    )
"""


@register(
    "embed_silhouette",
    _SIL_CENTROID_CTE
    + """
    , dists AS (
        SELECT e.vec_id, e.label, c.lc,
               SQRT(CAST(LIST_AGGREGATE(LIST_TRANSFORM(
                   RANGE(1, LEN(e.embedding) + 1),
                   i -> CAST(FLOOR((CAST(e.embedding[i] AS DOUBLE) - c.cv[i])
                             * (CAST(e.embedding[i] AS DOUBLE) - c.cv[i])
                             * 1e12) AS BIGINT)), 'sum') AS DOUBLE) / 1e12)
                   AS d
        FROM embeddings e CROSS JOIN cvec c
    ), ab AS (
        SELECT vec_id, label,
               MIN(CASE WHEN lc = label THEN d END) AS a,
               MIN(CASE WHEN lc <> label THEN d END) AS b
        FROM dists GROUP BY vec_id, label
    ), sq AS (
        SELECT label,
               CAST(FLOOR(a * 1e6) AS BIGINT) AS aq,
               CAST(FLOOR(b * 1e6) AS BIGINT) AS bq,
               CAST(FLOOR((b - a) / GREATEST(a, b) * 1e6) AS BIGINT) AS sil_q
        FROM ab
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(aq) AS DOUBLE) / COUNT(*) / 1e6, 4)
               AS mean_intra_dist,
           ROUND(CAST(SUM(bq) AS DOUBLE) / COUNT(*) / 1e6, 4)
               AS mean_nearest_dist,
           ROUND(CAST(SUM(sil_q) AS DOUBLE) / COUNT(*) / 1e6, 4)
               AS silhouette
    FROM sq GROUP BY label
    ORDER BY label
    """,
)
def embed_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per label cluster
    (Hruschka et al. '04 — the O(n·k) variant sklearn's docs call the
    scalable stand-in for O(n²) silhouette): a(x) = distance to own
    centroid, b(x) = distance to nearest other centroid, s = (b−a)/
    max(a,b). The cluster-quality score that licenses a k choice —
    pairs with ``embed_kmeans`` / ``sim_ivf_cell_stats``.

    Every per-dimension mean is integer-quantized (the ``sim_centroid``
    discipline), distances are quantized-term folds, and the per-point
    a/b/s values are floor-quantized before the per-label mean, so the
    whole report is bit-stable. Scale: k centroid arrays broadcast to a
    map-only distance pass — n·k work, no shuffle after the tiny
    centroid aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    cvec = centroid_vectors(emb).toDF("lc", "cv")
    d = F.sqrt(sq_dist_q(F.col("embedding"), F.col("cv")))
    dists = emb.crossJoin(F.broadcast(cvec)).select(
        "vec_id", "label", "lc", d.alias("d")
    )
    ab = dists.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("lc") == F.col("label"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("lc") != F.col("label"), F.col("d"))).alias("b"),
    )
    sq = ab.select(
        "label",
        F.floor(F.col("a") * 1e6).cast("long").alias("aq"),
        F.floor(F.col("b") * 1e6).cast("long").alias("bq"),
        F.floor(
            (F.col("b") - F.col("a"))
            / F.greatest(F.col("a"), F.col("b"))
            * 1e6
        )
        .cast("long")
        .alias("sil_q"),
    )
    return (
        sq.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("aq").cast("double") / F.count(F.lit(1)) / 1e6, 4).alias(
                "mean_intra_dist"
            ),
            F.round(F.sum("bq").cast("double") / F.count(F.lit(1)) / 1e6, 4).alias(
                "mean_nearest_dist"
            ),
            F.round(F.sum("sil_q").cast("double") / F.count(F.lit(1)) / 1e6, 4).alias(
                "silhouette"
            ),
        )
        .orderBy("label")
    )


_KCENTER_K = 8


def _kcenter_sql() -> str:
    def dist(a: str, b: str) -> str:
        diff = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        return (
            f"SQRT(CAST(LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, LEN({a}) + 1), "
            f"i -> CAST(FLOOR({diff} * {diff} * 1e12) AS BIGINT)), 'sum') "
            f"AS DOUBLE) / 1e12)"
        )

    ctes = [
        "s1 AS (SELECT e.vec_id, e.embedding, "
        + dist("e.embedding", "c.cemb")
        + " AS dmin FROM embeddings e CROSS JOIN "
        "(SELECT embedding AS cemb FROM embeddings WHERE vec_id = 0) c)"
    ]
    rows = ["SELECT 1 AS round, CAST(0 AS BIGINT) AS center_vec_id, "
            "0.0 AS sel_dist"]
    for r in range(2, _KCENTER_K + 1):
        ctes.append(
            f"p{r} AS (SELECT vec_id, embedding, dmin FROM s{r - 1} "
            f"ORDER BY dmin DESC, vec_id LIMIT 1)"
        )
        rows.append(
            f"SELECT {r}, CAST(vec_id AS BIGINT), ROUND(dmin, 4) FROM p{r}"
        )
        if r < _KCENTER_K:
            ctes.append(
                f"s{r} AS (SELECT s.vec_id, s.embedding, LEAST(s.dmin, "
                + dist("s.embedding", "p.embedding")
                + f") AS dmin FROM s{r - 1} s CROSS JOIN p{r} p)"
            )
    return (
        "WITH " + ",\n    ".join(ctes)
        + "\n    SELECT * FROM (" + " UNION ALL ".join(rows)
        + ") t ORDER BY round"
    )


@register("embed_kcenter_coreset", _kcenter_sql())
def embed_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (Gonzalez '85 farthest-point traversal,
    k = 8, seeded at vec_id 0): each round adds the point farthest from
    the current center set and reports the distance at selection — a
    decreasing sequence that 2-approximates the optimal covering radius,
    and the standard diversity-sampling pass for "pick k maximally
    spread exemplars" in data curation. The min-distance state is a pure
    lineage column: every round is one map pass (broadcast of the
    singleton new center) plus one TakeOrderedAndProject argmax — no
    driver collect, the round count bounds the unroll exactly like
    ``embed_kmeans``'s Lloyd iterations. Distances fold through
    1e12-quantized terms, and the argmax tie-breaks on vec_id, so the
    traversal is engine-deterministic.

    The running dmin frame and each round's 1-row argmax are
    localCheckpoint-ed (the dedup_cluster per-iteration discipline):
    without it the unioned result plan re-evaluates every earlier
    round's TakeOrdered subplan inside every later round — O(k²)
    nested jobs at collect (measured 3.8 s → this keeps each round a
    single small job while staying collect-free)."""
    emb = load_table(spark, sf_dir, "embeddings")

    def dist(center_col: str):
        return F.sqrt(sq_dist_q(F.col("embedding"), F.col(center_col)))

    c1 = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("cemb")
    )
    s = emb.crossJoin(F.broadcast(c1)).select(
        "vec_id", "embedding", dist("cemb").alias("dmin")
    )
    out = [
        s.limit(0).select(
            F.lit(1).alias("round"),
            F.lit(0).cast("bigint").alias("center_vec_id"),
            F.lit(0.0).alias("sel_dist"),
        ).unionAll(
            emb.filter(F.col("vec_id") == 0).select(
                F.lit(1).alias("round"),
                F.col("vec_id").cast("bigint").alias("center_vec_id"),
                F.lit(0.0).alias("sel_dist"),
            )
        )
    ]
    for r in range(2, _KCENTER_K + 1):
        # materialize the 1-row argmax: without this every later round's
        # dmin lineage re-evaluates ALL previous rounds' TakeOrdered
        # subplans (O(k^2) nested jobs at collect) — the same
        # per-iteration checkpoint discipline as dedup_cluster
        p = s.orderBy(F.desc("dmin"), "vec_id").limit(1).localCheckpoint()
        out.append(
            p.select(
                F.lit(r).alias("round"),
                F.col("vec_id").cast("bigint").alias("center_vec_id"),
                F.round("dmin", 4).alias("sel_dist"),
            )
        )
        if r < _KCENTER_K:
            s = (
                s.crossJoin(
                    F.broadcast(p.select(F.col("embedding").alias("cemb")))
                )
                .select(
                    "vec_id",
                    "embedding",
                    F.least(F.col("dmin"), dist("cemb")).alias("dmin"),
                )
                .localCheckpoint()
            )
    res = out[0]
    for df in out[1:]:
        res = res.unionAll(df)
    return res.orderBy("round")


@register(
    "embed_davies_bouldin",
    _SIL_CENTROID_CTE
    + """
    , own AS (
        SELECT e.label,
               SQRT(CAST(LIST_AGGREGATE(LIST_TRANSFORM(
                   RANGE(1, LEN(e.embedding) + 1),
                   i -> CAST(FLOOR((CAST(e.embedding[i] AS DOUBLE) - c.cv[i])
                             * (CAST(e.embedding[i] AS DOUBLE) - c.cv[i])
                             * 1e12) AS BIGINT)), 'sum') AS DOUBLE) / 1e12)
                   AS d
        FROM embeddings e JOIN cvec c ON c.lc = e.label
    ), sig AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(d * 1e6) AS BIGINT)) AS DOUBLE)
                   / COUNT(*) / 1e6 AS sigma
        FROM own GROUP BY label
    ), cd AS (
        SELECT a.lc AS la, b.lc AS lb,
               SQRT(CAST(LIST_AGGREGATE(LIST_TRANSFORM(
                   RANGE(1, LEN(a.cv) + 1),
                   i -> CAST(FLOOR((a.cv[i] - b.cv[i]) * (a.cv[i] - b.cv[i])
                             * 1e12) AS BIGINT)), 'sum') AS DOUBLE) / 1e12)
                   AS dc
        FROM cvec a JOIN cvec b ON a.lc <> b.lc
    ), ratio AS (
        SELECT cd.la AS label, cd.lb AS other,
               (sa.sigma + sb.sigma) / cd.dc AS r
        FROM cd JOIN sig sa ON sa.label = cd.la
                JOIN sig sb ON sb.label = cd.lb
    ), mx AS (
        SELECT label, MAX(r) AS r FROM ratio GROUP BY label
    ), worst AS (
        SELECT m.label, MIN(t.other) AS worst_other, m.r
        FROM mx m JOIN ratio t ON t.label = m.label AND t.r = m.r
        GROUP BY m.label, m.r
    )
    SELECT w.label, s.n,
           ROUND(s.sigma, 4) AS sigma,
           w.worst_other,
           ROUND(w.r, 4) AS db_component,
           ROUND((SELECT AVG(r) FROM worst), 4) AS db_index
    FROM worst w JOIN sig s ON s.label = w.label
    ORDER BY w.label
    """,
)
def embed_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies–Bouldin cluster-validity index over the labeled embedding
    clusters: per cluster the worst (σ_i+σ_j)/d(c_i,c_j) similarity
    ratio with the offending neighbor named, and the global DB index
    (mean of the per-cluster worsts — lower is better-separated). The
    third validity lens next to ``embed_silhouette`` (per-point) and
    ``embed_kmeans`` inertia (per-assignment): DB reads cluster
    GEOMETRY — scatter vs centroid separation — and is the one that
    flags two tight clusters sitting on top of each other even when
    silhouette still looks decent. σ comes from the same broadcast-
    centroid map-only distance pass (per-point distances floor-quantized
    at 1e-6 before the per-label mean); the ratio grid is k(k−1) rows of
    scalar algebra; the argmax is max-then-rejoin with MIN(other) on
    exact ties, so both engines pick the same neighbor deterministically.

    Scale: n·dim map work under a k-centroid broadcast, one k-sized
    aggregate, a k² metadata grid — nothing grows superlinearly."""
    emb = load_table(spark, sf_dir, "embeddings")
    cvec = centroid_vectors(emb).toDF("lc", "cv")
    own = emb.join(
        F.broadcast(cvec), F.col("lc") == F.col("label")
    ).select("label", F.sqrt(sq_dist_q(F.col("embedding"), F.col("cv"))).alias("d"))
    sig = own.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.sum(F.floor(F.col("d") * 1e6).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 1e6
        ).alias("sigma"),
    )
    a = cvec.select(F.col("lc").alias("la"), F.col("cv").alias("cva"))
    b = cvec.select(F.col("lc").alias("lb"), F.col("cv").alias("cvb"))
    cd = a.join(b, F.col("la") != F.col("lb")).select(
        "la",
        "lb",
        F.sqrt(sq_dist_q(F.col("cva"), F.col("cvb"))).alias("dc"),
    )
    sa = sig.select(
        F.col("label").alias("la"), F.col("sigma").alias("sig_a")
    )
    sb = sig.select(
        F.col("label").alias("lb"), F.col("sigma").alias("sig_b")
    )
    ratio = cd.join(F.broadcast(sa), "la").join(
        F.broadcast(sb), "lb"
    ).select(
        F.col("la").alias("label"),
        F.col("lb").alias("other"),
        ((F.col("sig_a") + F.col("sig_b")) / F.col("dc")).alias("r"),
    )
    mx = ratio.groupBy("label").agg(F.max("r").alias("r"))
    worst = (
        mx.join(ratio.withColumnRenamed("r", "r2"), "label")
        .filter(F.col("r2") == F.col("r"))
        .groupBy("label", "r")
        .agg(F.min("other").alias("worst_other"))
    )
    db = worst.agg(F.avg("r").alias("dbi"))
    return (
        worst.join(sig, "label")
        .crossJoin(F.broadcast(db))
        .select(
            "label",
            "n",
            F.round("sigma", 4).alias("sigma"),
            "worst_other",
            F.round("r", 4).alias("db_component"),
            F.round("dbi", 4).alias("db_index"),
        )
        .orderBy("label")
    )
