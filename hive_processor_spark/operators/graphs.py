"""Graph traversal over a derived similarity graph — BFS reachability by
level, the breadth-first counterpart of the pointer-jumping connected
components in dedup.py (dispatched through the registry surface the
reference exposes via ``Processor.call``, reference ``src/processor.ts:57-89``).

The graph is *derived, not stored*: a deterministic 3-NN graph over the
embeddings table (quantized cosine, vec_id tie-break), symmetrized. That is
the graph a dedup/curation pipeline actually walks — "which documents are
within k hops of this seed in similarity space".

Scale shape: BFS as bounded bulk-synchronous frontier expansion — each hop
is one join of the current frontier against the edge list (shuffle keyed on
node id), exactly how Pregel-style systems do it; the hop count bounds the
iteration, and every hop's frontier is deduped with an anti-join before the
next expansion so the frontier never re-visits. No driver-side graph, no
collect — the loop builds one declarative plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_processor_spark.engine import PIN_LOCK, register
from hive_processor_spark.functions.vector import dot_q, sq_norm_q, sql_cosine_q
from hive_processor_spark.sources.tables import load_table

#: Graph over the first 200 vectors; BFS from node 0, ≤ 6 hops.
_N = 200
_K = 3
_MAX_HOPS = 6

_SQL_EDGES = f"""
        SELECT a.vec_id AS src, b.vec_id AS dst,
               {sql_cosine_q('a.embedding', 'b.embedding')} AS sim
        FROM embeddings a JOIN embeddings b
          ON a.vec_id < {_N} AND b.vec_id < {_N} AND a.vec_id <> b.vec_id
"""


#: One pinned kNN edge list per (session, fixture dir). The four
#: edge-reusing graph metrics each persist() this derived list; without a
#: shared handle a full registry sweep would accumulate four unreleased
#: cache entries per pass until LRU eviction (round-3 ADVICE). Bounding the
#: cache to a single entry — unpersisting the previous pin on replacement —
#: caps the pinned footprint at one edge list AND lets consecutive graph
#: queries in the same sweep reuse the materialization for free.
_EDGE_CACHE: dict[tuple[str, str], DataFrame] = {}


def _knn_edges_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _EDGE_CACHE.get(key)
    if hit is not None:
        return hit
    with PIN_LOCK:
        hit = _EDGE_CACHE.get(key)
        if hit is not None:
            return hit
        for k in list(_EDGE_CACHE):
            try:
                _EDGE_CACHE.pop(k).unpersist()
            except Exception:
                pass  # stale session handle — nothing left to release
        df = _knn_edges(spark, sf_dir).persist()
        _EDGE_CACHE[key] = df
        return df


def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized 3-NN edge list over the first _N embeddings."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _N)
    a = (
        emb.repartition(spark.sparkContext.defaultParallelism)
        .select(
            F.col("vec_id").alias("src"),
            F.col("embedding").alias("va"),
            sq_norm_q(F.col("embedding")).alias("na"),
        )
    )
    b = emb.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("vb"),
        sq_norm_q(F.col("embedding")).alias("nb"),
    )
    # norms once per row + probe side spread across cores (single-file
    # fixture: the nested-loop pair fan-out would otherwise be one task)
    pairs = a.join(F.broadcast(b), F.col("src") != F.col("dst")).select(
        "src",
        "dst",
        (
            dot_q(F.col("va"), F.col("vb"))
            / F.sqrt(F.col("na") * F.col("nb"))
        ).alias("sim"),
    )
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(), F.col("dst"))
    knn = pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _K
    )
    return (
        knn.select("src", "dst")
        .unionAll(knn.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )


@register(
    "graph_bfs_levels",
    f"""
    WITH RECURSIVE p AS ({_SQL_EDGES}
    ), knn AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY sim DESC, dst) AS rn
            FROM p
        ) t WHERE rn <= {_K}
    ), e AS (
        SELECT src, dst FROM knn
        UNION
        SELECT dst AS src, src AS dst FROM knn
    ), r AS (
        SELECT CAST(0 AS BIGINT) AS node, 0 AS lvl
        UNION
        SELECT e.dst AS node, r.lvl + 1 AS lvl
        FROM r JOIN e ON e.src = r.node
        WHERE r.lvl < {_MAX_HOPS}
    ), first_seen AS (
        SELECT node, MIN(lvl) AS lvl FROM r GROUP BY node
    )
    SELECT CAST(lvl AS INT) AS level,
           CAST(COUNT(*) AS BIGINT) AS nodes,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM first_seen GROUP BY lvl ORDER BY level
    """,
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS levels from a seed document in the 3-NN similarity graph: how
    many nodes are first reached at hop 1, 2, … 6 — the "blast radius" of
    a near-dup seed, and the reachability primitive behind contamination
    spread analysis. Spark side runs bounded BSP frontier expansion (one
    frontier⋈edges join + anti-join dedup per hop — the Pregel shape);
    the DuckDB oracle proves the same answer with a recursive CTE.
    Every hop shuffles only the frontier, never the visited set, and the
    derived 3-NN edge list is the only O(n²)-built input (at 100 TB the
    edge list comes from the IVF/LSH candidate generator instead; the
    traversal is unchanged)."""
    # Materialized edge list — every hop re-joins it, and without a
    # barrier the O(n²) kNN derivation re-runs per hop and the
    # visited-set lineage doubles per iteration (measured 73 s → ~3 s).
    # Round-9: consume the session PIN (_knn_edges_pinned) that the other
    # seven edge-reusing graph metrics already share, instead of building
    # a private checkpoint — one derivation per (session, fixture).
    edges = _knn_edges_pinned(spark, sf_dir)
    # Round-9 hop-loop haircut: no per-hop visited anti-join. Each hop
    # expands the (distinct) h-step reach set — a node re-reached on a
    # longer walk is deduplicated by the final MIN(lvl), exactly the
    # oracle's first_seen aggregation. Per-hop work becomes one
    # broadcast-hash expand + one distinct (≤ |nodes| rows per hop, so
    # 6·|edges| total — the pagerank round shape, linear at any scale),
    # and two broadcast builds per hop disappear. The fixture graph
    # broadcasts whole; at 100 TB the same loop runs with a shuffled
    # frontier⋈edges hash join — only the hints change.
    seed = spark.createDataFrame([(0, 0)], "node: bigint, lvl: int")
    levels = [seed]
    frontier = seed
    for hop in range(1, _MAX_HOPS + 1):
        frontier = (
            frontier.join(F.broadcast(edges), frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"), F.lit(hop).alias("lvl"))
            .distinct()
            .localCheckpoint(eager=True)  # truncate per-hop lineage
        )
        levels.append(frontier)
    reach = levels[0]
    for df in levels[1:]:
        reach = reach.unionAll(df)
    first_seen = reach.groupBy("node").agg(F.min("lvl").alias("lvl"))
    return (
        first_seen.groupBy(F.col("lvl").cast("int").alias("level"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nodes"),
            F.min("node").cast("bigint").alias("min_node"),
            F.max("node").cast("bigint").alias("max_node"),
        )
        .orderBy("level")
    )


@register(
    "graph_clustering_coeff",
    f"""
    WITH p AS ({_SQL_EDGES}
    ), knn AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY sim DESC, dst) AS rn
            FROM p
        ) t WHERE rn <= {_K}
    ), e AS (
        SELECT src, dst FROM knn
        UNION
        SELECT dst AS src, src AS dst FROM knn
    ), deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM e GROUP BY 1
    ), wedge AS (
        SELECT e1.src AS node, e1.dst AS b, e2.dst AS c
        FROM e e1 JOIN e e2
          ON e1.src = e2.src AND e1.dst < e2.dst
    ), closed AS (
        SELECT w.node, CAST(COUNT(*) AS BIGINT) AS tri
        FROM wedge w JOIN e ON e.src = w.b AND e.dst = w.c
        GROUP BY 1
    )
    SELECT CAST(d.node AS BIGINT) AS node, d.degree,
           CAST(COALESCE(cl.tri, 0) AS BIGINT) AS triangles,
           ROUND(CASE WHEN d.degree >= 2
                      THEN 2.0 * COALESCE(cl.tri, 0)
                           / (d.degree * (d.degree - 1))
                      ELSE 0.0 END, 6) AS clustering_coeff
    FROM deg d LEFT JOIN closed cl ON cl.node = d.node
    ORDER BY node
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the 3-NN similarity
    graph: closed wedges / possible wedges — "do my nearest neighbors
    also neighbor each other", the transitivity signal that separates a
    tight duplicate cluster from a hub that merely touches many loose
    docs. Shape: wedge enumeration is an edge⋈edge self-join keyed on
    the center node (shuffle on node id, wedge count bounded by
    Σ deg²), closure is one more hash join probing the edge set — the
    standard distributed triangle-count plan, no driver graph. Counts
    are exact integers; the coefficient is one final ratio. At 100 TB
    the same plan runs with degree-capped adjacency (drop hubs past a
    df-cap, exactly like the shingle df-cap in dedup) to bound Σ deg²."""
    edges = _knn_edges_pinned(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    e1 = edges.select(F.col("src").alias("node"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("node2"), F.col("dst").alias("c"))
    wedge = e1.join(
        e2, (F.col("node") == F.col("node2")) & (F.col("b") < F.col("c"))
    ).select("node", "b", "c")
    probe = edges.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    closed = (
        wedge.join(probe, ["b", "c"])
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tri"))
    )
    out = (
        deg.join(closed, "node", "left")
        .select(
            F.col("node").cast("bigint").alias("node"),
            "degree",
            F.coalesce(F.col("tri"), F.lit(0)).cast("bigint").alias("triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0
                    * F.coalesce(F.col("tri"), F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                ).otherwise(0.0),
                6,
            ).alias("clustering_coeff"),
        )
        .orderBy("node")
    )
    return out


@register(
    "graph_label_propagation",
    f"""
    WITH p AS ({_SQL_EDGES}
    ), knn AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY sim DESC, dst) AS rn
            FROM p
        ) t WHERE rn <= {_K}
    ), e AS (
        SELECT src, dst FROM knn
        UNION
        SELECT dst AS src, src AS dst FROM knn
    ), nodes AS (
        SELECT vec_id AS node, label FROM embeddings WHERE vec_id < {_N}
    ), l0 AS (
        SELECT node,
               CASE WHEN node % 2 = 0 THEN label ELSE -1 END AS lbl
        FROM nodes
    ), v1 AS (
        SELECT e.src AS node, l.lbl, CAST(COUNT(*) AS BIGINT) AS c
        FROM e JOIN l0 l ON l.node = e.dst AND l.lbl >= 0
        GROUP BY 1, 2
    ), b1 AS (
        SELECT node, lbl FROM (
            SELECT node, lbl,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY c DESC, lbl) AS rn
            FROM v1
        ) t WHERE rn = 1
    ), l1 AS (
        SELECT l0.node,
               CASE WHEN l0.lbl >= 0 THEN l0.lbl
                    ELSE COALESCE(b1.lbl, -1) END AS lbl
        FROM l0 LEFT JOIN b1 ON b1.node = l0.node
    ), v2 AS (
        SELECT e.src AS node, l.lbl, CAST(COUNT(*) AS BIGINT) AS c
        FROM e JOIN l1 l ON l.node = e.dst AND l.lbl >= 0
        GROUP BY 1, 2
    ), b2 AS (
        SELECT node, lbl FROM (
            SELECT node, lbl,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY c DESC, lbl) AS rn
            FROM v2
        ) t WHERE rn = 1
    ), l2 AS (
        SELECT l1.node,
               CASE WHEN l1.lbl >= 0 THEN l1.lbl
                    ELSE COALESCE(b2.lbl, -1) END AS lbl
        FROM l1 LEFT JOIN b2 ON b2.node = l1.node
    )
    SELECT CAST(l2.node AS BIGINT) AS node,
           CAST(l2.lbl AS INT) AS label,
           CASE WHEN l0.lbl >= 0 THEN 'seed'
                WHEN l1.lbl >= 0 THEN 'round1'
                WHEN l2.lbl >= 0 THEN 'round2'
                ELSE 'unlabeled' END AS origin
    FROM l2 JOIN l1 ON l1.node = l2.node JOIN l0 ON l0.node = l2.node
    ORDER BY node
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the 3-NN similarity graph:
    even vec_ids are seeds (keep their true class), odd nodes adopt the
    majority label among their LABELED neighbors, two synchronous
    rounds, seeds clamped — the cheap transductive classifier that
    labels a mostly-unlabeled corpus from a small seeded subset (and
    the per-round shape of community detection). Each round is one
    frontier-style hash join (edges ⋈ current labels) + a grouped vote
    + a per-node argmax window with the deterministic (count DESC,
    label ASC) tie-break — the Pregel BSP step as declarative ops, no
    driver graph. Votes are exact integer counts; at 100 TB each round
    shuffles ∝ edges, exactly like the connected-components and BFS
    siblings."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _N)
    edges = _knn_edges_pinned(spark, sf_dir)  # shared session pin (round-9)
    cur = emb.select(
        F.col("vec_id").alias("node"),
        F.when(F.col("vec_id") % 2 == 0, F.col("label"))
        .otherwise(F.lit(-1))
        .cast("int")
        .alias("lbl"),
    )
    origin = F.when(F.col("lbl") >= 0, F.lit("seed")).otherwise(
        F.lit("unlabeled")
    )
    snap = [cur]
    for _round in (1, 2):
        labeled = snap[-1].filter(F.col("lbl") >= 0).select(
            F.col("node").alias("lnode"), F.col("lbl").alias("nlbl")
        )
        votes = (
            edges.join(labeled, edges["dst"] == F.col("lnode"))
            .groupBy(F.col("src").alias("node"), F.col("nlbl"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("c").desc(), F.col("nlbl")
        )
        best = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("nlbl").alias("blbl"))
        )
        nxt = (
            snap[-1]
            .join(best, "node", "left")
            .select(
                "node",
                F.when(F.col("lbl") >= 0, F.col("lbl"))
                .otherwise(F.coalesce(F.col("blbl"), F.lit(-1)))
                .cast("int")
                .alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        snap.append(nxt)
    l0, l1, l2 = (
        s.withColumnRenamed("lbl", f"lbl{i}") for i, s in enumerate(snap)
    )
    return (
        l2.join(l1, "node")
        .join(l0, "node")
        .select(
            F.col("node").cast("bigint").alias("node"),
            F.col("lbl2").cast("int").alias("label"),
            F.when(F.col("lbl0") >= 0, F.lit("seed"))
            .when(F.col("lbl1") >= 0, F.lit("round1"))
            .when(F.col("lbl2") >= 0, F.lit("round2"))
            .otherwise(F.lit("unlabeled"))
            .alias("origin"),
        )
        .orderBy("node")
    )


@register(
    "graph_matmul_2hop",
    f"""
    WITH p AS ({_SQL_EDGES}
    ), knn AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY sim DESC, dst) AS rn
            FROM p
        ) t WHERE rn <= {_K}
    ), e AS (
        SELECT src, dst FROM knn
        UNION
        SELECT dst AS src, src AS dst FROM knn
    ), a2 AS (
        SELECT e1.src AS i, e2.dst AS k, CAST(COUNT(*) AS BIGINT) AS paths
        FROM e e1 JOIN e e2 ON e2.src = e1.dst
        WHERE e1.src <> e2.dst
        GROUP BY 1, 2
    ), flagged AS (
        SELECT a2.i, a2.k, a2.paths,
               CAST(CASE WHEN d.src IS NOT NULL THEN 1 ELSE 0 END AS INT)
                   AS direct_edge
        FROM a2 LEFT JOIN e d ON d.src = a2.i AND d.dst = a2.k
    )
    SELECT CAST(i AS BIGINT) AS node_i, CAST(k AS BIGINT) AS node_k,
           paths, direct_edge
    FROM flagged
    ORDER BY paths DESC, node_i, node_k LIMIT 20
    """,
)
def graph_matmul_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse matrix multiplication as join+aggregate: A² of the 3-NN
    similarity graph's adjacency matrix — the 2-hop path count between
    every node pair — with the top-20 strongest 2-hop connections and
    whether a direct edge already exists (no direct edge + many 2-hop
    paths = the link-prediction candidates). The relational matmul
    shape IS edges⋈edges on the shared middle index + GROUP BY the
    outer pair: the exact plan every distributed sparse matmul (graph
    engines, GNN samplers) lowers to — shuffle keyed on the contraction
    index, output ∝ nonzeros of A². Counts are exact; top-20 is an
    integer ORDER BY with full tie-breaks."""
    edges = _knn_edges_pinned(spark, sf_dir)
    e1 = edges.select(F.col("src").alias("i"), F.col("dst").alias("j"))
    e2 = edges.select(F.col("src").alias("j2"), F.col("dst").alias("k"))
    a2 = (
        e1.join(e2, F.col("j") == F.col("j2"))
        .filter(F.col("i") != F.col("k"))
        .groupBy("i", "k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("paths"))
    )
    direct = edges.select(
        F.col("src").alias("i"), F.col("dst").alias("k"), F.lit(1).alias("de")
    )
    flagged = a2.join(direct, ["i", "k"], "left").select(
        "i",
        "k",
        "paths",
        F.coalesce(F.col("de"), F.lit(0)).cast("int").alias("direct_edge"),
    )
    return (
        flagged.select(
            F.col("i").cast("bigint").alias("node_i"),
            F.col("k").cast("bigint").alias("node_k"),
            "paths",
            "direct_edge",
        )
        .orderBy(F.col("paths").desc(), "node_i", "node_k")
        .limit(20)
    )


@register(
    "graph_assortativity",
    f"""
    WITH p AS ({_SQL_EDGES}
    ), knn AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY sim DESC, dst) AS rn
            FROM p
        ) t WHERE rn <= {_K}
    ), e AS (
        SELECT src, dst FROM knn
        UNION
        SELECT dst AS src, src AS dst FROM knn
    ), deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1
    ), pairs AS (
        SELECT da.d AS di, db.d AS dj
        FROM e JOIN deg da ON da.node = e.src
        JOIN deg db ON db.node = e.dst
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(di) AS BIGINT) AS si,
               CAST(SUM(dj) AS BIGINT) AS sj,
               CAST(SUM(di * dj) AS BIGINT) AS sij,
               CAST(SUM(di * di) AS BIGINT) AS sii,
               CAST(SUM(dj * dj) AS BIGINT) AS sjj
        FROM pairs
    )
    SELECT CAST(m AS BIGINT) AS n_directed_edges,
           ROUND(CAST(si AS DOUBLE) / m, 4) AS mean_degree_at_edge,
           ROUND((CAST(m AS DOUBLE) * sij - CAST(si AS DOUBLE) * sj)
                 / SQRT((CAST(m AS DOUBLE) * sii - CAST(si AS DOUBLE) * si)
                        * (CAST(m AS DOUBLE) * sjj
                           - CAST(sj AS DOUBLE) * sj)), 6)
               AS assortativity
    FROM s
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the 3-NN similarity graph: the Pearson
    correlation of endpoint degrees across all (directed) edges —
    positive means hubs link to hubs (social-network shape), negative
    means hubs link to leaves (star/hub-and-spoke shape, typical for
    similarity kNN graphs where a few central docs absorb everyone's
    neighbor slots). Degrees are exact integer counts; the edge-level
    degree pairing is two hash joins of the edge list against the
    degree table; the correlation is exact-integer sufficient
    statistics. Same plan at any graph size — the standard two-join
    graph-metric shape."""
    edges = _knn_edges_pinned(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    pairs = (
        edges.join(
            deg.withColumnRenamed("node", "na").withColumnRenamed("d", "di"),
            F.col("na") == F.col("src"),
        )
        .join(
            deg.withColumnRenamed("node", "nb").withColumnRenamed("d", "dj"),
            F.col("nb") == F.col("dst"),
        )
        .select("di", "dj")
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("di").cast("bigint").alias("si"),
        F.sum("dj").cast("bigint").alias("sj"),
        F.sum(F.col("di") * F.col("dj")).cast("bigint").alias("sij"),
        F.sum(F.col("di") * F.col("di")).cast("bigint").alias("sii"),
        F.sum(F.col("dj") * F.col("dj")).cast("bigint").alias("sjj"),
    )
    md = F.col("m").cast("double")
    r = (
        md * F.col("sij") - F.col("si").cast("double") * F.col("sj")
    ) / F.sqrt(
        (md * F.col("sii") - F.col("si").cast("double") * F.col("si"))
        * (md * F.col("sjj") - F.col("sj").cast("double") * F.col("sj"))
    )
    return s.select(
        F.col("m").alias("n_directed_edges"),
        F.round(F.col("si").cast("double") / F.col("m"), 4).alias(
            "mean_degree_at_edge"
        ),
        F.round(r, 6).alias("assortativity"),
    )


@register(
    "graph_label_modularity",
    f"""
    WITH p AS ({_SQL_EDGES}
    ), knn AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY sim DESC, dst) AS rn
            FROM p
        ) t WHERE rn <= {_K}
    ), e AS (
        SELECT src, dst FROM knn
        UNION
        SELECT dst AS src, src AS dst FROM knn
    ), lab AS (
        SELECT vec_id AS node, label FROM embeddings WHERE vec_id < {_N}
    ), le AS (
        SELECT la.label AS li, lb.label AS lj
        FROM e JOIN lab la ON la.node = e.src
        JOIN lab lb ON lb.node = e.dst
    ), m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM le),
    within AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS w FROM le WHERE li = lj
    ), degsum AS (
        SELECT li AS label, CAST(COUNT(*) AS BIGINT) AS d FROM le GROUP BY 1
    ), expect AS (
        SELECT CAST(SUM(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sd2
        FROM degsum
    )
    SELECT CAST(m.m2 AS BIGINT) AS n_directed_edges,
           ROUND(CAST(within.w AS DOUBLE) / m.m2, 6) AS within_class_frac,
           ROUND(CAST(expect.sd2 AS DOUBLE) / (CAST(m.m2 AS DOUBLE) * m.m2),
                 6) AS expected_frac,
           ROUND(CAST(within.w AS DOUBLE) / m.m2
                 - CAST(expect.sd2 AS DOUBLE)
                   / (CAST(m.m2 AS DOUBLE) * m.m2), 6) AS modularity
    FROM m CROSS JOIN within CROSS JOIN expect
    """,
)
def graph_label_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the LABEL partition on the 3-NN similarity
    graph: the within-class edge fraction minus its degree-preserving
    expectation Σ(d_c/2m)² — "do the embedding classes form actual
    graph communities, or do neighbors ignore class" (Q ≈ 0 for
    isotropic synthetic embeddings — the test pins that honesty; Q
    near the theoretical max flags class-clustered embeddings where
    per-class ANN sharding would pay). Edge-class mixing is two hash
    joins of the edge list against the label table; everything reduces
    to exact integer edge counts and one fixed-form expression."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _N)
    edges = _knn_edges_pinned(spark, sf_dir)
    lab = emb.select(F.col("vec_id").alias("node"), "label")
    le = (
        edges.join(
            lab.withColumnRenamed("node", "na").withColumnRenamed(
                "label", "li"
            ),
            F.col("na") == F.col("src"),
        )
        .join(
            lab.withColumnRenamed("node", "nb").withColumnRenamed(
                "label", "lj"
            ),
            F.col("nb") == F.col("dst"),
        )
        .select("li", "lj")
    )
    m2 = le.agg(F.count(F.lit(1)).cast("bigint").alias("m2"))
    within = le.filter(F.col("li") == F.col("lj")).agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )
    degsum = le.groupBy("li").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    expect = degsum.agg(
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias("sd2")
    )
    j = m2.crossJoin(F.broadcast(within)).crossJoin(F.broadcast(expect))
    wf = F.col("w").cast("double") / F.col("m2")
    ef = F.col("sd2").cast("double") / (
        F.col("m2").cast("double") * F.col("m2")
    )
    return j.select(
        F.col("m2").alias("n_directed_edges"),
        F.round(wf, 6).alias("within_class_frac"),
        F.round(ef, 6).alias("expected_frac"),
        F.round(wf - ef, 6).alias("modularity"),
    )


#: HITS/Katz run on the customer→supplier bipartite graph derived from
#: orders ⋈ lineitem (distinct pairs) — a directed purchase graph the
#: fixture actually contains, unlike a synthetic follower graph.
_HITS_TOP = 15

#: One pinned distinct purchase-edge list per (session, fixture dir) —
#: round-12 opt pass (r11 verdict item 5, extending the ``_knn_edges``
#: pin discipline). ``graph_hits_bipartite`` consumes the edge frame in
#: THREE sweep subtrees and ``graph_katz_paths`` in FIVE; each evaluation
#: re-ran the orders ⋈ lineitem join + distinct per subtree (static plans:
#: plans/r12/graph_{hits_bipartite,katz_paths}_before.txt carry the
#: repeated Exchange hashpartitioning(l_orderkey) scans). The pin derives
#: it once per session: lineage-backed persist (evicted blocks recompute,
#: never wrong), LRU-1 (replacing a pin unpersists the old one), keyed on
#: applicationId so a new session never reads stale state. Size law
#: (SCALING.md): |e| = distinct (custkey, suppkey) pairs ≤ min(|lineitem|,
#: |customer|·|supplier|) — the domain product saturates at scale, so the
#: pin is a reduced aggregate, not a data copy. Attributed in bench.py's
#: PINNED_FAMILIES as ``purchase_edges``.
_PURCHASE_EDGE_CACHE: dict[tuple[str, str], DataFrame] = {}


def _purchase_edges_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (c=o_custkey, s=l_suppkey) purchase edges, session-pinned."""
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _PURCHASE_EDGE_CACHE.get(key)
    if hit is not None:
        return hit
    with PIN_LOCK:
        hit = _PURCHASE_EDGE_CACHE.get(key)
        if hit is not None:
            return hit
        for k in list(_PURCHASE_EDGE_CACHE):
            try:
                _PURCHASE_EDGE_CACHE.pop(k).unpersist()
            except Exception:
                pass  # stale session handle — nothing left to release
        orders = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        df = (
            orders.join(li, li.l_orderkey == orders.o_orderkey)
            .select(
                F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
            )
            .distinct()
            .persist()
        )
        _PURCHASE_EDGE_CACHE[key] = df
        return df


@register(
    "graph_hits_bipartite",
    f"""
    WITH e AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), a1 AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS v FROM e GROUP BY s
    ), h1 AS (
        SELECT e.c, CAST(SUM(a1.v) AS BIGINT) AS v
        FROM e JOIN a1 ON a1.s = e.s GROUP BY e.c
    ), h1q AS (
        SELECT c, CAST(FLOOR(v * 1000000.0 / (SELECT MAX(v) FROM h1))
                       AS BIGINT) AS q
        FROM h1
    ), a2 AS (
        SELECT e.s, CAST(SUM(h1q.q) AS BIGINT) AS v
        FROM e JOIN h1q ON h1q.c = e.c GROUP BY e.s
    ), a2q AS (
        SELECT s, CAST(FLOOR(v * 1000000.0 / (SELECT MAX(v) FROM a2))
                       AS BIGINT) AS q
        FROM a2
    ), top_a AS (
        SELECT 'authority' AS role, CAST(s AS BIGINT) AS node,
               ROUND(q / 1000000.0, 6) AS score,
               ROW_NUMBER() OVER (ORDER BY q DESC, s) AS rn
        FROM a2q
    ), top_h AS (
        SELECT 'hub' AS role, CAST(c AS BIGINT) AS node,
               ROUND(q / 1000000.0, 6) AS score,
               ROW_NUMBER() OVER (ORDER BY q DESC, c) AS rn
        FROM h1q
    )
    SELECT role, node, score, CAST(rn AS INT) AS rn
    FROM (SELECT * FROM top_a WHERE rn <= {_HITS_TOP}
          UNION ALL
          SELECT * FROM top_h WHERE rn <= {_HITS_TOP}) t
    ORDER BY role, rn
    """,
)
def graph_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg '99) on the customer→supplier purchase graph:
    customers are hubs, suppliers authorities; two mutual-reinforcement
    sweeps (a = Eᵀh, h = Ea) with max-normalization on the EMITTED
    score vectors. The float contagion that makes power iteration
    hash-hostile never arises: the first sweep folds raw integer
    in-degrees directly (h₁ = Σ_{s∈N(c)} deg(s) — exact BIGINT, no
    intermediate normalize needed since a₁ is never emitted), and the
    two emitted vectors (hubs h₁, authorities a₂) are floor-quantized
    to ·1e6/max integers at their barrier — all cross-row sums are
    exact integer sums and the iteration is engine-mirrorable to the
    last bit. Dropping the a₁ quantize removes one checkpoint + one
    max-agg barrier from the sequential chain (round-6 second pass).

    Scale: each sweep is one shuffle keyed on the joined endpoint — the
    standard BSP matvec (same shape as ``graph_pagerank``); the distinct
    edge list reduces 100 TB of line items once up front. The top-15
    per role is TakeOrderedAndProject (orderBy+limit), never a global
    row_number shuffle-to-one-partition.

    Materialization (round-6 third pass, reversing the checkpoint
    note): with a₁'s barrier gone the whole query is ONE declarative
    plan under a single sink action, so exchange reuse — applied by AQE
    at runtime, which is why the static ``explain`` shows the repeated
    subtrees rather than ReusedExchange nodes — can serve the
    multi-consumer subtrees: e's distinct exchange feeds a₁/h₁/a₂, and
    each sweep aggregate's exchange feeds both its max-agg broadcast
    and the next sweep. The earlier localCheckpoint pinning existed to
    bridge the three-quantize chain's JOB boundaries; it also forced 4
    eager actions per evaluation, which cost more than the reuse saved
    once the chain shrank (3.00→1.84 s in BENCH_r06.json's driver run;
    best-of-N protocol in BENCH_VARIANCE.md). Sweep
    joins carry NO broadcast hint: the score side is node-count-sized
    and grows with scale, so the build-side choice is left to AQE's
    runtime size stats (broadcast at fixture scale, shuffle at 100 TB).

    Round-12 opt pass: the edge list is the session pin
    ``_purchase_edges_pinned`` (shared with ``graph_katz_paths``) — one
    orders ⋈ lineitem distinct per session instead of one per sweep
    subtree per evaluation."""
    e = _purchase_edges_pinned(spark, sf_dir)

    def quantize(df: DataFrame, key: str) -> DataFrame:
        # scalar max rides in as a broadcast 1-row frame; within the one
        # sink action ReusedExchange serves both consumers of df's
        # aggregate exchange, so no checkpoint barrier is needed
        mx = df.agg(F.max("v").alias("mx"))
        return df.crossJoin(F.broadcast(mx)).select(
            key,
            F.floor(F.col("v") * 1000000.0 / F.col("mx"))
            .cast("bigint")
            .alias("q"),
        )

    # first sweep: raw integer in-degrees fold straight into h1 — a1 is
    # never emitted, so it needs neither normalization nor a barrier
    a1 = e.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    h1 = (
        e.join(a1, "s")
        .groupBy("c")
        .agg(F.sum("v").cast("bigint").alias("v"))
    )
    h1q = quantize(h1, "c")
    a2 = (
        e.join(h1q, "c")
        .groupBy("s")
        .agg(F.sum("q").cast("bigint").alias("v"))
    )
    a2q = quantize(a2, "s")

    def top(df: DataFrame, key: str, role: str) -> DataFrame:
        # TakeOrderedAndProject bounds the frame to 15 rows; the rank
        # window then runs over that provably-limited input
        lim = df.orderBy(F.desc("q"), F.asc(key)).limit(_HITS_TOP)
        w = Window.orderBy(F.desc("q"), F.asc(key))
        return lim.select(
            F.lit(role).alias("role"),
            F.col(key).cast("bigint").alias("node"),
            F.round(F.col("q") / 1000000.0, 6).alias("score"),
            F.row_number().over(w).alias("rn"),
        )

    return (
        top(a2q, "s", "authority")
        .unionAll(top(h1q, "c", "hub"))
        .select("role", "node", "score", F.col("rn").cast("int").alias("rn"))
        .orderBy("role", "rn")
    )


@register(
    "graph_katz_paths",
    """
    WITH e AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), degs AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS w1 FROM e GROUP BY s
    ), degc AS (
        SELECT c, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY c
    ), w2 AS (
        SELECT e.s, CAST(SUM(degc.d) AS BIGINT) AS w2
        FROM e JOIN degc ON degc.c = e.c GROUP BY e.s
    ), cw AS (
        SELECT e.c, CAST(SUM(degs.w1) AS BIGINT) AS cw
        FROM e JOIN degs ON degs.s = e.s GROUP BY e.c
    ), w3 AS (
        SELECT e.s, CAST(SUM(cw.cw) AS BIGINT) AS w3
        FROM e JOIN cw ON cw.c = e.c GROUP BY e.s
    )
    SELECT CAST(d.s AS BIGINT) AS l_suppkey,
           d.w1 AS walks_1,
           w2.w2 AS walks_2,
           w3.w3 AS walks_3,
           CAST(100 * d.w1 + 10 * w2.w2 + w3.w3 AS BIGINT) AS katz_q
    FROM degs d JOIN w2 ON w2.s = d.s JOIN w3 ON w3.s = d.s
    ORDER BY katz_q DESC, l_suppkey
    LIMIT 20
    """,
)
def graph_katz_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz-style path-count centrality for suppliers on the purchase
    graph: walks of length 1, 2, 3 ending at each supplier (w₁ = degree,
    w₂ = Σ degrees of adjacent customers, w₃ one matvec further), and
    the attenuated score β·w₁+β²·w₂+β³·w₃ with β = 0.1 held as the EXACT
    integer 100·w₁+10·w₂+w₃ (scaled by 1000) — no float appears anywhere,
    so the ranking is unconditionally deterministic.

    Scale: three BSP matvec joins on the reduced distinct edge list,
    each one shuffle keyed on an endpoint; walk counts stay integer and
    merge by addition (map-side combinable).

    Round-12 opt pass: the edge list is the session pin
    ``_purchase_edges_pinned`` (shared with ``graph_hits_bipartite``) —
    one orders ⋈ lineitem distinct per session instead of five subtree
    re-derivations per evaluation."""
    e = _purchase_edges_pinned(spark, sf_dir)
    degs = e.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("w1"))
    degc = e.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    w2 = (
        e.join(degc, "c").groupBy("s").agg(F.sum("d").cast("bigint").alias("w2"))
    )
    cw = (
        e.join(degs, "s").groupBy("c").agg(F.sum("w1").cast("bigint").alias("cw"))
    )
    w3 = (
        e.join(cw, "c").groupBy("s").agg(F.sum("cw").cast("bigint").alias("w3"))
    )
    return (
        degs.join(w2, "s")
        .join(w3, "s")
        .select(
            F.col("s").cast("bigint").alias("l_suppkey"),
            F.col("w1").alias("walks_1"),
            F.col("w2").alias("walks_2"),
            F.col("w3").alias("walks_3"),
            (100 * F.col("w1") + 10 * F.col("w2") + F.col("w3"))
            .cast("bigint")
            .alias("katz_q"),
        )
        .orderBy(F.desc("katz_q"), "l_suppkey")
        .limit(20)
    )


@register(
    "graph_rich_club",
    f"""
    WITH p AS ({_SQL_EDGES}
    ), knn AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY sim DESC, dst) AS rn
            FROM p
        ) t WHERE rn <= {_K}
    ), e AS (
        SELECT src, dst FROM knn
        UNION
        SELECT dst AS src, src AS dst FROM knn
    ), deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM e GROUP BY src
    ), ks AS (
        SELECT UNNEST(RANGE(3, 9)) AS k
    ), club AS (
        SELECT ks.k,
               CAST(COUNT(*) AS BIGINT) AS n_k
        FROM ks JOIN deg ON deg.d > ks.k GROUP BY ks.k
    ), ek AS (
        SELECT ks.k, CAST(COUNT(*) / 2 AS BIGINT) AS e_k
        FROM ks
        JOIN e ON TRUE
        JOIN deg da ON da.node = e.src AND da.d > ks.k
        JOIN deg db ON db.node = e.dst AND db.d > ks.k
        GROUP BY ks.k
    )
    SELECT CAST(club.k AS INT) AS k,
           club.n_k,
           COALESCE(ek.e_k, 0) AS e_k,
           ROUND(2.0 * COALESCE(ek.e_k, 0)
                 / NULLIF(club.n_k * (club.n_k - 1), 0), 6) AS phi
    FROM club LEFT JOIN ek ON ek.k = club.k
    WHERE club.n_k >= 2
    ORDER BY k
    """,
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient φ(k) of the 3-NN similarity graph: among
    nodes of degree > k, what fraction of possible edges exist? The
    hub-interconnection diagnostic (Colizza et al. '06) that
    distinguishes a hub-clique core from hubs that merely fan out —
    relevant to dedup graphs, where a rich club of near-duplicate hubs
    signals template families. Pure integer counting per k over the
    pinned kNN edge list (one degree aggregate, one per-k subset count
    of edges with both endpoints in the club), exact at any parallelism.

    Scale: reuses the session-pinned edge materialization the other
    graph metrics share; per-k work is a broadcast of the (tiny) degree
    table against the edge list."""
    edges = _knn_edges_pinned(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    ks = spark.range(3, 9).select(F.col("id").alias("k"))
    club = (
        ks.join(F.broadcast(deg), F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_k"))
    )
    da = deg.select(F.col("node").alias("src"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("dst"), F.col("d").alias("db"))
    ek = (
        ks.crossJoin(edges.join(F.broadcast(da), "src").join(F.broadcast(db), "dst"))
        .filter((F.col("da") > F.col("k")) & (F.col("db") > F.col("k")))
        .groupBy("k")
        .agg((F.count(F.lit(1)) / 2).cast("bigint").alias("e_k"))
    )
    return (
        club.join(ek, "k", "left")
        .filter(F.col("n_k") >= 2)
        .select(
            F.col("k").cast("int").alias("k"),
            "n_k",
            F.coalesce(F.col("e_k"), F.lit(0)).alias("e_k"),
            F.round(
                2.0
                * F.coalesce(F.col("e_k"), F.lit(0))
                / F.nullif(F.col("n_k") * (F.col("n_k") - 1), F.lit(0)),
                6,
            ).alias("phi"),
        )
        .orderBy("k")
    )


@register(
    "graph_label_conductance",
    f"""
    WITH p AS ({_SQL_EDGES}
    ), knn AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY sim DESC, dst) AS rn
            FROM p
        ) t WHERE rn <= {_K}
    ), e AS (
        SELECT src, dst FROM knn
        UNION
        SELECT dst AS src, src AS dst FROM knn
    ), lab AS (
        SELECT vec_id AS node, label FROM embeddings WHERE vec_id < {_N}
    ), le AS (
        SELECT la.label AS label_src, lb.label AS label_dst
        FROM e
        JOIN lab la ON la.node = e.src
        JOIN lab lb ON lb.node = e.dst
    ), m2 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS vol_all FROM le
    ), per AS (
        SELECT label_src AS label,
               CAST(COUNT(*) AS BIGINT) AS vol,
               CAST(COUNT(*) FILTER (WHERE label_dst <> label_src)
                    AS BIGINT) AS cut
        FROM le GROUP BY label_src
    )
    SELECT CAST(label AS INT) AS label,
           vol, cut,
           ROUND(CAST(cut AS DOUBLE)
                 / LEAST(vol, m2.vol_all - vol), 6) AS conductance
    FROM per CROSS JOIN m2
    ORDER BY label
    """,
)
def graph_label_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conductance φ(S) = cut(S)/min(vol(S), vol(S̄)) of each embedding
    label's node set in the 3-NN similarity graph — the community-
    quality measure spectral partitioning bounds (Cheeger), reported
    per label beside the registered global ``graph_label_modularity``:
    modularity says whether the partition beats a degree-preserving
    null OVERALL, conductance pinpoints WHICH class leaks (φ → 1 means
    that label's members wire to other classes — per-class ANN sharding
    would not pay for it). Directed half-edge counts over the pinned
    symmetric edge list make vol and cut exact integers.

    Scale: reuses the session-pinned kNN edge materialization; two
    dimension-sized label joins and a per-label rollup."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _N)
    edges = _knn_edges_pinned(spark, sf_dir)
    lab = emb.select(F.col("vec_id").alias("node"), "label")
    le = (
        edges.join(
            F.broadcast(lab.select(F.col("node").alias("src"), F.col("label").alias("label_src"))),
            "src",
        )
        .join(
            F.broadcast(lab.select(F.col("node").alias("dst"), F.col("label").alias("label_dst"))),
            "dst",
        )
        .select("label_src", "label_dst")
    )
    m2 = le.agg(F.count(F.lit(1)).cast("bigint").alias("vol_all"))
    per = le.groupBy(F.col("label_src").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("vol"),
        F.count_if(F.col("label_dst") != F.col("label_src"))
        .cast("bigint")
        .alias("cut"),
    )
    return (
        per.crossJoin(F.broadcast(m2))
        .select(
            F.col("label").cast("int").alias("label"),
            "vol",
            "cut",
            F.round(
                F.col("cut").cast("double")
                / F.least(F.col("vol"), F.col("vol_all") - F.col("vol")),
                6,
            ).alias("conductance"),
        )
        .orderBy("label")
    )


_ANF_M = 64
_ANF_WBITS = 54
_ANF_ALPHA = 0.7213 / (1.0 + 1.079 / 64.0)
_ANF_HOPS = 3


def _anf_sql_iter(prev: str, out: str) -> str:
    return f"""
    {out} AS (
        SELECT node, bucket, CAST(MAX(r) AS INTEGER) AS r FROM (
            SELECT node, bucket, r FROM {prev}
            UNION ALL
            SELECT e.src AS node, p.bucket, p.r
            FROM e JOIN {prev} p ON p.node = e.dst
        ) u GROUP BY node, bucket
    )"""


def _anf_sql_hop(reg: str, hop: int) -> str:
    est = f"""
        SELECT s.node, s.occupied, {_ANF_M} - s.occupied AS v_zero,
               CAST({_ANF_ALPHA!r} AS DOUBLE) * {_ANF_M * _ANF_M}
                   * CAST({float(2 ** (_ANF_WBITS + 1))!r} AS DOUBLE)
                   / (s.z_occ + ({_ANF_M} - s.occupied)
                      * (1::BIGINT << {_ANF_WBITS + 1})) AS raw
        FROM (SELECT node, CAST(COUNT(*) AS BIGINT) AS occupied,
                     CAST(SUM(1::BIGINT << ({_ANF_WBITS + 1} - r))
                          AS BIGINT) AS z_occ
              FROM {reg} GROUP BY node) s
    """
    return f"""
    SELECT {hop} AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           ROUND(SUM(CAST(FLOOR((CASE WHEN raw <= {2.5 * _ANF_M}
                         AND v_zero > 0
                    THEN {_ANF_M} * LN({_ANF_M} / CAST(v_zero AS DOUBLE))
                    ELSE raw END) * 1e4) AS BIGINT)) / 1e4, 4)
               AS est_reach_sum
    FROM ({est}) q
    """


@register(
    "graph_anf_hyperball",
    f"""
    WITH p AS ({_SQL_EDGES}
    ), knn AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY sim DESC, dst) AS rn
            FROM p
        ) t WHERE rn <= {_K}
    ), e AS (
        SELECT src, dst FROM knn
        UNION
        SELECT dst AS src, src AS dst FROM knn
    ), nodes AS (
        SELECT DISTINCT vec_id AS node FROM embeddings WHERE vec_id < {_N}
    ), h AS (
        SELECT node,
               (('0x' || SUBSTRING(MD5(CAST(node AS VARCHAR)), 1, 15))
                   ::BIGINT) AS h60
        FROM nodes
    ), r0 AS (
        SELECT node, CAST(h60 % {_ANF_M} AS INTEGER) AS bucket,
               CAST(CASE WHEN h60 // {_ANF_M} = 0 THEN {_ANF_WBITS + 1}
                    ELSE INSTR(LPAD(BIN(h60 // {_ANF_M}),
                                    {_ANF_WBITS}, '0'), '1')
                    END AS INTEGER) AS r
        FROM h
    ),{_anf_sql_iter('r0', 'r1')},{_anf_sql_iter('r1', 'r2')},{_anf_sql_iter('r2', 'r3')}
    SELECT * FROM (
        {_anf_sql_hop('r0', 0)}
        UNION ALL
        {_anf_sql_hop('r1', 1)}
        UNION ALL
        {_anf_sql_hop('r2', 2)}
        UNION ALL
        {_anf_sql_hop('r3', 3)}
    ) hops ORDER BY hop
    """,
)
def graph_anf_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate Neighbourhood Function via HyperBall (Boldi–Vigna
    '13; ANF of Palmer–Gibbons–Faloutsos '02): every node carries a
    64-register HyperLogLog of its k-hop ball, and one BSP sweep per
    hop max-merges each node's sketch with its neighbours' — the
    algorithm that measured Facebook's four degrees of separation,
    and THE scalable way to read reachability growth / effective
    diameter off a 100 TB graph where per-node BFS is hopeless.
    N(k) = Σᵥ |ball(v,k)| is reported per hop from the same
    engine-mirrored register math as ``sketch_hll_portable`` (60-bit
    md5 split 6-bit bucket / 54-bit rho window; integer Z sums;
    linear-counting small-range branch — which is the live branch at
    fixture ball sizes). Deterministic: identical hashes → identical
    registers → identical estimates, both engines, no seed.

    Scale: per hop ONE edges⋈registers shuffle + a (node, bucket) MAX
    rollup — register rows ≤ 64·|nodes| regardless of ball size (the
    whole point: the visited-set never materializes); the 3-NN edge
    derivation is the fixture stand-in shared by the graph family
    (IVF/LSH generator at corpus scale, graphs.py:146)."""
    e = _knn_edges_pinned(spark, sf_dir)
    nodes = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _N)
        .select(F.col("vec_id").alias("node"))
        .distinct()
    )
    h60 = F.conv(
        F.substring(F.md5(F.col("node").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    w = F.expr(f"h60 div {_ANF_M}")
    rho = F.when(w == 0, F.lit(_ANF_WBITS + 1)).otherwise(
        F.instr(F.lpad(F.bin(w), _ANF_WBITS, "0"), "1")
    )
    reg = nodes.select("node", h60.alias("h60")).select(
        "node",
        (F.col("h60") % _ANF_M).cast("int").alias("bucket"),
        rho.cast("int").alias("r"),
    )
    hops = []
    cur = reg
    for k in range(_ANF_HOPS + 1):
        state = cur.groupBy("node").agg(
            F.count(F.lit(1)).cast("bigint").alias("occupied"),
            F.sum(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), {_ANF_WBITS + 1} - r)"
                )
            )
            .cast("bigint")
            .alias("z_occ"),
        )
        v_zero = F.lit(_ANF_M) - F.col("occupied")
        z_int = F.col("z_occ") + v_zero * F.lit(
            2 ** (_ANF_WBITS + 1)
        ).cast("bigint")
        raw = (
            F.lit(_ANF_ALPHA)
            * F.lit(_ANF_M * _ANF_M)
            * F.lit(float(2 ** (_ANF_WBITS + 1)))
            / z_int
        )
        linear = F.lit(_ANF_M) * F.log(
            F.lit(_ANF_M) / v_zero.cast("double")
        )
        small = (raw <= F.lit(2.5 * _ANF_M)) & (v_zero > 0)
        est = F.when(small, linear).otherwise(raw)
        hops.append(
            state.agg(
                F.lit(k).cast("int").alias("hop"),
                F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
                F.round(
                    F.sum(F.floor(est * 1e4).cast("long")) / 1e4, 4
                ).alias("est_reach_sum"),
            )
        )
        if k < _ANF_HOPS:
            nbr = e.select(F.col("src").alias("node2"), "dst").join(
                cur.select(
                    F.col("node").alias("dst"),
                    F.col("bucket"),
                    F.col("r"),
                ),
                "dst",
            ).select(F.col("node2").alias("node"), "bucket", "r")
            cur = (
                cur.unionByName(nbr)
                .groupBy("node", "bucket")
                .agg(F.max("r").cast("int").alias("r"))
            )
    out = hops[0]
    for hdf in hops[1:]:
        out = out.unionByName(hdf)
    return out.orderBy("hop")
