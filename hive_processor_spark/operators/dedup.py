"""Document deduplication (SURVEY.md §2.2-K): exact, normalized, SimHash,
n-gram Jaccard, and MinHash-LSH.

The at-scale shapes:

- exact/normalized — one hash-groupBy; shuffle traffic ∝ distinct hashes.
- SimHash — per-doc 64-bit signature via bit-majority over token hashes
  (here 60 bits to stay in BIGINT for the oracle); near-dups then pair on
  small Hamming distance within signature buckets. Fully expression-based.
- n-gram Jaccard — shingle → explode → self-join on shingle → count
  overlap; the candidate join is bounded by shingle collision counts, the
  distributed form of suffix blocking.
- MinHash-LSH — ``pyspark.ml`` banded minhash with pinned seed; the
  approxSimilarityJoin replaces the quadratic pair scan at corpus scale.

The fixture corpus has zero exact duplicates (measured — FIXTURES.md), so
``dedup_exact``'s correct answer is the empty set; tests assert that rather
than assuming dups exist.

Public literature these operators implement: Broder, "On the resemblance
and containment of documents" (1997) — shingling + resemblance (the
n-gram Jaccard and MinHash family); Charikar, "Similarity estimation
techniques from rounding algorithms" (STOC 2002) — SimHash; the banded
LSH candidate scheme follows Leskovec/Rajaraman/Ullman, *Mining of
Massive Datasets* ch. 3; connected-components-by-label-propagation with
pointer jumping is the classic Shiloach–Vishkin (1982) shape adapted to
joins (as in CC-MR / GraphFrames).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_processor_spark.engine import register
from hive_processor_spark.functions.textexpr import guarded_fanout, ngram_join
from hive_processor_spark.functions.vector import sq_norm_q, sql_cosine_q
from hive_processor_spark.sources.tables import load_table, session_pin


@register(
    "dedup_exact",
    """
    SELECT MD5(text) AS text_md5, CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY MD5(text)
    HAVING COUNT(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_md5"))
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


@register(
    "dedup_norm",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')))
                AS BIGINT) AS n_distinct_norm
    FROM documents
    """,
)
def dedup_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization (lower + trim + whitespace collapse) before hashing —
    the first rung of near-dup removal."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(norm)).alias("n_distinct_norm"),
    )


_N_BITS = 60  # stay within BIGINT so the DuckDB oracle can mirror the math

#: Shingle document-frequency cap for the n-gram Jaccard candidate join
#: (see ``dedup_ngram_jaccard``). Far above the fixture's max df (25) so
#: test answers are provably exact; at corpus scale it bounds the hot-key
#: fan-out to O(cap²) per shingle.
MAX_SHINGLE_DF = 256


#: Shared oracle CTE producing (doc_id, simhash) — the BIGINT-mirrorable
#: signature both simhash queries build on.
_SIMHASH_SIG_SQL = f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS word
        FROM documents
    ), hashed AS (
        SELECT doc_id, ('0x' || SUBSTRING(MD5(word), 1, 15))::BIGINT AS h
        FROM tok
    ), bits AS (
        SELECT doc_id, CAST(UNNEST(RANGE(0, {_N_BITS})) AS INT) AS bit, h
        FROM hashed
    ), votes AS (
        SELECT doc_id, bit,
               SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM bits GROUP BY doc_id, bit
    ), sig AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN v > 0 THEN CAST(POWER(2, bit) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id
    )
"""


def _simhash_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): per-bit majority vote over distinct token hashes,
    60 bits of each token's md5 prefix (BIGINT-safe for the oracle).

    ZERO-SHUFFLE plan: the signature is a pure per-document map — token
    dedup (``array_distinct``), hashing, and the 60-bit vote all run
    inside one projection over the document row, so the operator is
    embarrassingly parallel at any corpus size (the previous shape
    exploded tokens and ran a wide 61-column hash aggregate: a full
    token-stream shuffle that cost 2.1× this plan at sf0.1 and would ship
    trillions of rows at 100 TB). The vote is a nested ``aggregate`` HOF:
    bit j is set iff ``2·Σ((h>>j)&1) > |distinct tokens|`` — identical to
    the oracle's exploded per-bit ±1 vote (equality property-tested and
    hash-gated). HOF lambdas are interpreted per element; that cost is
    O(60·distinct_tokens) per doc with no exchange, which beats any
    shuffle-based spelling for documents up to ~10⁵ distinct tokens."""
    arr = docs.select(
        "doc_id",
        F.expr(
            "transform(array_distinct(split(text, ' ')),"
            " w -> CAST(conv(substring(md5(w), 1, 15), 16, 10) AS LONG))"
        ).alias("hs"),
    )
    sig = F.expr(
        f"""
        aggregate(sequence(0, {_N_BITS - 1}), 0L, (acc, j) ->
          acc + shiftleft(
            CAST(2 * aggregate(hs, 0L, (a, h) -> a + ((h >> j) & 1))
                 > size(hs) AS LONG), j))
        """
    )
    return arr.select("doc_id", sig.alias("simhash"))


@register("dedup_simhash", _SIMHASH_SIG_SQL + "SELECT doc_id, simhash FROM sig")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures: per-bit majority vote over (distinct) token
    hashes. 60 bits of the tokens' md5 prefix; near-dup candidates at scale
    are pairs with small Hamming distance — see ``dedup_simhash_pairs`` for
    the banded candidate join."""
    return _simhash_sigs(load_table(spark, sf_dir, "documents"))


_N_BANDS = 6  # 6 bands × 10 bits; banding is EXACT for hamming <= _N_BANDS-1
_BAND_BITS = _N_BITS // _N_BANDS
_MAX_HAMMING = _N_BANDS - 1

#: Link-prediction wedge cap: wedges are enumerated only through via-nodes
#: of degree <= this. Wedge work is sum(deg^2); hubs adjacent to a large
#: fraction of the near-dup graph carry no common-neighbor signal (the
#: Adamic-Adar 1/log(deg) rationale taken to its limit) and are what makes
#: the unbounded join quadratic on dense duplicate clusters.
_LP_VIA_CAP = 64


@register(
    "dedup_simhash_pairs",
    _SIMHASH_SIG_SQL
    + f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_MAX_HAMMING}
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via LSH banding: split each 60-bit signature
    into 6 bands of 10 bits; docs sharing any band value become candidates,
    then the exact Hamming distance (``bit_count(a XOR b)``) filters to
    ``<= 5``.

    Pigeonhole makes this EXACT, not approximate: two signatures within
    Hamming distance 5 differ in at most 5 of the 6 bands, so at least one
    band matches and the pair is guaranteed a candidate — which is why a
    brute-force O(n²) oracle can check it tier-H. At corpus scale the
    banded join touches only colliding buckets (~8.3 M candidates vs 12.5 M
    brute-force pairs at sf0.1, and the gap widens with corpus size); a hot
    bucket is AQE's skew-split problem, bounded by dropping over-full
    buckets the way ``MAX_SHINGLE_DF`` does for shingles."""
    sig = _simhash_sigs(load_table(spark, sf_dir, "documents"))
    # Materialize the tiny bucket index once, hash-partitioned by the join
    # key: the signature job (explode × 60 bits × tokens) would otherwise
    # run twice — once per self-join side — and dominate the operator, and
    # the pinned layout makes the self-join exchange-free (same discipline
    # as the shingle index in dedup_ngram_jaccard).
    buckets = (
        sig.select(
            "doc_id",
            "simhash",
            F.explode(F.sequence(F.lit(0), F.lit(_N_BANDS - 1))).alias("band"),
        )
        .select(
            "doc_id",
            "simhash",
            "band",
            F.expr(
                f"(simhash >> (band * {_BAND_BITS})) & {(1 << _BAND_BITS) - 1}"
            ).alias("bval"),
        )
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")), "band", "bval"
        )
        .localCheckpoint(eager=True)
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    mask = (1 << _BAND_BITS) - 1
    # A pair colliding in several bands would duplicate; instead of a
    # cluster-wide DISTINCT over the candidate set (measured 4.2 s at
    # sf0.1 — the dominant cost), keep a pair only in its FIRST matching
    # band: both signatures are in hand, so "this is the minimum matching
    # band" is a map-side filter and the join's own shuffle stays the
    # operator's only exchange. Standard LSH emit-once discipline, spelled
    # as a chained CASE over the signature XOR (pure bitwise scalar ops —
    # array HOFs here are interpreted per candidate row and measured 3×
    # slower than the DISTINCT they replace).
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    first_band = F.lit(_N_BANDS - 1)
    for j in range(_N_BANDS - 2, -1, -1):
        first_band = F.when(
            (F.shiftright(xor, j * _BAND_BITS).bitwiseAND(F.lit(mask))) == 0,
            F.lit(j),
        ).otherwise(first_band)
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bval") == F.col("b.bval"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).filter(F.col("a.band") == first_band)
    hamming = F.bit_count(xor)
    return (
        cand.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= _MAX_HAMMING)
    )


#: Session pin for the hashed trigram-shingle index (round-12,
#: r11 verdict item 8): ``dedup_ngram_jaccard`` and ``dedup_containment``
#: each rebuilt the IDENTICAL (doc_id, xxhash64(shingle)) index —
#: tokenize + shingle explode + hash + by-shingle repartition + eager
#: checkpoint — per evaluation. One derivation per session instead; the
#: self-join collision mass (the operators' honest cost) is all that
#: remains per run. The pinned frame is checkpoint-backed (the by-shingle
#: layout is the point: df aggregate, hot-shingle anti-join and both
#: self-join sides reuse that one partitioning exchange-free), so
#: eviction (``tables.session_pin``) drops the handle and the checkpoint
#: blocks free on GC.
def _shingle_index_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-pinned hashed shingle index ``(doc_id, shingle)`` —
    per-doc-distinct trigram shingles, 8-byte xxhash64 ids, partitioned
    BY SHINGLE (the layout every consumer's joins reuse)."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        # Materialize the token array as a column first: referencing `w`
        # inside the transform lambda splits each text once, where an
        # inline `slice(split(text), i, 3)` re-splits per shingle index
        # (O(tokens²) string work per document — measured 3× the whole
        # operator's cost).
        shingles = F.array_distinct(F.expr(ngram_join(3)))
        base = docs.select("doc_id", F.split("text", " ").alias("w")).select(
            "doc_id", shingles.alias("sh_arr")
        )
        # explode_outer + explicit null filter rather than plain explode:
        # InferFiltersFromGenerate would otherwise clone the whole shingle
        # expression into a pushed-down Filter (evaluated per row *again*,
        # with the split re-inlined). The hashed shingle rows are then
        # materialized once — partitioned BY SHINGLE (localCheckpoint pins
        # the layout): the document-frequency aggregate, the hot-shingle
        # anti-join, and both self-join sides then all reuse that one
        # partitioning with zero further exchanges (measured 3.8× faster
        # than letting each consumer re-shuffle). At corpus scale this
        # materialized, hash-partitioned shingle index is the standard
        # first stage of every shingle-based dedup pass.
        return (
            base.select("doc_id", F.explode_outer("sh_arr").alias("s"))
            .filter(F.col("s").isNotNull())
            .select("doc_id", F.xxhash64("s").alias("shingle"))
            .repartition(spark.sparkContext.defaultParallelism, "shingle")
            .localCheckpoint(eager=True)
        )

    return session_pin(spark, sf_dir, "shingle_index", build)


_NGRAM_JACCARD_SQL = """
    WITH sh AS (
        SELECT DISTINCT doc_id, UNNEST(shingles) AS shingle
        FROM (
            SELECT doc_id,
                   [ARRAY_TO_STRING(w[i:i+2], ' ') FOR i IN RANGE(1, LEN(w) - 1)] AS shingles
            FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents) t
        ) s
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           (FLOOR(CAST(c AS DOUBLE) / (sa.n + sb.n - c) * 10000.0) / 10000.0) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE (FLOOR(CAST(c AS DOUBLE) / (sa.n + sb.n - c) * 10000.0) / 10000.0) >= 0.08
"""


@register("dedup_ngram_jaccard", _NGRAM_JACCARD_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-trigram Jaccard similarity via shingle self-join — candidate
    pairs only materialize where shingles collide (the exact-computation
    counterpart of MinHash).

    AT SCALE, THIS IS THE VERIFICATION TOOL, NOT THE DEFAULT. Wall time
    tracks collision mass and therefore grows quadratically with shingle
    skew (measured 28× at 10× docs, SCALING.md); the df-cap bounds the
    worst case but not the growth. For a 100 TB corpus use
    ``dedup_ngram_verify`` (two-phase: banded candidates → exact verify on
    the survivors — provably equal output, property-tested on a 10×-replica
    skew corpus) or ``dedup_minhash_sql`` as the default path, and reserve
    this direct join for small corpora and for auditing the approximate
    paths' recall.

    Shuffle discipline (this is the operator's whole cost at corpus scale):

    * per-doc shingle dedup happens map-side via ``array_distinct`` instead
      of a cluster-wide ``DISTINCT`` shuffle;
    * the hashed shingle index is shuffled BY SHINGLE exactly once; the df
      aggregate, hot-shingle anti-join, and both self-join sides all run
      exchange-free on that layout (the self-join is a co-located
      shuffled-hash join — no sort, no re-exchange);
    * the index carries an 8-byte ``xxhash64`` of each shingle rather than
      the trigram string (~4× less shuffle traffic than ~30-byte strings);
    * hot shingles are capped at ``MAX_SHINGLE_DF`` docs before the join —
      the worst-case fan-out per shingle is O(cap²), not O(corpus²).

    Round-12 opt pass: the shingle index is the session pin
    ``_shingle_index_pinned`` (shared with ``dedup_containment``).
    """
    sh = _shingle_index_pinned(spark, sf_dir)
    # |shingles(doc)| from the uncapped index — the Jaccard denominator is
    # exact regardless of the candidate cap below.
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # Document-frequency cap: a shingle present in > MAX_SHINGLE_DF docs
    # (stopword runs) contributes O(df²) candidate pairs while carrying
    # almost no Jaccard signal — dropping it before the self-join is the
    # standard suffix-blocking bound that keeps a hot shingle from going
    # quadratic at corpus scale. The fixture's max df is 25 (both SFs), so
    # at test scale the cap provably drops nothing — asserted in
    # tests/test_properties.py — and the oracle needs no cap clause.
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > MAX_SHINGLE_DF)
        .select("shingle")
    )
    shf = sh.join(hot, "shingle", "left_anti")
    a = shf.alias("a")
    b = shf.hint("SHUFFLE_HASH").alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.floor(
        F.col("c").cast("double")
        / (F.col("sa.n") + F.col("sb.n") - F.col("c"))
        * 10000.0
    ) / 10000.0
    return (
        common.join(F.broadcast(sa), F.col("sa.doc_id") == F.col("doc_a"))
        .join(F.broadcast(sb), F.col("sb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.08)
    )


#: MinHash permutation constants: h_i(x) = (a_i·x + b_i) mod p over the
#: 31-bit Mersenne prime — integer math only, mirrored verbatim in the
#: oracle, so the signatures (not just the candidate sets) hash-match.
_MH_P = 2147483647
_MH_PERMS = (
    (2971, 577),
    (4021, 131),
    (5701, 919),
    (7919, 293),
    (9973, 653),
    (12007, 47),
    (15131, 811),
    (17389, 389),
)
_MH_BANDS = 4  # 2 rows per band over the 8 perms

#: dedup_ngram_verify's jaccard threshold (shared by plan + prefix rule).
_VERIFY_T = 0.08


def _minhash_verified_sql() -> str:
    """Oracle for ``dedup_minhash``: the IDENTICAL integer pipeline —
    clone collapse, trigram shingles, md5-derived 31-bit shingle hashes,
    8 universal-hash mins banded 4x2, emit-once first-band filter, exact
    jaccard verification of candidates, member expansion — in DuckDB SQL.
    Every intermediate (signatures included) is engine-mirrorable integer
    math, which is what lets a *probabilistic* candidate generator carry a
    full value-level oracle: both engines derive the same buckets, so they
    see the same candidates, and verification is exact on both sides."""
    mins = ",\n               ".join(
        f"MIN(({a} * h31 + {b}) % {_MH_P}) AS m{i}"
        for i, (a, b) in enumerate(_MH_PERMS)
    )
    band_v1 = " ".join(f"WHEN {j} THEN m{2 * j}" for j in range(_MH_BANDS))
    band_v2 = " ".join(f"WHEN {j} THEN m{2 * j + 1}" for j in range(_MH_BANDS))
    first_band = " ".join(
        f"WHEN a.m{2 * j} = b.m{2 * j} AND a.m{2 * j + 1} = b.m{2 * j + 1} THEN {j}"
        for j in range(_MH_BANDS)
    )
    return f"""
    WITH grp AS (
        SELECT MIN(doc_id) AS rep_id,
               LIST(doc_id ORDER BY doc_id) AS members,
               MIN(text) AS text
        FROM documents GROUP BY MD5(text)
    ), sh AS (
        SELECT DISTINCT rep_id, shingle FROM (
            SELECT rep_id,
                   UNNEST([ARRAY_TO_STRING(w[i:i+2], ' ')
                           FOR i IN RANGE(1, LEN(w) - 1)]) AS shingle
            FROM (SELECT rep_id, STRING_SPLIT(text, ' ') AS w FROM grp) t
        ) s
    ), hs AS (
        SELECT DISTINCT rep_id,
               (('0x' || SUBSTRING(MD5(shingle), 1, 15))::BIGINT) % {_MH_P}
                   AS h31
        FROM sh
    ), sizes AS (
        SELECT rep_id, COUNT(*) AS n FROM hs GROUP BY rep_id
    ), sig AS (
        SELECT rep_id, {mins} FROM hs GROUP BY rep_id
    ), bands AS (
        SELECT rep_id, m0, m1, m2, m3, m4, m5, m6, m7,
               CAST(UNNEST(RANGE(0, {_MH_BANDS})) AS INT) AS band
        FROM sig
    ), banded AS (
        SELECT *, CASE band {band_v1} END AS v1,
                  CASE band {band_v2} END AS v2
        FROM bands
    ), cand AS (
        SELECT a.rep_id AS ra, b.rep_id AS rb
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2
             AND a.rep_id < b.rep_id
        WHERE a.band = (CASE {first_band} END)
    ), common AS (
        SELECT c.ra, c.rb, COUNT(*) AS c
        FROM cand c
        JOIN hs x ON x.rep_id = c.ra
        JOIN hs y ON y.rep_id = c.rb AND y.h31 = x.h31
        GROUP BY c.ra, c.rb
    ), ver AS (
        SELECT cm.ra, cm.rb,
               FLOOR(CAST(cm.c AS DOUBLE) / (sa.n + sb.n - cm.c) * 10000.0)
                   / 10000.0 AS jac
        FROM common cm
        JOIN sizes sa ON sa.rep_id = cm.ra
        JOIN sizes sb ON sb.rep_id = cm.rb
    ), crossp AS (
        SELECT LEAST(ma.x, mb.y) AS doc_a, GREATEST(ma.x, mb.y) AS doc_b,
               CAST(v.jac AS DOUBLE) AS jaccard_sim
        FROM ver v
        JOIN (SELECT rep_id, UNNEST(members) AS x FROM grp) ma
          ON ma.rep_id = v.ra
        JOIN (SELECT rep_id, UNNEST(members) AS y FROM grp) mb
          ON mb.rep_id = v.rb
        WHERE v.jac >= {_VERIFY_T}
    ), within AS (
        SELECT a.x AS doc_a, b.y AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard_sim
        FROM (SELECT rep_id, UNNEST(members) AS x FROM grp) a
        JOIN (SELECT rep_id, UNNEST(members) AS y FROM grp) b
          ON a.rep_id = b.rep_id AND a.x < b.y
        JOIN sizes s ON s.rep_id = a.rep_id
    )
    SELECT doc_a, doc_b, jaccard_sim FROM crossp
    UNION ALL
    SELECT doc_a, doc_b, jaccard_sim FROM within
    ORDER BY jaccard_sim DESC, doc_a, doc_b
    """


@register("dedup_minhash", _minhash_verified_sql())
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact verification — the flagship
    probabilistic-candidates/exact-verify shape: clone collapse (md5
    hash-groupBy, one representative per distinct text), trigram-shingle
    31-bit integer hashes, 8 universal-hash minhash signatures banded 4x2,
    banded bucket self-join with the emit-once first-band filter, EXACT
    trigram-jaccard verification of the surviving candidates only, then
    expansion of representative pairs back through the clone member lists
    (within-clone pairs are J=1.0 by identity, guarded on a non-empty
    shingle set).

    Round-9 rewrite (VERDICT r8 item 2): the previous MLlib
    ``MinHashLSH.approxSimilarityJoin`` formulation cost 5.5 s at sf0.1 —
    model ``fit``, vector assembly, and the UDF-based join dominated — and
    its seeded hash family was not engine-mirrorable, demoting the operator
    to Tier-R. Re-expressed on the SAME integer signature machinery as
    ``dedup_minhash_sql`` (identical ``_MH_PERMS`` seeds and banding), the
    entire pipeline stays in Tungsten codegen AND becomes exactly
    mirrorable in DuckDB, so the operator is now Tier-H — candidates,
    signatures, verified jaccards, and expansion all value-checked. The
    MLlib formulation survives as a pytest cross-check
    (tests/test_minhash_mllib_crosscheck.py) asserting the integer path's
    candidate recall covers the ML path's survivors at fixture scale.

    Scale posture: signatures are per-row EXPRESSIONS over the shingle
    array (``array_min(transform(...))``) — zero shuffle until the banded
    self-join, which touches only colliding buckets and is repartitioned
    to core count; verification is per-pair ``array_intersect`` against
    the checkpointed rep-array frame (AQE broadcasts it at fixture scale,
    shuffles past the cap); candidate cost tracks DISTINCT texts, not
    duplication density (the 10x clone probe rides the same collapse as
    ``dedup_ngram_verify``)."""
    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shingles = F.expr("array_distinct(" + ngram_join(3) + ")")
    # Per-rep distinct 31-bit shingle hashes as ONE expression chain — the
    # md5-derived h31 mirrors the oracle digit-for-digit; array_distinct
    # runs AGAIN after hashing because h31 collisions merge shingles (both
    # engines dedup post-hash, so jaccard denominators agree exactly).
    h_arr = F.expr(
        "array_sort(array_distinct(transform(tokens, t -> "
        f"CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) % {_MH_P})))"
    )
    groups = (
        raw.groupBy(F.md5("text").alias("h"))
        .agg(
            F.min("doc_id").alias("rep_id"),
            F.sort_array(F.collect_list("doc_id")).alias("members"),
            F.min_by("text", "doc_id").alias("text"),
        )
        # Spread BEFORE the md5-per-shingle expression stage: the groupBy
        # lands on the session's (answer-sized) shuffle-partition count —
        # 8 in the bench harness — while the per-shingle md5+conv chain is
        # compute-bound and must run at core parallelism (the
        # dedup_ngram_verify rebalance lesson; rows here are rep texts, so
        # the extra exchange moves ~|distinct texts| rows, not shingles).
        .repartition(spark.sparkContext.defaultParallelism)
        .select("rep_id", "members", F.split("text", " ").alias("w"))
        .select("rep_id", "members", shingles.alias("tokens"))
        .select("rep_id", "members", h_arr.alias("h_arr"))
        .select("rep_id", "members", "h_arr", F.size("h_arr").alias("n"))
        # ONE materialized frame feeds signature build, exact verification
        # (array_intersect), and both expansion branches — the documents
        # scan+groupBy+shingle lineage runs exactly once (the
        # dedup_ngram_verify lesson), and the exact sizes let AQE broadcast
        # the verify joins at fixture scale without a hard hint.
        .localCheckpoint(eager=True)
    )
    # Signatures as pure expressions — no explode, no vocab join, no
    # shuffle: m_i = min over the (bounded, distinct) shingle-hash array.
    sigs = [
        F.expr(f"array_min(transform(h_arr, h -> ({a} * h + {b}) % {_MH_P}))").alias(
            f"m{i}"
        )
        for i, (a, b) in enumerate(_MH_PERMS)
    ]
    sig = groups.filter(F.col("n") > 0).select(F.col("rep_id"), *sigs)
    bands = sig.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(_MH_BANDS - 1))).alias("band")
    )
    v1, v2 = F.lit(None), F.lit(None)
    for j in range(_MH_BANDS):
        cond = F.col("band") == j
        v1 = F.when(cond, F.col(f"m{2 * j}")) if j == 0 else v1.when(
            cond, F.col(f"m{2 * j}")
        )
        v2 = F.when(cond, F.col(f"m{2 * j + 1}")) if j == 0 else v2.when(
            cond, F.col(f"m{2 * j + 1}")
        )
    banded = (
        bands.select("*", v1.alias("v1"), v2.alias("v2"))
        .repartition(spark.sparkContext.defaultParallelism, "band", "v1", "v2")
        .localCheckpoint(eager=True)
    )
    a, b = banded.alias("a"), banded.alias("b")
    first_band = F.lit(None)
    for j in range(_MH_BANDS):
        match_j = (F.col(f"a.m{2 * j}") == F.col(f"b.m{2 * j}")) & (
            F.col(f"a.m{2 * j + 1}") == F.col(f"b.m{2 * j + 1}")
        )
        first_band = (
            F.when(match_j, F.lit(j)) if j == 0 else first_band.when(match_j, F.lit(j))
        )
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.v1") == F.col("b.v1"))
            & (F.col("a.v2") == F.col("b.v2"))
            & (F.col("a.rep_id") < F.col("b.rep_id")),
        )
        .filter(F.col("a.band") == first_band)  # emit-once, no DISTINCT
        .select(F.col("a.rep_id").alias("ra"), F.col("b.rep_id").alias("rb"))
    )
    ga = groups.select(
        F.col("rep_id").alias("ra"), F.col("h_arr").alias("haa"), F.col("n").alias("na")
    )
    gb = groups.select(
        F.col("rep_id").alias("rb"), F.col("h_arr").alias("hab"), F.col("n").alias("nb")
    )
    c = F.size(F.array_intersect("haa", "hab"))
    jac = F.floor(
        c.cast("double") / (F.col("na") + F.col("nb") - c) * 10000.0
    ) / 10000.0
    ver = (
        cand.join(ga, "ra")
        .join(gb, "rb")
        .select("ra", "rb", jac.alias("jaccard_sim"))
        .filter(F.col("jaccard_sim") >= _VERIFY_T)
    )
    ma = groups.select(F.col("rep_id").alias("ra"), F.col("members").alias("mem_a"))
    mb = groups.select(F.col("rep_id").alias("rb"), F.col("members").alias("mem_b"))
    cross = (
        ver.join(ma, "ra")
        .join(mb, "rb")
        .select(F.explode("mem_a").alias("x"), "mem_b", "jaccard_sim")
        .select("x", F.explode("mem_b").alias("y"), "jaccard_sim")
        .select(
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
            "jaccard_sim",
        )
    )
    within = (
        groups.filter((F.size("members") >= 2) & (F.col("n") > 0))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(members) - 1),"
                    " i -> transform(slice(members, i + 1, size(members) - i),"
                    " x -> named_struct('a', element_at(members, i), 'b', x))))"
                )
            ).alias("p")
        )
        .select(
            F.col("p.a").alias("doc_a"),
            F.col("p.b").alias("doc_b"),
            F.lit(1.0).alias("jaccard_sim"),
        )
    )
    return cross.unionByName(within).orderBy(
        F.desc("jaccard_sim"), F.asc("doc_a"), F.asc("doc_b")
    )


@register(
    "dedup_cluster",
    f"""
    WITH RECURSIVE pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE ROUND({{cos}}, 4) >= 0.4
    ), edges AS (
        SELECT vec_a AS src, vec_b AS dst FROM pairs
        UNION ALL
        SELECT vec_b AS src, vec_a AS dst FROM pairs
    ), cc(node, lbl) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT e.dst, c.lbl FROM cc c JOIN edges e ON e.src = c.node
    )
    SELECT node AS vec_id, MIN(lbl) AS cluster_id
    FROM cc GROUP BY node
    """.format(cos=sql_cosine_q("a.embedding", "b.embedding")),
)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clustering: connected components over the
    embedding-cosine near-dup graph (``embed_neardup`` pairs), labels =
    min vec_id reachable — the canonical-representative assignment a
    pipeline uses to keep one doc per duplicate cluster.

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels; converges in O(component
    diameter) rounds (near-dup clusters are shallow — pairs at 0.4 cosine
    are cliques more than chains). The loop is driver-coordinated but each
    round is one distributed join + aggregate, and the convergence check is
    a count — the same shape GraphX/Pregel uses. The oracle reaches the
    same fixpoint through DuckDB's recursive CTE. The 0.4-cosine pair
    frame is the session-pinned one shared with ``embed_neardup`` and
    ``graph_cc_size_dist`` (round-7 verdict item 4).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    labels = _neardup_labels_pinned(spark, sf_dir)
    return (
        emb.select("vec_id")
        .join(labels, emb.vec_id == labels.node, "left")
        .select(
            "vec_id",
            F.coalesce(F.col("lbl"), F.col("vec_id")).alias("cluster_id"),
        )
    )


def _min_label_components(pairs: DataFrame) -> DataFrame:
    """Connected components over an undirected pair set: returns
    ``(node, lbl)`` where ``lbl`` is the min node id reachable. Nodes not
    in any pair are absent (callers rejoin them as singletons).

    Each round: (1) take the min label over neighbors, then (2) pointer-
    jump TWICE — replace every label by its label's label, two
    applications against the round's label map. Step (2) turns the
    O(diameter) propagation into O(log diameter), and the second jump
    (label-path quartering) trades one extra tiny-frame join for a
    measured 12 → 8 round reduction at sf0.1 — at toy scale rounds are
    pure job latency, at cluster scale fewer BSP barriers. A chain-shaped
    component cannot outrun the iteration cap (4^30 diameter would be
    needed). Unconverged is an error, never a silently-wrong answer. The
    loop is driver-coordinated but every round is join + aggregate work —
    the GraphX/Pregel shape without the RDD API.
    """
    ca, cb = pairs.columns[0], pairs.columns[1]
    edges = pairs.select(F.col(ca).alias("src"), F.col(cb).alias("dst")).union(
        pairs.select(F.col(cb).alias("src"), F.col(ca).alias("dst"))
    )
    # Materialize the (small) edge set once: every iteration re-joins it,
    # and without this each round would re-run the upstream pair job. The
    # repartition bounds the per-round scan at one shuffle-width of tasks
    # (the union otherwise carries 2× the upstream partition count into
    # every round); partitioning by src pre-aligns the probe side.
    edges = edges.repartition("src").localCheckpoint(eager=True)

    # Propagate only among edge-connected nodes — isolated nodes are their
    # own (singleton) cluster and never change, so they stay out of the
    # iteration entirely. Convergence is read off the checkpointed frame
    # itself (old label carried alongside) instead of an extra join.
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    global LAST_CC_ROUNDS
    converged = False
    rounds = 0
    for _ in range(30):
        rounds += 1
        neighbor_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        stepped = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.col("lbl").alias("old_lbl"),
            F.least(
                F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))
            ).alias("lbl"),
        )
        lbl_map = labels.select(
            F.col("node").alias("m_node"), F.col("lbl").alias("m_lbl")
        )
        jumped = stepped
        for _jump in range(2):  # label-path quartering (see docstring)
            jumped = jumped.join(
                lbl_map, jumped.lbl == lbl_map.m_node, "left"
            ).select(
                "node",
                "old_lbl",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("m_lbl"), F.col("lbl"))
                ).alias("lbl"),
            )
        updated = jumped.localCheckpoint(eager=True)  # truncate lineage
        changed = updated.filter(F.col("lbl") != F.col("old_lbl")).count()
        labels = updated.select("node", "lbl")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError("label propagation did not converge")
    LAST_CC_ROUNDS = rounds
    return labels


#: Rounds the most recent _min_label_components call took to converge —
#: read by tools/scale_probe.py to pin the BSP iteration count at 10×
#: (round-3 verdict #1). Pointer jumping keeps this O(log diameter).
LAST_CC_ROUNDS: int | None = None


#: Converged component labels over the session-pinned 0.4-cosine pair
#: frame, memoized per (session, fixture dir): ``dedup_cluster`` and
#: ``graph_cc_size_dist`` consume the identical labeling, and the BSP
#: loop is all job latency at toy scale — one derivation per sweep
#: instead of one per consumer (round-7 verdict item 4). A session pin
#: (``tables.session_pin``); the backing localCheckpoint blocks free when
#: the handle is dropped and GC'd.
def _neardup_labels_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deferred import (circular with similarity)
    from hive_processor_spark.operators.similarity import neardup_pairs_pinned

    def build() -> DataFrame:
        pairs = neardup_pairs_pinned(spark, sf_dir).select("vec_a", "vec_b")
        return _min_label_components(pairs)

    return session_pin(spark, sf_dir, "neardup_labels", build)


def _simhash_pairs_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-pinned simhash near-dup pair frame (lineage-backed like the
    n-gram and cosine planes): four graph consumers
    (graph_pagerank, graph_kcore, graph_degree_histogram's family and the
    wedge metrics) each re-derived the signature + banded join otherwise."""
    return session_pin(
        spark,
        sf_dir,
        "simhash_pairs",
        lambda: dedup_simhash_pairs(spark, sf_dir).persist(),
    )


#: Session pin (``tables.session_pin``) for the COLLAPSED simhash graph
#: (round-10): the multiplicity-weighted super-node frame (simhash, m,
#: rep) and the hamming-banded class-edge list (u, v, mu, mv).
#: ``graph_triangles`` previously re-derived both through per-run eager
#: localCheckpoints — the signature pass plus the class self-join cost
#: ~1.4 s of its 2.5 s at sf0.1; the wedge-close join is the only per-run
#: work left.
def _simhash_classes_pinned(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Session-pinned (classes, class_edges) of the simhash near-dup
    graph: one row per DISTINCT signature with multiplicity ``m`` and
    representative ``rep``; edges between classes within ``_MAX_HAMMING``
    (lineage-backed persist, like the pair-frame pins above)."""

    def build() -> tuple[DataFrame, DataFrame]:
        docs = load_table(spark, sf_dir, "documents")
        cls = (
            _simhash_sigs(docs)
            .groupBy("simhash")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("m"),
                F.min("doc_id").cast("bigint").alias("rep"),
            )
            .persist()
        )
        a = cls.select(
            F.col("rep").alias("u"),
            F.col("m").alias("mu"),
            F.col("simhash").alias("sig_a"),
        )
        b = cls.select(
            F.col("rep").alias("v"),
            F.col("m").alias("mv"),
            F.col("simhash").alias("sig_b"),
        )
        ce = (
            a.join(
                F.broadcast(b),
                (F.col("u") < F.col("v"))
                & (
                    F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
                    <= _MAX_HAMMING
                ),
            )
            .select("u", "v", "mu", "mv")
            .persist()
        )
        return cls, ce

    return session_pin(spark, sf_dir, "simhash_classes", build)


#: Same two-level pin for the n-gram Jaccard plane: the pair frame feeds
#: three consumers (``dedup_cluster_docs``, ``dedup_recall_report``,
#: ``dedup_keep_best``) and the component labeling feeds two, so a full
#: sweep otherwise re-runs the shingle join up to three times and the
#: BSP loop twice. Lineage-backed like the cosine plane's pins.
def _ngram_pairs_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_pin(
        spark,
        sf_dir,
        "ngram_pairs",
        lambda: dedup_ngram_jaccard(spark, sf_dir).persist(),
    )


def _ngram_labels_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        pairs = _ngram_pairs_pinned(spark, sf_dir).select("doc_a", "doc_b")
        return _min_label_components(pairs)

    return session_pin(spark, sf_dir, "ngram_labels", build)


@register(
    "dedup_cluster_docs",
    f"""
    WITH RECURSIVE jp AS (
        SELECT doc_a, doc_b FROM ({_NGRAM_JACCARD_SQL}) x
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM jp
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM jp
    ), cc(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, c.lbl FROM cc c JOIN edges e ON e.src = c.node
    )
    SELECT node AS doc_id, MIN(lbl) AS cluster_id, (MIN(lbl) = node) AS is_kept
    FROM cc GROUP BY node
    """,
)
def dedup_cluster_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level dedup clustering — the operation a training-data
    pipeline actually runs: connected components over the n-gram Jaccard
    near-dup graph (``dedup_ngram_jaccard`` edges at 0.08), each doc
    labeled with its cluster representative (min doc_id reachable) and an
    ``is_kept`` flag selecting exactly one canonical doc per cluster.
    ``WHERE is_kept`` is the deduplicated corpus.

    Same pointer-jumping component machinery as ``dedup_cluster``
    (:func:`_min_label_components`); the oracle reaches the fixpoint via a
    recursive CTE over the identical edge definition. Pair frame and
    labeling are session-pinned — ``dedup_recall_report`` and
    ``dedup_keep_best`` consume the same derivations."""
    labels = _ngram_labels_pinned(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    cluster = F.coalesce(F.col("lbl"), F.col("doc_id"))
    return (
        docs.select("doc_id")
        .join(labels, docs.doc_id == labels.node, "left")
        .select(
            "doc_id",
            cluster.alias("cluster_id"),
            (cluster == F.col("doc_id")).alias("is_kept"),
        )
    )


#: Session pin (``tables.session_pin``) for the prefix-filter shingle
#: plane of ``dedup_ngram_verify`` (round-10, VERDICT r9 item 4): one row
#: per DISTINCT text with the sorted 64-bit shingle-hash array, clone
#: member list and set size.
def _ngram_groups_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-pinned (rep_id, members, h_arr, n) frame: clone-collapsed
    documents with sorted distinct shingle hashes. Shingles are hashed
    straight from the word triple (``xxhash64(w_i, w_{i+1}, w_{i+2})`` —
    multi-arg xxhash64 is injective on space-split words, exactly like
    the joined string) instead of building 1M intermediate shingle
    strings; jaccard over distinct-hash arrays equals jaccard over
    distinct shingle strings, which is what the shared oracle computes.
    Short docs yield zero shingles (guarded_fanout)."""

    def build() -> DataFrame:
        triple_hash = guarded_fanout(
            2,
            "xxhash64(element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))",
        )
        raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        return (
            raw.groupBy(F.md5("text").alias("h"))
            .agg(
                F.min("doc_id").alias("rep_id"),
                F.sort_array(F.collect_list("doc_id")).alias("members"),
                F.min_by("text", "doc_id").alias("text"),
            )
            # Spread before the compute-bound shingle-hash stage (the groupBy
            # lands on the answer-sized shuffle-partition count in the bench
            # harness; rows here are rep texts, so the exchange is cheap).
            .repartition(spark.sparkContext.defaultParallelism)
            .select("rep_id", "members", F.split("text", " ").alias("w"))
            .select(
                "rep_id",
                "members",
                F.array_sort(F.expr(f"array_distinct({triple_hash})")).alias(
                    "h_arr"
                ),
            )
            .select("rep_id", "members", "h_arr", F.size("h_arr").alias("n"))
            .persist()
        )

    return session_pin(spark, sf_dir, "ngram_groups", build)


@register("dedup_ngram_verify", _NGRAM_JACCARD_SQL)
def dedup_ngram_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape for EXACT n-gram Jaccard: prefix-filter candidate
    generation (Chaudhuri et al. SSJoin '06; Bayardo et al. AllPairs
    WWW'07) followed by exact re-verification of only the candidate
    pairs. A pair with J(A,B) >= t MUST collide inside either set's
    prefix — the first |X| - ceil(t*|X|) + 1 shingle hashes in the global
    hash order — so recall is GUARANTEED by pigeonhole, not probability:
    candidate generation may only affect cost, never the result (the
    property tests assert set equality with the direct join, and the
    round-3 sf0.1 sweep is why this matters: the previous seeded
    MinHash-LSH candidate stage missed ~4% of true pairs at 5000 docs — a
    probabilistic OR of 8 hash tables carries ~(1-j)^8 miss odds at low
    jaccard, fine for a recall target, wrong for an EXACT operator; that
    path remains available as ``dedup_minhash``/``dedup_minhash_sql``).

    The prefix shrinks as the threshold rises (20%+1 of each set at the
    common 0.8 near-dup bar); at this operator's permissive t=0.08 it
    prunes modestly — the structure, not the constant, is the point.
    Same oracle as ``dedup_ngram_jaccard``, because the answer is
    provably the same.

    Clone collapse (round-4 scale-probe finding): on duplication-dense
    data the prefix join's fan-out is Σ df² per prefix hash, and exact
    clones multiply every df — the 10× clone-replica probe OOM'd the
    aggregation at 0.25 GiB/core. The production-correct fix is run the
    expensive join on DISTINCT texts only: collapse exact duplicates
    first (md5 hash-groupBy — the ``dedup_exact`` discipline), compute
    candidate+verify over one representative per text, then expand
    representative pairs back through the member lists (J is a function
    of the shingle SETS, so every member pair inherits its
    representatives' jaccard exactly; within-clone pairs are J = 1.0 by
    identity, guarded on a non-empty shingle set to match the direct
    join). Candidate cost now tracks DISTINCT-text count — duplication
    density, the thing a dedup operator exists to confront, no longer
    multiplies the join."""
    # ONE pinned frame carries every stage: the sorted 64-bit
    # shingle-hash array per representative doc feeds prefix generation
    # (a slice), exact verification (array_intersect), and the member
    # lists feed the clone expansion — the text is scanned, grouped and
    # hashed exactly once (the previous two-checkpoint formulation paid a
    # second materialization barrier: 4.7 → 3.5 s at sf0.1; round-10
    # moves the frame from a per-run eager checkpoint onto the session
    # pin, so repeat runs skip the scan+shingle stage entirely).
    groups = _ngram_groups_pinned(spark, sf_dir)
    arrs = groups.select(F.col("rep_id").alias("doc_id"), "h_arr", "n")
    # global canonical order = ascending xxhash64; prefix length
    # |X| - ceil(t|X|) + 1 guarantees any J >= t pair collides in-prefix
    prefix_len = (
        F.col("n") - F.ceil(F.col("n") * F.lit(_VERIFY_T)).cast("int") + 1
    )
    prefixed = (
        arrs.select("doc_id", F.slice("h_arr", F.lit(1), prefix_len).alias("prefix"))
        .select("doc_id", F.explode_outer("prefix").alias("ph"))
        .filter(F.col("ph").isNotNull())
    )
    p_a = prefixed.select(F.col("doc_id").alias("doc_a"), F.col("ph").alias("ha"))
    p_b = prefixed.select(F.col("doc_id").alias("doc_b"), F.col("ph").alias("hb"))
    cands = (
        p_a.join(
            p_b, (F.col("ha") == F.col("hb")) & (F.col("doc_a") < F.col("doc_b"))
        )
        .select("doc_a", "doc_b")
        # Pair-keyed repartition to core count + dropDuplicates = ONE
        # shuffle (the hash partitioning already satisfies the distinct's
        # requirement) that does double duty as the skew rebalancer:
        # prefix-join output is partitioned by shingle hash (boilerplate
        # hashes pile up in few partitions) and the candidate volume is
        # compute-bound in verification, so it must spread over CORES, not
        # the session's (answer-sized) shuffle-partition setting —
        # measured 12 s fused-without-rebalance vs 0.1 s after.
        .repartition(
            spark.sparkContext.defaultParallelism, "doc_a", "doc_b"
        )
        .dropDuplicates(["doc_a", "doc_b"])
        # The eager checkpoint is ALSO the broadcast enabler: it hands AQE
        # exact sizes, so the verify joins broadcast the rep-array frame at
        # fixture scale and shuffle at corpus scale — a hard broadcast hint
        # would instead fail outright past the 8 GB broadcast cap.
        .localCheckpoint(eager=True)
    )
    # Exact verification on candidates only — per-pair array_intersect in
    # codegen against the doc-keyed hash arrays (AQE broadcasts the array
    # frame at fixture scale, shuffles at corpus scale; no hard hint).
    # The previous formulation re-exploded every candidate's shingles into
    # a two-level hash join + re-aggregate: 7.2 s vs 1.5 s at sf0.1 for
    # the identical counts (intersection of distinct sets == matched-hash
    # pair count, since each doc's hash array is built from its DISTINCT
    # shingle strings).
    ja = arrs.select(
        F.col("doc_id").alias("a_id"),
        F.col("h_arr").alias("arr_a"),
        F.col("n").alias("na"),
    )
    jb = arrs.select(
        F.col("doc_id").alias("b_id"),
        F.col("h_arr").alias("arr_b"),
        F.col("n").alias("nb"),
    )
    jac = F.floor(
        F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c")) * 10000.0
    ) / 10000.0
    rep_pairs = (
        cands.join(ja, cands.doc_a == ja.a_id)
        .join(jb, cands.doc_b == jb.b_id)
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("arr_a", "arr_b")).alias("c"),
            "na",
            "nb",
        )
        .select(
            F.col("doc_a").alias("ra"),
            F.col("doc_b").alias("rb"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.08)
    )
    # Expand representative pairs through the clone member lists: every
    # (member of ra) × (member of rb) pair shares its representatives'
    # shingle sets, hence exactly their jaccard.
    ga = groups.select(F.col("rep_id").alias("ra"), F.col("members").alias("ma"))
    gb = groups.select(F.col("rep_id").alias("rb"), F.col("members").alias("mb"))
    cross = (
        rep_pairs.join(ga, "ra")
        .join(gb, "rb")
        .select(F.explode("ma").alias("ea"), "mb", "jaccard")
        .select("ea", F.explode("mb").alias("eb"), "jaccard")
        .select(
            F.least("ea", "eb").alias("doc_a"),
            F.greatest("ea", "eb").alias("doc_b"),
            "jaccard",
        )
    )
    # Within-clone pairs: identical texts have J = 1.0 by definition —
    # provided the shingle set is non-empty (the direct join emits nothing
    # for shingle-less docs, so neither do we).
    shingled = arrs.filter(F.col("n") > 0).select(
        F.col("doc_id").alias("rep_id")
    )
    within = (
        groups.join(shingled, "rep_id")  # AQE broadcasts when small
        .filter(F.size("members") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(members) - 1),"
                    " i -> transform(slice(members, i + 1, size(members) - i),"
                    " x -> named_struct('a', element_at(members, i), 'b', x))))"
                )
            ).alias("p")
        )
        .select(
            F.col("p.a").alias("doc_a"),
            F.col("p.b").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


@register(
    "graph_triangles",
    _SIMHASH_SIG_SQL
    + f"""
    , cls AS (
        SELECT simhash, CAST(COUNT(*) AS BIGINT) AS m,
               CAST(MIN(doc_id) AS BIGINT) AS rep
        FROM sig GROUP BY simhash
    ), ce AS (
        SELECT a.rep AS u, b.rep AS v, a.m AS mu, b.m AS mv
        FROM cls a JOIN cls b ON a.rep < b.rep
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {_MAX_HAMMING}
    ), t1 AS (
        SELECT COALESCE(SUM(m * (m - 1) * (m - 2) // 6), 0) AS x FROM cls
    ), t2 AS (
        SELECT COALESCE(SUM((mu * (mu - 1) // 2) * mv
                            + mu * (mv * (mv - 1) // 2)), 0) AS x FROM ce
    ), t3 AS (
        SELECT COALESCE(SUM(e1.mu * e1.mv * e2.mv), 0) AS x
        FROM ce e1
        JOIN ce e2 ON e2.u = e1.u AND e2.v > e1.v
        JOIN ce e3 ON e3.u = e1.v AND e3.v = e2.v
    )
    SELECT CAST(t1.x + t2.x + t3.x AS BIGINT) AS n_triangles
    FROM t1 CROSS JOIN t2 CROSS JOIN t3
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the simhash near-dup graph — the structural
    signal dedup pipelines use to tell clique-like duplicate clusters
    from chain-like false-positive bridges. Twin-collapsed counting
    (round-4 rewrite): documents with IDENTICAL signatures have
    identical adjacency AND are pairwise adjacent (hamming 0), so they
    collapse into multiplicity-weighted super-nodes and the count
    decomposes exactly into Σ C(m,3) (within a class) +
    Σ_edges [C(m_u,2)·m_v + m_u·C(m_v,2)] (two-in-one-class) +
    Σ_super-triangles m_u·m_v·m_w (the wedge-close join on the
    COLLAPSED graph). On the duplicate-dense sf0.1 fixture this turns
    898 513 doc-edges / 202 M enumerated triangles into 90 678
    class-edges — measured 47.9 s → ~2 s in Spark and 50.6 s → 0.4 s in
    the oracle, with the count proven bit-identical. The same collapse
    is why the at-scale posture holds: near-dup graphs get denser
    precisely by accumulating signature twins, and this plan's cost
    tracks DISTINCT signatures (the ``dedup_ngram_verify`` /
    ``sim_ann_join`` clone-collapse lesson applied to counting).
    All terms are exact integers (the C(m,k) products are divisible
    before the integer division)."""
    cls, ce = _simhash_classes_pinned(spark, sf_dir)
    m = F.col("m")
    t1 = cls.agg(
        F.coalesce(
            F.sum(F.expr("m * (m - 1) * (m - 2) div 6")), F.lit(0)
        ).alias("x1")
    )
    t2 = ce.agg(
        F.coalesce(
            F.sum(
                F.expr("(mu * (mu - 1) div 2) * mv")
                + F.expr("mu * (mv * (mv - 1) div 2)")
            ),
            F.lit(0),
        ).alias("x2")
    )
    e1 = ce.select(
        F.col("u").alias("a1"),
        F.col("v").alias("b1"),
        F.col("mu").alias("w_u"),
        F.col("mv").alias("w_b"),
    )
    e2 = ce.select(
        F.col("u").alias("a2"), F.col("v").alias("c2"), F.col("mv").alias("w_c")
    )
    e3 = ce.select(F.col("u").alias("b3"), F.col("v").alias("c3"))
    wedges = e1.join(
        e2, (F.col("a2") == F.col("a1")) & (F.col("c2") > F.col("b1"))
    )
    t3 = (
        wedges.join(
            e3, (F.col("b3") == F.col("b1")) & (F.col("c3") == F.col("c2"))
        )
        .agg(
            F.coalesce(
                F.sum(F.col("w_u") * F.col("w_b") * F.col("w_c")), F.lit(0)
            ).alias("x3")
        )
    )
    return (
        t1.crossJoin(F.broadcast(t2))
        .crossJoin(F.broadcast(t3))
        .select(
            (F.col("x1") + F.col("x2") + F.col("x3"))
            .cast("bigint")
            .alias("n_triangles")
        )
    )


@register(
    "dedup_stage_funnel",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT MD5(text)) AS BIGINT) AS after_exact,
           CAST(COUNT(DISTINCT MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')))
                AS BIGINT) AS after_norm,
           CAST(COUNT(DISTINCT MD5(ARRAY_TO_STRING(
                LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))), ' ')))
                AS BIGINT) AS after_vocab_fp,
           CAST(COUNT(DISTINCT MD5(ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:8], ' ')))
                AS BIGINT) AS after_head_fp
    FROM documents
    """,
)
def dedup_stage_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-stage observability: surviving-document counts under each
    successively coarser identity (raw hash → normalized → sorted-vocab
    fingerprint → 8-token head fingerprint), in one scan. This one-row
    funnel is what a pipeline dashboard tracks per snapshot to catch a
    dedup stage suddenly over- or under-firing; each stage is a distinct
    aggregate over the same pass, so the cost is one scan + one shuffle
    regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("after_exact"),
        F.countDistinct(F.md5(norm)).alias("after_norm"),
        F.countDistinct(
            F.md5(F.array_join(F.sort_array(F.array_distinct(w)), " "))
        ).alias("after_vocab_fp"),
        F.countDistinct(F.md5(F.array_join(F.slice(w, 1, 8), " "))).alias(
            "after_head_fp"
        ),
    )


def _sql_qsum9(expr: str) -> str:
    """Oracle fragment: order-independent sum of ``expr`` quantized at 1e9
    (exact.py discipline, scale 9 for PageRank-sized probabilities)."""
    return (
        f"(CAST(SUM(CAST(FLOOR(({expr}) * 1000000000.0) AS DECIMAL(28,0)))"
        f" AS DOUBLE) / 1000000000.0)"
    )


@register(
    "graph_pagerank",
    _SIMHASH_SIG_SQL
    + f"""
    , pairs AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {_MAX_HAMMING}
    ), edges AS (
        SELECT u AS src, v AS dst FROM pairs
        UNION ALL
        SELECT v AS src, u AS dst FROM pairs
    ), deg AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src
    ), n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
    ), pr0 AS (
        SELECT doc_id, 1.0 / n.n AS pr FROM documents, n
    ), in1 AS (
        SELECT e.dst AS doc_id, {_sql_qsum9('p.pr / g.d')} AS s
        FROM edges e
        JOIN pr0 p ON p.doc_id = e.src
        JOIN deg g ON g.src = e.src
        GROUP BY e.dst
    ), pr1 AS (
        SELECT d.doc_id, 0.15 / n.n + 0.85 * COALESCE(i.s, 0.0) AS pr
        FROM documents d CROSS JOIN n LEFT JOIN in1 i ON i.doc_id = d.doc_id
    ), in2 AS (
        SELECT e.dst AS doc_id, {_sql_qsum9('p.pr / g.d')} AS s
        FROM edges e
        JOIN pr1 p ON p.doc_id = e.src
        JOIN deg g ON g.src = e.src
        GROUP BY e.dst
    ), pr2 AS (
        SELECT d.doc_id, 0.15 / n.n + 0.85 * COALESCE(i.s, 0.0) AS pr
        FROM documents d CROSS JOIN n LEFT JOIN in2 i ON i.doc_id = d.doc_id
    )
    SELECT doc_id, ROUND(pr, 9) AS pagerank
    FROM pr2
    ORDER BY pagerank DESC, doc_id
    LIMIT 50
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (2 unrolled iterations, d=0.85) over the simhash near-dup
    graph — the iterative join→aggregate→join loop behind link-graph
    quality weighting, spelled as a deterministic dataflow. Per-iteration
    neighbor sums are quantized at 1e9 (exact.py discipline) so the rank
    vector is bit-identical at any parallelism; dangling mass is kept, not
    redistributed (spec'd identically in the oracle). At 100 TB each
    iteration is one shuffle on dst; the rank/degree sides co-partition
    with the edge list after the first iteration, and convergence-many
    iterations would checkpoint lineage every few rounds exactly like
    dedup_cluster's pointer-jumping loop."""
    from hive_processor_spark.functions.exact import dsum

    docs = load_table(spark, sf_dir, "documents")
    pairs = _simhash_pairs_pinned(spark, sf_dir).select("doc_a", "doc_b")
    # The edge list feeds deg + one join per iteration + the final count;
    # without pinning, every consumer would re-run the signature job and
    # banded join (~4x). Same materialize-the-index-once discipline as the
    # bucket index above; at cluster scale this is a checkpoint to storage.
    edges = (
        pairs.selectExpr("doc_a AS src", "doc_b AS dst")
        .unionAll(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # One scalar aggregate; the rank vector stays distributed. max(n, 1)
    # keeps the teleport term defined on an empty corpus (result is empty
    # either way — there are no doc_ids to rank).
    n = max(docs.count(), 1)
    pr = docs.select("doc_id", F.lit(1.0 / n).alias("pr"))
    for _ in range(2):
        inflow = (
            edges.join(pr.withColumnRenamed("doc_id", "src"), "src")
            .join(deg, "src")
            .select("dst", (F.col("pr") / F.col("d")).alias("c"))
            .groupBy("dst")
            .agg(dsum("c", scale=9).alias("s"))
        )
        pr = (
            docs.select("doc_id")
            .join(inflow.withColumnRenamed("dst", "doc_id"), "doc_id", "left")
            .select(
                "doc_id",
                (
                    F.lit(0.15 / n) + F.lit(0.85) * F.coalesce("s", F.lit(0.0))
                ).alias("pr"),
            )
        )
    return (
        pr.select("doc_id", F.round("pr", 9).alias("pagerank"))
        .orderBy(F.desc("pagerank"), F.asc("doc_id"))
        .limit(50)
    )


@register(
    "dedup_containment",
    """
    WITH sh AS (
        SELECT DISTINCT doc_id, UNNEST(shingles) AS shingle
        FROM (
            SELECT doc_id,
                   [ARRAY_TO_STRING(w[i:i+2], ' ') FOR i IN RANGE(1, LEN(w) - 1)] AS shingles
            FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents) t
        ) s
    ), sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    ), ov AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT o.doc_a, o.doc_b,
           (FLOOR(CAST(o.c AS DOUBLE) / s.n * 10000.0) / 10000.0) AS containment
    FROM ov o JOIN sizes s ON s.doc_id = o.doc_a
    WHERE o.c * 2 >= s.n
    ORDER BY containment DESC, o.doc_a, o.doc_b
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle containment |A∩B| / |A| — the asymmetric
    near-dup measure Jaccard misses: a short document quoted wholesale
    inside a long one scores near 1.0 here but near 0 on Jaccard (the
    union is dominated by the long side). Standard in training-data
    pipelines for quote/boilerplate/sub-document dedup.

    Same scale discipline as ``dedup_ngram_jaccard`` (one shingle-hash
    index shuffled by shingle once, map-side per-doc dedup, hot-shingle
    df cap with the provably-unbinding fixture bound, 8-byte xxhash64
    shingle ids); the threshold predicate ``2·overlap ≥ |A|`` is pure
    integer arithmetic, so both engines cut the identical boundary. The
    pair set is emitted in both directions (A⊂B and B⊂A are different
    claims); overlap counts are computed once per unordered pair and
    mirrored, not recomputed.

    Round-12 opt pass: the shingle index is the session pin
    ``_shingle_index_pinned`` (shared with ``dedup_ngram_jaccard``)."""
    sh = _shingle_index_pinned(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > MAX_SHINGLE_DF)
        .select("shingle")
    )
    shf = sh.join(hot, "shingle", "left_anti")
    a = shf.alias("a")
    b = shf.hint("SHUFFLE_HASH").alias("b")
    half = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("u"), F.col("b.doc_id").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ov = half.select("u", "v", "c").union(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"), "c")
    )
    s = sizes.alias("s")
    cont = F.floor(F.col("c").cast("double") / F.col("s.n") * 10000.0) / 10000.0
    return (
        ov.join(F.broadcast(s), F.col("s.doc_id") == F.col("u"))
        .filter(F.col("c") * 2 >= F.col("s.n"))
        .select(
            F.col("u").alias("doc_a"),
            F.col("v").alias("doc_b"),
            cont.alias("containment"),
        )
        .orderBy(F.desc("containment"), F.asc("doc_a"), F.asc("doc_b"))
    )


@register(
    "graph_degree",
    _SIMHASH_SIG_SQL
    + f"""
    , pairs AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {_MAX_HAMMING}
    ), edges AS (
        SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs
    ), deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY node
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree ORDER BY degree
    """,
)
def graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the simhash near-dup graph — the first
    diagnostic run on any dedup graph before clustering: a heavy tail
    here means a template/boilerplate hub that will glue unrelated
    documents into one connected component. Reuses the banded candidate
    join (one emit per pair), then two integer aggregations; at corpus
    scale the histogram is |distinct degrees| rows — trivially small —
    and the only real cost is the banded join it shares with
    ``dedup_simhash_pairs``."""
    pairs = _simhash_pairs_pinned(spark, sf_dir)
    nodes = pairs.select(F.col("doc_a").alias("node")).union(
        pairs.select(F.col("doc_b").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("degree")
    )


@register(
    "dedup_incremental",
    """
    WITH hashed AS (
        SELECT doc_id,
               MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS h,
               doc_id % 10 AS shard
        FROM documents
    ), seen AS (
        SELECT DISTINCT h FROM hashed WHERE shard >= 2
    ), fresh AS (
        SELECT doc_id, h FROM hashed WHERE shard < 2
    )
    SELECT doc_id, h AS text_md5
    FROM (
        SELECT f.doc_id, f.h,
               ROW_NUMBER() OVER (PARTITION BY f.h ORDER BY f.doc_id) AS rn
        FROM fresh f
        WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.h = f.h)
    )
    WHERE rn = 1
    ORDER BY doc_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) dedup — the shape every continuously
    ingested training corpus needs: a new batch (here: doc_id % 10 < 2) is
    deduped against the already-ingested corpus (the other 80%) by
    normalized content hash, then within itself (first doc_id wins).

    Plan: the new batch anti-joins the seen-hash set on the 16-byte hash —
    at 100 TB that is a shuffle hash join keyed on the hash with the
    (small) new batch as the streamed side, and a Bloom filter over the
    batch's hashes can pre-prune the corpus scan; the within-batch
    first-wins pick is a window over the surviving handful of rows."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    hashed = docs.select(
        "doc_id", F.md5(norm).alias("h"), (F.col("doc_id") % 10).alias("shard")
    )
    seen = hashed.filter(F.col("shard") >= 2).select("h").distinct()
    fresh = hashed.filter(F.col("shard") < 2).select("doc_id", "h")
    survivors = fresh.join(seen, "h", "left_anti")
    w = Window.partitionBy("h").orderBy("doc_id")
    return (
        survivors.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("h").alias("text_md5"))
        .orderBy("doc_id")
    )




def _minhash_sql() -> str:
    mins = ",\n               ".join(
        f"MIN(({a} * h31 + {b}) % {_MH_P}) AS m{i}"
        for i, (a, b) in enumerate(_MH_PERMS)
    )
    band_v1 = " ".join(f"WHEN {j} THEN m{2 * j}" for j in range(_MH_BANDS))
    band_v2 = " ".join(f"WHEN {j} THEN m{2 * j + 1}" for j in range(_MH_BANDS))
    first_band = " ".join(
        f"WHEN a.m{2 * j} = b.m{2 * j} AND a.m{2 * j + 1} = b.m{2 * j + 1} THEN {j}"
        for j in range(_MH_BANDS)
    )
    agree = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END"
        for i in range(len(_MH_PERMS))
    )
    return f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, shingle
        FROM (
            SELECT doc_id,
                   UNNEST([ARRAY_TO_STRING(w[i:i+1], ' ')
                           FOR i IN RANGE(1, LEN(w))]) AS shingle
            FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents) t
        ) s
    ), hashed AS (
        SELECT doc_id,
               (('0x' || SUBSTRING(MD5(shingle), 1, 15))::BIGINT) % {_MH_P}
                   AS h31
        FROM sh
    ), sig AS (
        SELECT doc_id, {mins}
        FROM hashed GROUP BY doc_id
    ), bands AS (
        SELECT doc_id, m0, m1, m2, m3, m4, m5, m6, m7,
               CAST(UNNEST(RANGE(0, {_MH_BANDS})) AS INT) AS band
        FROM sig
    ), banded AS (
        SELECT *,
               CASE band {band_v1} END AS v1,
               CASE band {band_v2} END AS v2
        FROM bands
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST({agree} AS INT) AS n_agree
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2
         AND a.doc_id < b.doc_id
    WHERE a.band = (CASE {first_band} END)
      AND ({agree}) >= 4
    ORDER BY doc_a, doc_b
    """


@register("dedup_minhash_sql", _minhash_sql())
def dedup_minhash_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH in pure integer expressions — the Tier-H twin of the
    ML-library ``dedup_minhash``: 8 universal-hash permutations over the
    31-bit Mersenne prime, banded 4×2, candidates verified by signature
    agreement (≥ 4 of 8 matching mins ≈ Jaccard ≳ 0.5).

    Every value down to the signatures themselves is engine-mirrorable
    integer math, so the oracle checks the SIGNATURES, not just the pair
    set. Same scale posture as ``dedup_simhash_pairs``: per-doc signature
    build is one aggregation over the shingle stream (distinct shingle
    hashes computed once and broadcast back); the banded self-join touches
    only colliding buckets, with the emit-once first-band filter in place
    of a cluster-wide DISTINCT."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    shingles = F.expr(
        ngram_join(2)
    )
    sh = (
        docs.select("doc_id", w.alias("w"))
        .select("doc_id", F.explode(F.array_distinct(shingles)).alias("shingle"))
    )
    vocab = sh.select("shingle").distinct().select(
        "shingle",
        (F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
         % _MH_P).alias("h31"),
    )
    hashed = sh.join(F.broadcast(vocab), "shingle").select("doc_id", "h31")
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h31") + F.lit(b)) % _MH_P).alias(f"m{i}")
            for i, (a, b) in enumerate(_MH_PERMS)
        ]
    )
    bands = sig.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(_MH_BANDS - 1))).alias("band")
    )
    v1 = F.lit(None)
    v2 = F.lit(None)
    for j in range(_MH_BANDS):
        cond = F.col("band") == j
        v1 = F.when(cond, F.col(f"m{2 * j}")) if j == 0 else v1.when(
            cond, F.col(f"m{2 * j}")
        )
        v2 = F.when(cond, F.col(f"m{2 * j + 1}")) if j == 0 else v2.when(
            cond, F.col(f"m{2 * j + 1}")
        )
    banded = (
        bands.select("*", v1.alias("v1"), v2.alias("v2"))
        .repartition(spark.sparkContext.defaultParallelism, "band", "v1", "v2")
        .localCheckpoint(eager=True)
    )
    a, b = banded.alias("a"), banded.alias("b")
    first_band = F.lit(None)
    for j in range(_MH_BANDS):
        match_j = (F.col(f"a.m{2 * j}") == F.col(f"b.m{2 * j}")) & (
            F.col(f"a.m{2 * j + 1}") == F.col(f"b.m{2 * j + 1}")
        )
        first_band = (
            F.when(match_j, F.lit(j)) if j == 0 else first_band.when(match_j, F.lit(j))
        )
    # re-evaluate first-band on the wide row (both signatures in hand)
    agree = sum(
        (F.col(f"a.m{i}") == F.col(f"b.m{i}")).cast("int")
        for i in range(len(_MH_PERMS))
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.v1") == F.col("b.v1"))
            & (F.col("a.v2") == F.col("b.v2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.col("a.band") == first_band)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            agree.cast("int").alias("n_agree"),
        )
        .filter(F.col("n_agree") >= 4)
        .orderBy("doc_a", "doc_b")
    )





@register(
    "dedup_recall_report",
    f"""
    WITH truth AS (
        SELECT doc_a, doc_b FROM ({_NGRAM_JACCARD_SQL}) t WHERE jaccard >= 0.5
    ), cand AS (
        SELECT doc_a, doc_b FROM ({_minhash_sql()}) c
    ), hit AS (
        SELECT t.doc_a FROM truth t JOIN cand c
          ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit,
           ROUND((SELECT CAST(COUNT(*) AS DOUBLE) FROM hit)
                 / (SELECT CAST(COUNT(*) AS DOUBLE) FROM truth), 6) AS recall,
           ROUND((SELECT CAST(COUNT(*) AS DOUBLE) FROM hit)
                 / (SELECT CAST(COUNT(*) AS DOUBLE) FROM cand), 6) AS precision
    """,
)
def dedup_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH evaluation harness as a query: recall and precision of the
    MinHash candidate pairs (``dedup_minhash_sql``) against the exact
    n-gram Jaccard ≥ 0.5 truth set — the measurement that decides whether
    a banded sketch may replace the exact join in production. Both inputs
    are themselves deterministic Tier-H operators, so even this meta-query
    hash-matches. At 100 TB you run it on a sampled stratum; the shape is
    identical."""
    truth = _ngram_pairs_pinned(spark, sf_dir).filter(
        F.col("jaccard") >= 0.5
    ).select("doc_a", "doc_b")
    cand = dedup_minhash_sql(spark, sf_dir).select("doc_a", "doc_b")
    hit = truth.join(cand, ["doc_a", "doc_b"])
    nt = truth.count()
    nc = cand.count()
    nh = hit.count()
    return spark.createDataFrame(
        [
            (
                nt,
                nc,
                nh,
                round(nh / nt, 6) if nt else None,
                round(nh / nc, 6) if nc else None,
            )
        ],
        "n_truth bigint, n_candidates bigint, n_hit bigint, recall double, precision double",
    )


@register(
    "graph_link_predict",
    _SIMHASH_SIG_SQL
    + f"""
    , edges AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {_MAX_HAMMING}
    ), und AS (
        SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ), deg AS (
        SELECT u AS n, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1
    ), low AS (
        SELECT und.u, und.v FROM und JOIN deg ON deg.n = und.v
        WHERE deg.d <= {_LP_VIA_CAP}
    ), wedge AS (
        SELECT a.u AS x, b.v AS y, a.v AS via
        FROM low a JOIN low b ON a.v = b.u AND a.u < b.v
    ), scored AS (
        SELECT x, y, CAST(COUNT(DISTINCT via) AS BIGINT) AS common_neighbors
        FROM wedge
        WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = x AND e.v = y)
        GROUP BY x, y
    )
    SELECT x AS doc_a, y AS doc_b, common_neighbors
    FROM scored
    WHERE common_neighbors >= 2
    ORDER BY common_neighbors DESC, doc_a, doc_b
    LIMIT 25
    """,
)
def graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the simhash near-dup graph: non-adjacent document
    pairs ranked by common-neighbor count — "these two never matched any
    band, but share ≥2 near-dup neighbors, so look again". The classic
    cheap predictor (Liben-Nowell/Kleinberg) as two joins: wedge
    enumeration over the undirected edge list, then an anti-join against
    existing edges.

    Hub bounding (round-4 fix — the docstring used to promise it, the
    code now does it): wedges are enumerated only THROUGH via-nodes of
    degree ≤ 64. Wedge work is Σ deg(via)², and this fixture's near-dup
    graph is degenerately dense (sf0.1: 3682 nodes, 898 k edges, hubs of
    degree 1508 → 927 M unbounded wedges, measured 317 s); hubs carry no
    link-prediction signal anyway — a shared neighbor adjacent to half
    the corpus predicts nothing, the same reasoning that makes
    Adamic-Adar weight by 1/log(deg). With the cap the wedge mass is
    ≤ cap·2E (measured 317 s → 4.7 s at sf0.1, full top-25 at both SFs).
    The oracle applies the identical cap, so the differential still
    pins the exact capped semantics."""
    pairs = _simhash_pairs_pinned(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    und = pairs.union(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy(F.col("u").alias("n")).agg(
        F.count(F.lit(1)).alias("d")
    )
    low = (
        und.join(deg.filter(F.col("d") <= _LP_VIA_CAP), und.v == F.col("n"))
        .select("u", "v")
    )
    a, b = low.alias("a"), low.alias("b")
    wedge = a.join(
        b, (F.col("a.v") == F.col("b.u")) & (F.col("a.u") < F.col("b.v"))
    ).select(
        F.col("a.u").alias("x"), F.col("b.v").alias("y"), F.col("a.v").alias("via")
    )
    non_edge = wedge.join(
        pairs,
        (F.col("x") == F.col("u")) & (F.col("y") == F.col("v")),
        "left_anti",
    )
    return (
        non_edge.groupBy("x", "y")
        .agg(F.countDistinct("via").alias("common_neighbors"))
        .filter(F.col("common_neighbors") >= 2)
        .select(
            F.col("x").alias("doc_a"), F.col("y").alias("doc_b"), "common_neighbors"
        )
        .orderBy(F.desc("common_neighbors"), "doc_a", "doc_b")
        .limit(25)
    )

@register(
    "graph_cc_size_dist",
    f"""
    WITH RECURSIVE pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE ROUND({{cos}}, 4) >= 0.4
    ), edges AS (
        SELECT vec_a AS src, vec_b AS dst FROM pairs
        UNION ALL
        SELECT vec_b AS src, vec_a AS dst FROM pairs
    ), cc(node, lbl) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT e.dst, c.lbl FROM cc c JOIN edges e ON e.src = c.node
    ), labeled AS (
        SELECT node, MIN(lbl) AS cluster_id FROM cc GROUP BY node
    ), sizes AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM labeled GROUP BY cluster_id
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """.format(cos=sql_cosine_q("a.embedding", "b.embedding")),
)
def graph_cc_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: how many near-dup components
    of each size the corpus contains, and how many documents they absorb —
    the first chart every dedup report shows (a heavy tail here means
    boilerplate farms; all-singletons means the threshold is too tight).
    Reuses the pointer-jumping connected-components labeling of
    ``dedup_cluster`` (same 0.4-cosine graph — the session-pinned frame
    shared with ``embed_neardup``), then two tiny aggregations
    over the |nodes|-row label frame. At 100 TB the label frame is one row
    per document — the histogram costs two reduced shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")
    labels = _neardup_labels_pinned(spark, sf_dir)
    labeled = (
        emb.select("vec_id")
        .join(labels, emb.vec_id == labels.node, "left")
        .select(F.coalesce(F.col("lbl"), F.col("vec_id")).alias("cluster_id"))
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
        .orderBy("cluster_size")
    )

def _kcore_sql(k: int = 2, rounds: int = 20) -> str:
    """Oracle for ``graph_kcore`` (round-10 Tier-H promotion): the
    synchronous peel unrolled into ``rounds`` MATERIALIZED stages — the
    ``sim_mmr_rerank`` unroll discipline applied to a fixpoint loop.
    Stage i keeps the nodes whose degree WITHIN stage i-1's survivors is
    ≥ k; peeling is confluent and the Spark loop raises if it has not
    converged within the same ``rounds`` cap, so stage ``rounds`` IS the
    fixpoint whenever the differential runs, and extra stages past
    convergence are no-ops. MATERIALIZED is load-bearing: each stage is
    referenced twice by the next (both join sides) and DuckDB inlines
    CTEs, so the un-materialized form expands exponentially."""
    stages = []
    prev = "s0"
    for i in range(1, rounds + 1):
        stages.append(
            f"""
    , s{i} AS MATERIALIZED (
        SELECT src FROM (
            SELECT e.src, COUNT(*) AS d
            FROM edges e
            JOIN {prev} a ON a.src = e.src
            JOIN {prev} b ON b.src = e.dst
            GROUP BY e.src
        ) t WHERE d >= {k}
    )"""
        )
        prev = f"s{i}"
    return (
        _SIMHASH_SIG_SQL
        + f"""
    , pairs AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {_MAX_HAMMING}
    ), edges AS MATERIALIZED (
        SELECT u AS src, v AS dst FROM pairs
        UNION ALL
        SELECT v AS src, u AS dst FROM pairs
    ), s0 AS MATERIALIZED (
        SELECT DISTINCT src FROM edges
    )"""
        + "".join(stages)
        + f"""
    SELECT e.src AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM edges e
    JOIN {prev} a ON a.src = e.src
    JOIN {prev} b ON b.src = e.dst
    GROUP BY e.src
    ORDER BY doc_id
    """
    )


@register("graph_kcore", _kcore_sql())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=2) of the simhash near-dup graph by
    iterative peeling: repeatedly drop nodes with degree < k until the
    fixpoint — the subgraph where every surviving node keeps ≥ k
    surviving neighbors. Dedup pipelines read the core as the
    "dense duplication nucleus" (template farms, mirrored boilerplate)
    vs the peelable fringe of incidental matches.

    Round-9 delta peeling (VERDICT r8 item 6): the previous loop
    re-aggregated degrees over and REWROTE the whole edge list every
    round to remove a few hundred nodes (1.8M-edge checkpoint × rounds).
    The edge list is now checkpointed ONCE and stays static; the loop
    maintains a NODE-level degree frame incrementally — each round finds
    the sub-k nodes (tiny), broadcast-joins their edges to decrement the
    surviving neighbors' degrees, and checkpoints only the |nodes|-row
    degree frame. Per-round work is one codegen broadcast probe of the
    static edges plus node-sized aggregates, ∝ |removed|·avg-degree, not
    ∝ |edges|. At the fixpoint the maintained degrees ARE the core
    degrees, so no final edge pass either. Peeling is confluent — the
    fixpoint is unique regardless of removal order — so the result is
    deterministic at any parallelism (the equality with a
    single-machine reference peeler is pinned in
    tests/test_properties.py). 20-round cap raises rather than silently
    truncates. 3.8 s → ~2 s at sf0.1 (input derivation dominates).

    Round-10 Tier-H promotion: the DuckDB twin unrolls the SAME
    synchronous peel into 20 MATERIALIZED stages over the same banded
    edge list (:func:`_kcore_sql`) — confluence + the shared round cap
    make the unrolled stage-20 survivor set exactly the Spark fixpoint,
    so the core membership AND degrees are value-checked.
    """
    k = 2
    pairs = _simhash_pairs_pinned(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.selectExpr("doc_a AS src", "doc_b AS dst")
        .unionAll(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
        .localCheckpoint()  # lazy: the degree init below materializes it
    )
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .localCheckpoint(eager=True)
    )
    for _ in range(20):
        removed = deg.filter(F.col("d") < k).select("src")
        if removed.isEmpty():
            break
        # decrement surviving neighbors by their edges into removed nodes
        delta = (
            edges.join(F.broadcast(removed), "src")
            .groupBy(F.col("dst").alias("src"))
            .agg(F.count(F.lit(1)).cast("long").alias("dd"))
        )
        deg = (
            deg.filter(F.col("d") >= k)
            .join(F.broadcast(delta), "src", "left")
            .select(
                "src",
                (F.col("d") - F.coalesce(F.col("dd"), F.lit(0))).alias("d"),
            )
            .localCheckpoint(eager=True)
        )
    else:  # pragma: no cover - fixture converges in < 20 rounds
        raise RuntimeError("k-core peeling did not converge in 20 rounds")
    return (
        deg.select(
            F.col("src").alias("doc_id"), F.col("d").alias("core_degree")
        )
        .orderBy("doc_id")
    )


_PARA_W = 8  # tokens per span; fixture texts have no newlines, so fixed
             # 8-token spans stand in for paragraphs


@register(
    "dedup_paragraph",
    f"""
    WITH ch AS (
        SELECT doc_id, j,
               ARRAY_TO_STRING(w[j*{_PARA_W}+1 : j*{_PARA_W}+{_PARA_W}], ' ')
                   AS chunk
        FROM (SELECT doc_id, STRING_SPLIT(TRIM(text), ' ') AS w
              FROM documents) t,
             RANGE(0, 400) r(j)
        WHERE LEN(w[j*{_PARA_W}+1 : j*{_PARA_W}+{_PARA_W}]) = {_PARA_W}
    ),
    ranked AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, j)
                   AS occ
        FROM ch
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(COUNT(*) FILTER (WHERE occ > 1) AS BIGINT) AS removed_spans,
           ROUND(CAST(COUNT(*) FILTER (WHERE occ > 1) AS DOUBLE)
                 / COUNT(*), 4) AS removed_frac
    FROM ranked
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (paragraph) exact dedup, Dolma-style: split every doc
    into fixed 8-token spans, and across the WHOLE corpus keep only the
    first occurrence of each span (ordered by doc_id, then position);
    later occurrences are marked removed. This is the intra-corpus
    boilerplate killer that document-level dedup cannot see — repeated
    headers/footers/navigation survive doc-level MinHash because the
    surrounding text differs. Plan: one explode to spans (map-side), one
    span-keyed window for first-occurrence ranking, one doc-keyed
    re-aggregation — shuffle is bounded by span count, and a hot span
    (classic boilerplate) is exactly what AQE skew-split handles. The
    fixture texts carry no newlines, so fixed-width token spans stand in
    for real paragraph boundaries; the plan is boundary-agnostic."""
    docs = load_table(spark, sf_dir, "documents")
    # Tokenize once per doc; indexing the materialized array inside the
    # HOF lambda avoids re-running split() per span (the O(L²) lambda
    # re-split idiom fixed registry-wide in round 11).
    words = docs.select("doc_id", F.split(F.trim("text"), " ").alias("w"))
    spans = words.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"filter(transform(sequence(0, CAST(size(w) / {_PARA_W}"
                f" AS INT)), j -> array_join(slice(w, j * {_PARA_W} + 1,"
                f" {_PARA_W}), ' ')), c -> size(split(c, ' ')) = {_PARA_W})"
            )
        ).alias("j", "chunk"),
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "j")
    ranked = spans.select("doc_id", F.row_number().over(w).alias("occ"))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.count_if(F.col("occ") > 1).cast("bigint").alias("removed_spans"),
            F.round(
                F.count_if(F.col("occ") > 1).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("removed_frac"),
        )
        .orderBy("doc_id")
    )


def _lsh_tuning_sql() -> str:
    mins = ",\n               ".join(
        f"MIN(({a} * h31 + {b}) % {_MH_P}) AS m{i}"
        for i, (a, b) in enumerate(_MH_PERMS)
    )
    n = len(_MH_PERMS)
    configs = [(8, 1), (4, 2), (2, 4), (1, 8)]
    parts = []
    for bb, rr in configs:
        band_keys = " OR ".join(
            "("
            + " AND ".join(
                f"a.m{band * rr + k} = b.m{band * rr + k}" for k in range(rr)
            )
            + ")"
            for band in range(bb)
        )
        parts.append(
            f"""
        SELECT 'b{bb}r{rr}' AS config, {bb} AS b, {rr} AS r,
               CAST(COUNT(*) AS BIGINT) AS n_candidates
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({band_keys})"""
        )
    union = "\n        UNION ALL".join(parts)
    return f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, shingle
        FROM (
            SELECT doc_id,
                   UNNEST([ARRAY_TO_STRING(w[i:i+1], ' ')
                           FOR i IN RANGE(1, LEN(w))]) AS shingle
            FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents) t
        ) s
    ), hashed AS (
        SELECT doc_id,
               (('0x' || SUBSTRING(MD5(shingle), 1, 15))::BIGINT) % {_MH_P}
                   AS h31
        FROM sh
    ), sig AS (
        SELECT doc_id, {mins}
        FROM hashed GROUP BY doc_id
    ), counts AS ({union}
    )
    SELECT config, CAST(b AS INT) AS b, CAST(r AS INT) AS r,
           n_candidates,
           ROUND(1.0 - POW(1.0 - POW(0.5, r), CAST(b AS DOUBLE)), 6)
               AS p_candidate_at_s50,
           ROUND(POW(1.0 - POW(0.5, 1.0 / b), 1.0 / r), 6) AS s50_threshold
    FROM counts ORDER BY b DESC
    """


@register("dedup_lsh_tuning", _lsh_tuning_sql())
def dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH design-table: the SAME 8 MinHash mins evaluated under four
    band/row configurations (8×1, 4×2, 2×4, 1×8), reporting each
    config's MEASURED candidate-pair count on the corpus next to its
    theoretical S-curve operating point — P(candidate | s=0.5) =
    1−(1−sʳ)ᵇ and the similarity s₅₀ where the curve crosses ½. This
    is the tuning analysis run before committing a dedup campaign:
    more bands/shorter rows → recall (and candidate cost) up,
    precision down; the table quantifies the trade on real data
    without re-hashing (band grouping is just a re-slicing of one
    signature set — the mergeable-signature property). Signatures are
    exact integer math (MD5-derived shingle hashes, universal-hash
    mins over the Mersenne prime); candidate counting per config is a
    banded self-join exactly like the production path. At 100 TB you
    run this on a hash-sampled corpus slice; the plan is unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    shingles = F.expr(
        ngram_join(2)
    )
    sh = docs.select("doc_id", w.alias("w")).select(
        "doc_id", F.explode(F.array_distinct(shingles)).alias("shingle")
    )
    vocab = sh.select("shingle").distinct().select(
        "shingle",
        (
            F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
            % _MH_P
        ).alias("h31"),
    )
    hashed = sh.join(F.broadcast(vocab), "shingle").select("doc_id", "h31")
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h31") + F.lit(b)) % _MH_P).alias(f"m{i}")
            for i, (a, b) in enumerate(_MH_PERMS)
        ]
    ).persist()
    a, b = sig.alias("a"), sig.alias("b")
    out = None
    for bb, rr in ((8, 1), (4, 2), (2, 4), (1, 8)):
        band_match = None
        for band in range(bb):
            m = None
            for k in range(rr):
                i = band * rr + k
                cond = F.col(f"a.m{i}") == F.col(f"b.m{i}")
                m = cond if m is None else (m & cond)
            band_match = m if band_match is None else (band_match | m)
        cnt = (
            a.join(
                b,
                (F.col("a.doc_id") < F.col("b.doc_id")) & band_match,
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
            .select(
                F.lit(f"b{bb}r{rr}").alias("config"),
                F.lit(bb).cast("int").alias("b"),
                F.lit(rr).cast("int").alias("r"),
                "n_candidates",
            )
        )
        out = cnt if out is None else out.unionAll(cnt)
    bd = F.col("b").cast("double")
    rd = F.col("r").cast("double")
    return out.select(
        "config",
        "b",
        "r",
        "n_candidates",
        F.round(1.0 - F.pow(1.0 - F.pow(F.lit(0.5), rd), bd), 6).alias(
            "p_candidate_at_s50"
        ),
        F.round(
            F.pow(1.0 - F.pow(F.lit(0.5), 1.0 / bd), 1.0 / rd), 6
        ).alias("s50_threshold"),
    ).orderBy(F.col("b").desc())


@register(
    "dedup_cluster_purity",
    _SIMHASH_SIG_SQL
    + """
    , twins AS (
        SELECT simhash, CAST(COUNT(*) AS BIGINT) AS m
        FROM sig GROUP BY simhash HAVING COUNT(*) >= 2
    ), members AS (
        SELECT s.simhash, s.doc_id, e.label
        FROM sig s
        JOIN twins t ON t.simhash = s.simhash
        JOIN embeddings e ON e.vec_id = s.doc_id
    ), lab AS (
        SELECT simhash, label, CAST(COUNT(*) AS BIGINT) AS c
        FROM members GROUP BY simhash, label
    ), per_cluster AS (
        SELECT simhash,
               CAST(SUM(c) AS BIGINT) AS size,
               CAST(MAX(c) AS BIGINT) AS top_label_n
        FROM lab GROUP BY simhash
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(size) AS BIGINT) AS n_docs_clustered,
           CAST(SUM(top_label_n) AS BIGINT) AS n_majority_label,
           ROUND(CAST(SUM(top_label_n) AS DOUBLE) / SUM(size), 6)
               AS weighted_purity,
           CAST(COUNT(*) FILTER (WHERE top_label_n = size) AS BIGINT)
               AS n_pure_clusters,
           CAST(MAX(size) AS BIGINT) AS largest_cluster
    FROM per_cluster
    """,
)
def dedup_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-plane dedup validation: do signature-twin clusters (docs
    with IDENTICAL simhash — the tightest near-dup tier) agree with the
    embedding labels? Weighted purity = Σ max-label-count / Σ size over
    clusters of ≥ 2 labeled members — the standard external cluster
    metric, here answering "does lexical identity imply semantic
    identity on this corpus": low purity means the simhash tier is
    gluing semantically distinct docs (too-weak fingerprint), purity 1
    with few clusters means headroom to dedup harder. Pure integer
    counting at every step.

    Scale: one zero-shuffle signature pass, one twin aggregate, one
    join to the (dimension-sized) label table, two small rollups."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    # pin the signature frame: it feeds BOTH the twin aggregate and the
    # self-join probe side, and without truncation the joined plan
    # re-runs the whole per-doc bit-vote kernel on each side (measured
    # 32.5 s -> ~1 s at sf0.1 in the full-registry bench)
    sig = _simhash_sigs(docs).localCheckpoint()
    twins = (
        sig.groupBy("simhash")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
        .filter(F.col("m") >= 2)
    )
    members = sig.join(twins, "simhash").join(emb, "doc_id")
    lab = members.groupBy("simhash", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per_cluster = lab.groupBy("simhash").agg(
        F.sum("c").cast("bigint").alias("size"),
        F.max("c").cast("bigint").alias("top_label_n"),
    )
    return per_cluster.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("size").cast("bigint").alias("n_docs_clustered"),
        F.sum("top_label_n").cast("bigint").alias("n_majority_label"),
        F.round(
            F.sum("top_label_n").cast("double") / F.sum("size"), 6
        ).alias("weighted_purity"),
        F.count_if(F.col("top_label_n") == F.col("size"))
        .cast("bigint")
        .alias("n_pure_clusters"),
        F.max("size").cast("bigint").alias("largest_cluster"),
    )



@register(
    "dedup_semantic",
    f"""
    WITH rem AS (
        SELECT DISTINCT b.vec_id AS v
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE ROUND({sql_cosine_q('a.embedding', 'b.embedding')}, 4) >= 0.4
    )
    SELECT e.label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COUNT(r.v) AS BIGINT) AS n_removed,
           ROUND(1.0 - CAST(COUNT(r.v) AS DOUBLE) / COUNT(*), 4)
               AS retention
    FROM embeddings e LEFT JOIN rem r ON e.vec_id = r.v
    GROUP BY e.label
    ORDER BY e.label
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. '23): semantic deduplication that generates
    candidates INSIDE pre-computed embedding clusters instead of
    hashing — cluster first, then drop every vector whose cosine to a
    lower-id vector in the SAME cluster clears the threshold (0.4, the
    scale ``embed_neardup`` calibrates), keeping the smallest id of each
    near-dup set. The fixture's ``label`` column stands in for the
    k-means coarse assignment, the same convention as ``sim_ann_ivf``'s
    cells (``embed_kmeans`` is the in-engine clustering step a production
    pipeline would chain in front). Emits the per-cluster retention
    report a data-curation run reads before committing the drop.

    Scale: candidate generation is CELL-SCOPED — vectors shuffle once on
    the cluster id and a vectorized numpy kernel (``applyInPandas``, the
    same bit-exact quantized arithmetic as ``sim_cosine_pairs``'s block
    kernel) emits only above-threshold pairs per cell, so the work is
    Σ|cell|² not n², bounded by the clustering fan-out (the whole point
    of SemDeDup vs ``embed_neardup``'s exact O(n²) spec — a per-pair HOF
    join measured ~9 s at sf0.1 vs ~1 s for the kernel). Exact clones
    are COLLAPSED before the kernel (group by the embedding value, keep
    the min-id representative): removal depends only on the vector VALUE
    and the min id that carries it — a non-representative clone of a
    NON-ZERO value is always removed (cos = 1 to its own rep; a zero
    vector's cosine is NaN so its clones are excluded from the cnt-1
    expansion, matching the row-level rule), and a representative is
    removed iff some neighbor value holds a smaller rep id — so the
    expansion is provably identical to the row-level rule while the
    quadratic kernel cost tracks DISTINCT vectors, not duplication
    density (the 10× clone probe ran 11× before this, flat after; same
    discipline as ``dedup_ngram_verify``). The greedy keep-lowest rule
    needs no iteration, unlike the CC-based ``dedup_cluster_docs``.
    Rounding stays Spark-side (JVM half-up)."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    groups = emb.groupBy("label", "embedding").agg(
        F.min("vec_id").alias("rep"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
        # zero-norm flag for the clone expansion below: cos(dup, rep) is
        # NaN when the shared value is the zero vector, so the oracle's
        # row-level rule removes NOTHING in that group — cnt-1 must not
        # be counted for it. Same quantized norm as the kernel's qn.
        (sq_norm_q(F.col("embedding")) > 0).alias("nonzero"),
    )

    def _cell(key, pdf):  # pragma: no cover - executed on executors
        ids = pdf["rep"].to_numpy(np.int64)
        mat = np.array(list(pdf["embedding"]), dtype=np.float64)
        qn = np.floor(mat * mat * 1e12).astype(np.int64).sum(axis=1) / 1e12
        # row-blocked pairwise pass: peak memory O(block * k * d), not
        # O(k^2 * d) — a 5k-vector cell at d=32 would otherwise hold a
        # >12 GB float64/int64 tensor in one task. Blocking slices rows
        # of the SAME elementwise floor(a*b*1e12) arithmetic, so emitted
        # pairs are bit-identical to the unblocked kernel.
        out = []
        block = 512
        with np.errstate(invalid="ignore"):
            for s in range(0, mat.shape[0], block):
                terms = np.floor(
                    (mat[s : s + block, None, :] * mat[None, :, :]) * 1e12
                ).astype(np.int64)
                sim = (terms.sum(axis=2) / 1e12) / np.sqrt(
                    qn[s : s + block, None] * qn[None, :]
                )
                mask = (ids[s : s + block, None] < ids[None, :]) & (
                    sim >= 0.4 - 1e-4
                )
                _, bi = np.nonzero(mask)
                out.append(
                    pd.DataFrame({"v": ids[bi], "sim_raw": sim[mask]})
                )
        return pd.concat(out, ignore_index=True).astype(
            {"v": np.int64, "sim_raw": np.float64}
        )

    cand = groups.groupBy("label").applyInPandas(
        _cell, "v bigint, sim_raw double"
    )
    rem_reps = (
        cand.filter(F.round(F.col("sim_raw"), 4) >= 0.4)
        .select("v")
        .distinct()
    )
    per = (
        groups.join(rem_reps, groups.rep == rem_reps.v, "left")
        .groupBy("label")
        .agg(
            F.sum("cnt").cast("long").alias("n_vecs"),
            (
                F.sum(
                    F.when(F.col("nonzero"), F.col("cnt") - 1).otherwise(
                        F.lit(0)
                    )
                )
                + F.count("v")
            )
            .cast("long")
            .alias("n_removed"),
        )
    )
    return per.select(
        "label",
        "n_vecs",
        "n_removed",
        F.round(
            1.0 - F.col("n_removed").cast("double") / F.col("n_vecs"), 4
        ).alias("retention"),
    ).orderBy("label")


@register(
    "dedup_prefix_cluster",
    """
    WITH d AS (
        SELECT doc_id, STRING_SPLIT(TRIM(text), ' ') AS w FROM documents
    ), p AS (
        SELECT doc_id, ARRAY_TO_STRING(w[1:3], ' ') AS prefix, LEN(w) AS nt
        FROM d
    )
    SELECT prefix,
           CAST(MIN(doc_id) AS BIGINT) AS rep_doc,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens
    FROM p GROUP BY prefix HAVING COUNT(*) >= 2
    """,
)
def dedup_prefix_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix boilerplate detection: documents opening with the
    identical k-token prefix (k=3 here; real web corpora use 8-20) are
    grouped — the cheap first-pass that catches templated headers,
    licence preambles and scraper banners BEFORE any pairwise machinery
    runs. One hash-groupBy on the prefix key: shuffle is one row per
    document carrying k tokens, never a join — the ``dedup_exact``
    discipline applied to a document prefix instead of the whole text.

    Scale: linear scan + one grouped aggregate; the prefix is a
    fixed-width key so the shuffle is bounded by corpus row count, and a
    skewed boilerplate prefix lands in ONE group whose aggregate is
    map-side combined (count/sum) — clone density cannot quadratically
    grow anything here, which is exactly why this pass runs first."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), " ")
    p = docs.select(
        "doc_id",
        F.array_join(F.slice(w, 1, 3), " ").alias("prefix"),
        F.size(w).alias("nt"),
    )
    return (
        p.groupBy("prefix")
        .agg(
            F.min("doc_id").alias("rep_doc"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("total_tokens"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "dedup_keep_best",
    f"""
    WITH RECURSIVE jp AS (
        SELECT doc_a, doc_b FROM ({_NGRAM_JACCARD_SQL}) x
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM jp
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM jp
    ), cc(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, c.lbl FROM cc c JOIN edges e ON e.src = c.node
    ), lab AS (
        SELECT node, MIN(lbl) AS cluster_id FROM cc GROUP BY node
    ), tok AS (
        SELECT doc_id, LEN(STRING_SPLIT(TRIM(text), ' ')) AS nt
        FROM documents
    ), mem AS (
        SELECT l.cluster_id, l.node, t.nt
        FROM lab l JOIN tok t ON t.doc_id = l.node
    ), sized AS (
        SELECT cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(nt) AS BIGINT) AS tot
        FROM mem GROUP BY cluster_id HAVING COUNT(*) >= 2
    ), ranked AS (
        SELECT m.cluster_id, m.node, m.nt, s.n_members, s.tot,
               ROW_NUMBER() OVER (PARTITION BY m.cluster_id
                                  ORDER BY m.nt DESC, m.node ASC) AS rn
        FROM mem m JOIN sized s ON s.cluster_id = m.cluster_id
    )
    SELECT cluster_id,
           CAST(node AS BIGINT) AS kept_doc,
           n_members,
           CAST(nt AS BIGINT) AS kept_tokens,
           CAST(tot - nt AS BIGINT) AS dropped_tokens
    FROM ranked WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked survivor selection: within each n-gram-Jaccard
    near-dup cluster keep the HIGHEST-VALUE document (most tokens, doc_id
    as the deterministic tiebreak) instead of ``dedup_cluster_docs``'s
    min-id pick — the policy real training pipelines run, because the
    longest member of a boilerplate cluster usually carries the content
    and the shorter ones are truncations. Emits, per multi-member
    cluster, the kept doc plus how many member-tokens the collapse drops
    — the corpus-shrinkage accounting a dedup report needs.

    Same pointer-jumping component machinery as ``dedup_cluster_docs``
    (:func:`_min_label_components`); the keep pick is one partitioned
    window over the member frame (|cluster| rows, never corpus-wide).

    Scale: the edge derivation is the shingle-collision candidate join
    (session-pinned, shared with ``dedup_cluster_docs``); components are
    O(log diameter) BSP rounds (labeling also pinned); ranking shuffles
    one row per clustered doc on cluster_id."""
    labels = _ngram_labels_pinned(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.trim(F.col("text")), " ")).alias("nt")
    )
    mem = labels.join(docs, labels.node == docs.doc_id).select(
        F.col("lbl").alias("cluster_id"), "node", "nt"
    )
    sized = (
        mem.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("nt").cast("long").alias("tot"),
        )
        .filter(F.col("n_members") >= 2)
    )
    rn = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy(
            F.desc("nt"), F.asc("node")
        )
    )
    return (
        mem.join(sized, "cluster_id")
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("node").cast("long").alias("kept_doc"),
            "n_members",
            F.col("nt").cast("long").alias("kept_tokens"),
            (F.col("tot") - F.col("nt")).cast("long").alias("dropped_tokens"),
        )
    )


@register(
    "dedup_substring_spans",
    """
    WITH d AS (
        SELECT doc_id, STRING_SPLIT(TRIM(text), ' ') AS w FROM documents
    ), win AS (
        SELECT doc_id, ARRAY_TO_STRING(w[i:i+19], ' ') AS span
        FROM d, UNNEST(RANGE(1, LEN(w) - 20 + 2)) t(i)
        WHERE LEN(w) >= 20
    ), rep AS (
        SELECT span,
               CAST(COUNT(*) AS BIGINT) AS n_occ,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(MIN(doc_id) AS BIGINT) AS rep_doc
        FROM win GROUP BY span HAVING COUNT(*) >= 2
    )
    SELECT span, n_occ, n_docs, rep_doc
    FROM rep ORDER BY n_occ DESC, n_docs DESC, span LIMIT 20
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated exact substring detection (Lee et al. '22 'Deduplicating
    Training Data Makes Language Models Better', the ExactSubstr rule):
    every 20-token window of every document, grouped — a window occurring
    twice anywhere in the corpus is a repeated span (memorization fuel),
    whether the duplication is intra- or inter-document, which is exactly
    what set-based shingle Jaccard cannot see. Emits the top-20 most
    repeated spans with occurrence/document counts and a representative.

    The suffix-array formulation of the paper is single-machine; the
    distributed shape is this rolling-window hash-groupBy — the window
    stream is corpus×stride rows but the aggregate is map-side combined
    and the only shuffle is on the span key. Production tuning: hash the
    window (``xxhash64``) for the group key and keep the text only on
    the representative, stride >1 with window overlap ≥ the detection
    target, and merge adjacent hits into maximal spans downstream; the
    fixture-scale contract groups the literal window string so the
    DuckDB twin is character-identical."""
    docs = load_table(spark, sf_dir, "documents")
    win = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("w")
    ).select(
        "doc_id",
        F.explode(F.expr(ngram_join(20))).alias("span"),
    )
    rep = (
        win.groupBy("span")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occ"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("rep_doc"),
        )
        .filter(F.col("n_occ") >= 2)
    )
    return rep.orderBy(
        F.desc("n_occ"), F.desc("n_docs"), F.asc("span")
    ).limit(20)


@register(
    "dedup_threshold_sweep",
    f"""
    WITH p AS (
        SELECT doc_a, doc_b, jaccard FROM ({_NGRAM_JACCARD_SQL}) x
    ), grid AS (
        SELECT * FROM (VALUES (0.08), (0.1), (0.2), (0.3), (0.5)) t(threshold)
    ), hits AS (
        SELECT g.threshold, p.doc_a, p.doc_b
        FROM grid g JOIN p ON p.jaccard >= g.threshold
    ), deg AS (
        SELECT threshold, doc_id, CAST(COUNT(*) AS BIGINT) AS degree
        FROM (
            SELECT threshold, doc_a AS doc_id FROM hits
            UNION ALL
            SELECT threshold, doc_b AS doc_id FROM hits
        ) u GROUP BY threshold, doc_id
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT g.threshold,
           CAST(COALESCE(h.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(d.n_touched, 0) AS BIGINT) AS n_docs_touched,
           CAST(COALESCE(d.max_degree, 0) AS BIGINT) AS max_degree,
           FLOOR(COALESCE(d.n_touched, 0) * 1000000.0 / t.n_docs) / 1000000.0
               AS frac_docs_touched
    FROM grid g
    LEFT JOIN (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
               FROM hits GROUP BY threshold) h ON h.threshold = g.threshold
    LEFT JOIN (SELECT threshold,
                      CAST(COUNT(*) AS BIGINT) AS n_touched,
                      CAST(MAX(degree) AS BIGINT) AS max_degree
               FROM deg GROUP BY threshold) d ON d.threshold = g.threshold
    CROSS JOIN tot t
    ORDER BY g.threshold
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold tuning table: for each candidate Jaccard bar, how
    many near-dup pairs fire, how many documents are touched, the worst
    per-doc degree (the boilerplate-hub indicator), and the touched
    fraction of the corpus — the chart a curation run reads before
    committing to a threshold (too low ⇒ half the corpus glued into one
    component; too high ⇒ dedup does nothing). Reuses the session-pinned
    n-gram Jaccard pair frame, so the sweep costs five filters over an
    already-materialized pair list plus two grouped aggregates — the
    shingle join never re-runs per threshold.

    Scale: pair-frame reuse is the whole story — a 100 TB sweep derives
    candidates once and re-slices; degree and touch counts are map-side
    combined."""
    pairs = _ngram_pairs_pinned(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard"
    )
    grid = spark.createDataFrame(
        [(0.08,), (0.1,), (0.2,), (0.3,), (0.5,)], "threshold double"
    )
    hits = pairs.join(
        F.broadcast(grid), F.col("jaccard") >= F.col("threshold")
    ).select("threshold", "doc_a", "doc_b")
    deg = (
        hits.select("threshold", F.col("doc_a").alias("doc_id"))
        .unionAll(hits.select("threshold", F.col("doc_b").alias("doc_id")))
        .groupBy("threshold", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    n_docs = load_table(spark, sf_dir, "documents").count()
    per_t_pairs = hits.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    per_t_deg = deg.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_touched"),
        F.max("degree").cast("long").alias("max_degree"),
    )
    return (
        grid.join(F.broadcast(per_t_pairs), "threshold", "left")
        .join(F.broadcast(per_t_deg), "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_touched", F.lit(0))
            .cast("long")
            .alias("n_docs_touched"),
            F.coalesce("max_degree", F.lit(0))
            .cast("long")
            .alias("max_degree"),
            (
                F.floor(
                    F.coalesce("n_touched", F.lit(0)) * 1000000.0 / n_docs
                )
                / 1000000.0
            ).alias("frac_docs_touched"),
        )
        .orderBy("threshold")
    )


#: Winnowing parameters: 3-token k-grams, window of 4 k-gram positions
#: (guarantee threshold t = w + k − 1 = 6 tokens), position encoding base
#: (max positions per doc), and the ubiquitous-fingerprint df cap.
_WN_K = 3
_WN_W = 4
_WN_M = 1_048_576
_WN_DF = 64

_WINNOW_SQL = f"""
    WITH grp AS (
        SELECT MIN(doc_id) AS rep_id, MIN(text) AS text
        FROM documents GROUP BY MD5(text)
    ), toks AS (
        SELECT rep_id, STRING_SPLIT(text, ' ') AS w FROM grp
    ), kg AS (
        SELECT rep_id, i - 1 AS pos,
               (('0x' || SUBSTRING(MD5(ARRAY_TO_STRING(w[i:i+2], ' ')),
                                   1, 15))::BIGINT) % {_MH_P} AS h
        FROM toks, UNNEST(RANGE(1, LEN(w) - 1)) t(i)
    ), enc AS (
        SELECT rep_id, pos,
               h * {_WN_M} + ({_WN_M - 1} - pos) AS e
        FROM kg
    ), wins AS (
        SELECT rep_id,
               MIN(e) OVER (PARTITION BY rep_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {_WN_W - 1} FOLLOWING) AS emin,
               COUNT(*) OVER (PARTITION BY rep_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW
                              AND {_WN_W - 1} FOLLOWING) AS c
        FROM enc
    ), sel AS (
        SELECT DISTINCT rep_id, emin // {_WN_M} AS hsel
        FROM wins WHERE c = {_WN_W}
    ), sizes AS (
        SELECT rep_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM sel GROUP BY rep_id
    ), keep AS (
        SELECT hsel FROM sel GROUP BY hsel HAVING COUNT(*) <= {_WN_DF}
    ), pairs AS (
        SELECT a.rep_id AS ra, b.rep_id AS rb,
               CAST(COUNT(*) AS BIGINT) AS shared
        FROM sel a
        JOIN keep k ON k.hsel = a.hsel
        JOIN sel b ON b.hsel = a.hsel AND b.rep_id > a.rep_id
        GROUP BY 1, 2
    )
    SELECT p.ra AS doc_a, p.rb AS doc_b, p.shared,
           ROUND(CAST(p.shared AS DOUBLE) / LEAST(sa.n, sb.n), 4)
               AS overlap
    FROM pairs p
    JOIN sizes sa ON sa.rep_id = p.ra
    JOIN sizes sb ON sb.rep_id = p.rb
    ORDER BY p.shared DESC, doc_a, doc_b LIMIT 10
"""


@register("dedup_winnowing", _WINNOW_SQL)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint dedup (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every 3-token k-gram, slide a
    window of w = 4 k-gram positions, and select each window's minimum
    hash (ties to the RIGHTMOST position — the robust-winnowing rule,
    encoded exactly as ``min(h·M + (M−1−pos))`` so one integer MIN
    carries both the value and the tie direction). The selected ~2/(w+1)
    of k-grams are a LOCAL fingerprint sample with a guarantee MinHash
    cannot give: any shared token run of length ≥ w + k − 1 = 6 shares
    at least one selected fingerprint, so candidate recall over runs at
    the guarantee threshold is pigeonhole-exact, not probabilistic.
    Ubiquitous fingerprints (document frequency > ``_WN_DF`` = 64, the
    boilerplate mass) are dropped from
    the pair join — the MOSS boilerplate rule — while overlap
    denominators keep the full per-doc fingerprint counts. Identical
    integer math on both engines (md5-prefix hashes mod 2³¹−1, the
    dedup_minhash idiom), clone texts collapsed to reps first; top-10
    rep pairs by shared fingerprints published.

    Scale: the winnowed index is ~2.5× smaller than the full shingle
    index BEFORE the join — selection is a per-doc window over k-gram
    positions (map-side after one shuffle on rep), and the pair join
    costs O(collision mass) on the df-capped winnowed set, the same
    bucketed posture as ``dedup_ngram_jaccard``; at corpus scale the
    guarantee threshold (w+k−1 tokens) is the tuning knob that trades
    index size against the shortest detectable clone run."""
    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    grp = raw.groupBy(F.md5("text").alias("hh")).agg(
        F.min("doc_id").alias("rep_id"),
        F.min_by("text", "doc_id").alias("text"),
    )
    kgram_hash = guarded_fanout(
        _WN_K - 1,
        "CAST(conv(substring(md5(array_join(slice(w, i, "
        f"{_WN_K}), ' ')), 1, 15), 16, 10) AS BIGINT) % {_MH_P}",
    )
    kg = (
        grp.repartition(spark.sparkContext.defaultParallelism)
        .select("rep_id", F.split("text", " ").alias("w"))
        .select("rep_id", F.posexplode(F.expr(kgram_hash)).alias("pos", "h"))
    )
    enc = kg.select(
        "rep_id",
        "pos",
        (F.col("h") * _WN_M + (_WN_M - 1 - F.col("pos"))).alias("e"),
    )
    w_win = (
        Window.partitionBy("rep_id").orderBy("pos").rowsBetween(0, _WN_W - 1)
    )
    wins = enc.select(
        "rep_id",
        F.min("e").over(w_win).alias("emin"),
        F.count(F.lit(1)).over(w_win).alias("c"),
    )
    # Round-12 opt pass: the winnowed index feeds FOUR consumers (sizes,
    # the df filter, both join sides) — without a barrier the whole
    # selection subtree (clone-collapse groupBy + k-gram md5 explode +
    # window + distinct, the operator's dominant cost) re-evaluates per
    # consumer (before-plan: 5× the scan, 700 lines). One eager
    # checkpoint of the ~2/(w+1)-sampled index serves all four
    # (same-window A/B in OPTIMIZATION_r12.md).
    sel = (
        wins.filter(F.col("c") == _WN_W)
        .select("rep_id", F.floor(F.col("emin") / _WN_M).alias("hsel"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = sel.groupBy("rep_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    keep = sel.groupBy("hsel").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _WN_DF
    ).select("hsel")
    a = sel.join(keep, "hsel").select("hsel", F.col("rep_id").alias("ra"))
    b = sel.select("hsel", F.col("rep_id").alias("rb"))
    pairs = (
        a.join(b, "hsel")
        .filter(F.col("rb") > F.col("ra"))
        .groupBy("ra", "rb")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    return (
        pairs.join(sizes.select(F.col("rep_id").alias("ra"), F.col("n").alias("na")), "ra")
        .join(sizes.select(F.col("rep_id").alias("rb"), F.col("n").alias("nb")), "rb")
        .select(
            F.col("ra").alias("doc_a"),
            F.col("rb").alias("doc_b"),
            "shared",
            F.round(
                F.col("shared").cast("double") / F.least("na", "nb"), 4
            ).alias("overlap"),
        )
        .orderBy(F.desc("shared"), "doc_a", "doc_b")
        .limit(10)
    )
