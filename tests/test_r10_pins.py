"""Round-10 session-pin semantics and promotion-backing properties.

The round introduced four new LRU-1 pins (ANN plane, bigram-perplexity
frame, simhash class graph, shingle-array frame). These tests pin the
cache CONTRACT — one fixture scope, hit identity, eviction releases the old
bundle, recompute-after-eviction stays correct — plus the two
mathematical facts the promotions lean on: k-core confluence (one extra
peel round is a no-op at the fixpoint, which is what makes the unrolled
20-stage oracle exact) and the KMV estimator's closed form.
"""

from __future__ import annotations

import math
import os

import pyspark.sql.functions as F

from hive_processor_spark import queries
from hive_processor_spark.sources.tables import pinned
from tests.conftest import SF_DIR, SF_SMALL

_QUERIES = queries()


def _scopes(family: str) -> set[tuple[str, str]]:
    """(applicationId, sf_dir) of every live pin of ``family``."""
    return {k[:2] for k in pinned(family)}


def test_ann_plane_pin_is_lru1_and_eviction_recomputes(spark):
    from hive_processor_spark.operators.similarity import (
        ann_plane_frame,
        ann_plane_pinned,
    )

    first = _QUERIES["sim_ann_join"](spark, SF_SMALL).count()
    frames = pinned("ann_plane")
    old_frames = list(frames.values())
    assert old_frames, "pin plane should hold the signature frames"
    grp = next(v for k, v in frames.items() if k[3] == ("grp",))
    plane = ann_plane_pinned(spark, SF_SMALL)
    assert ann_plane_frame(plane, "grp", None) is grp  # hit identity

    # switching fixtures evicts: one fixture scope stays pinned and the
    # evicted scope's frames are unpersisted
    _QUERIES["sim_ann_join"](spark, SF_DIR).count()
    app_id = spark.sparkContext.applicationId
    assert _scopes("ann_plane") == {(app_id, os.path.normpath(SF_DIR))}
    for df in old_frames:
        assert not df.storageLevel.useMemory, "evicted frame still pinned"

    # lineage-backed: recompute after eviction gives the same answer
    assert _QUERIES["sim_ann_join"](spark, SF_SMALL).count() == first


def test_bigram_ppl_pin_hit_and_isolation(spark):
    from hive_processor_spark.operators.textops import bigram_ppl_pinned

    a = bigram_ppl_pinned(spark, SF_SMALL)
    assert bigram_ppl_pinned(spark, SF_SMALL) is a
    small_sum = a.agg(F.sum("n_bigrams")).head()[0]
    b = bigram_ppl_pinned(spark, SF_DIR)
    assert len(pinned("bigram_ppl")) == 1, "LRU-1: old fixture entry evicted"
    assert b is not a
    # eviction must not poison the other fixture: recompute matches
    assert (
        bigram_ppl_pinned(spark, SF_SMALL).agg(F.sum("n_bigrams")).head()[0]
        == small_sum
    )
    # the registered query reads the same pin contents
    assert _QUERIES["text_bigram_perplexity"](
        spark, SF_SMALL
    ).count() == bigram_ppl_pinned(spark, SF_SMALL).count()


def test_kcore_fixpoint_extra_peel_is_noop(spark):
    """Confluence property backing the unrolled 20-stage oracle: peeling
    the RESULT one more time removes nothing and leaves every degree
    unchanged (the survivors all have core_degree >= k by construction,
    and their degrees are already the within-core degrees)."""
    core = _QUERIES["graph_kcore"](spark, SF_SMALL)
    rows = core.collect()
    assert all(r["core_degree"] >= 2 for r in rows)
    survivors = {r["doc_id"] for r in rows}
    # rebuild the edge list the operator peeled and re-derive degrees
    from hive_processor_spark.operators.dedup import _simhash_pairs_pinned

    pairs = _simhash_pairs_pinned(spark, SF_SMALL).select("doc_a", "doc_b")
    edges = [
        (r["doc_a"], r["doc_b"]) for r in pairs.collect()
    ]
    deg: dict[int, int] = {}
    for a, b in edges:
        if a in survivors and b in survivors:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
    assert deg == {r["doc_id"]: r["core_degree"] for r in rows}
    assert all(d >= 2 for d in deg.values()), "fixpoint not stable"


def test_kmv_estimator_closed_form(spark):
    """The operator's estimate must equal the closed form recomputed in
    pure Python from the k smallest distinct hashes."""
    from hive_processor_spark.operators.aggregates import (
        _AD_KMV_K,
        _kmv_hash_spark,
    )
    from hive_processor_spark.sources.tables import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    got = _QUERIES["agg_approx_distinct"](spark, SF_DIR).head()
    for col, out in [("l_partkey", "approx_parts"), ("l_orderkey", "approx_orders")]:
        hs = sorted(
            r["h"]
            for r in li.select(_kmv_hash_spark(col).alias("h")).distinct().collect()
        )[:_AD_KMV_K]
        if len(hs) < _AD_KMV_K:
            want = len(hs)
        else:
            want = math.floor(
                float(_AD_KMV_K - 1) * (float(1 << 60) / float(hs[-1]))
            )
        assert got[out] == want, (col, got[out], want)


def test_simhash_class_pin_matches_pair_plane(spark):
    """The pinned collapsed class graph must expand to exactly the
    pinned pair frame's edge set (the twin-collapse identity
    graph_triangles counts through)."""
    from hive_processor_spark.operators.dedup import (
        _simhash_classes_pinned,
        _simhash_pairs_pinned,
    )

    cls, ce = _simhash_classes_pinned(spark, SF_SMALL)
    # class-level sanity: reps are distinct, multiplicities >= 1
    reps = cls.select("rep").distinct().count()
    assert reps == cls.count()
    assert cls.filter(F.col("m") < 1).count() == 0
    # every class edge joins two distinct reps present in cls
    bad = (
        ce.join(cls.select(F.col("rep").alias("u")), "u", "left_anti").count()
        + ce.join(cls.select(F.col("rep").alias("v")), "v", "left_anti").count()
    )
    assert bad == 0
    # pair-plane cross-check: total doc-level edge mass implied by the
    # collapse equals the pinned pair frame's row count
    implied = (
        ce.select(
            (F.col("mu") * F.col("mv")).alias("x")
        ).agg(F.sum("x")).head()[0]
        or 0
    ) + (
        cls.filter(F.col("m") >= 2)
        .select((F.col("m") * (F.col("m") - 1) / 2).alias("x"))
        .agg(F.sum("x"))
        .head()[0]
        or 0
    )
    assert int(implied) == _simhash_pairs_pinned(spark, SF_SMALL).count()
