"""Round-12 optimization contracts.

1. The r11 ADVICE latent-crash fix: block kernels must survive EMPTY
   residue classes mod B (a corpus sparser than the block count) instead
   of raising ``AxisError`` inside ``_mat``.
2. The `_ranked_pairs` pair-mass gate: both lanes agree bit-for-bit
   (lane equality is covered by test_r11_opt's kernel-vs-HOF test; here
   we pin the GATING arithmetic itself).
3. The hdr/winsorized probe rewrites keep their published values equal
   to the pre-rewrite formulations (oracle parity is the full gate;
   these unit-pin the specific order-statistic identities used).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_processor_spark.sources.tables import load_table

SF_SMALL = "/root/testdata/sf0.001"


def test_knn_candidates_block_survives_empty_residue_class(spark):
    from hive_processor_spark.operators.similarity import (
        _knn_candidates_block,
    )

    emb = load_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") % 8 == 0
    )
    # B=8 leaves residue classes 1..7 empty: every cross task (0, j)
    # sees an empty slice for block j — must return empty, not raise.
    out = _knn_candidates_block(spark, emb, 2, n_blocks=8).collect()
    ids = {r["i"] for r in out}
    assert ids  # block 0 still produced its candidate lists
    n = emb.count()
    assert len(ids) == n


def test_pair_sims_block_survives_empty_residue_class(spark):
    from hive_processor_spark.operators.similarity import _pair_sims_block

    emb = load_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") % 8 == 0
    )
    out = _pair_sims_block(spark, emb, n_blocks=8).collect()
    n = emb.count()
    assert len(out) == n * (n - 1) // 2  # all same-block pairs, once each


def test_knn_kernel_rejects_zero_norm_embedding(spark):
    from hive_processor_spark.operators.similarity import (
        _knn_candidates_block,
    )

    emb = load_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") < 16
    )
    zeroed = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 3,
            F.transform(F.col("embedding"), lambda _: F.lit(0.0)),
        ).otherwise(F.col("embedding")),
    )
    with pytest.raises(Exception, match="zero quantized norm"):
        _knn_candidates_block(spark, zeroed, 2, n_blocks=2).collect()


def test_winsorized_probe_thresholds_match_brute_force(spark):
    """The two-pass bucket-probe order statistics behind
    stats_winsorized_correlation must reproduce the brute-force
    g+1 / n−g order statistics exactly — pin r_winsorized against a
    numpy reference computed with explicit clip thresholds."""
    import numpy as np

    from hive_processor_spark import queries

    li = load_table(spark, SF_SMALL, "lineitem")
    pdf = li.select(
        F.floor(F.col("l_extendedprice") * 100.0).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
    ).toPandas()
    n = len(pdf)
    g = int(np.floor(0.1 * n))

    def r_of(xs, ys):
        sx, sy = xs.sum(), ys.sum()
        sxx, syy, sxy = (xs * xs).sum(), (ys * ys).sum(), (xs * ys).sum()
        return (n * sxy - sx * sy) / np.sqrt(
            (n * sxx - sx * sx) * (n * syy - sy * sy)
        )

    xs = np.sort(pdf["x"].to_numpy(np.float64))
    ys = np.sort(pdf["y"].to_numpy(np.float64))
    xlo, xhi = xs[g], xs[n - g - 1]  # ranks g+1 and n−g (1-based)
    ylo, yhi = ys[g], ys[n - g - 1]
    exp_w = round(
        r_of(
            pdf["x"].to_numpy(np.float64).clip(xlo, xhi),
            pdf["y"].to_numpy(np.float64).clip(ylo, yhi),
        ),
        6,
    )
    row = (
        queries()["stats_winsorized_correlation"](spark, SF_SMALL)
        .collect()[0]
    )
    assert row["n"] == n
    assert abs(row["r_winsorized"] - exp_w) <= 1e-6


def test_grouped_order_statistics_bounds_mode_equals_span_mode(spark):
    """The r12 `bounds` fast path (fixed superset grids, no span
    pre-pass) must return exactly what the span-scanning mode returns
    for every rank, including values at the bucket-clamp edge."""
    from hive_processor_spark.functions.orderstat import (
        grouped_order_statistics,
    )

    rows = [("a", v, 1) for v in [3, 1, 7, 7, 2, 9, 100]] + [
        ("b", v, 2) for v in [5, 5, 6, 0, 63]
    ]
    hist = spark.createDataFrame(rows, "g string, v long, c long")
    ranks = {
        "lo": lambda n: F.lit(1).cast("long"),
        "med": lambda n: F.floor((n + 1) / 2).cast("long"),
        "hi": lambda n: n,
    }
    span = {
        r["g"]: (r["n"], r["lo"], r["med"], r["hi"])
        for r in grouped_order_statistics(hist, "g", "v", "c", ranks).collect()
    }
    bounded = {
        r["g"]: (r["n"], r["lo"], r["med"], r["hi"])
        for r in grouped_order_statistics(
            hist,
            "g",
            "v",
            "c",
            ranks,
            bounds={"a": (0.0, 100.0), "b": (0.0, 64.0)},
        ).collect()
    }
    assert span == bounded


def test_grouped_order_statistics_bounds_must_cover_every_group(spark):
    """A group missing from `bounds` raises instead of borrowing another
    group's bucket grid; the covered groups alone still answer."""
    from hive_processor_spark.functions.orderstat import (
        grouped_order_statistics,
    )

    hist = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 1), ("b", 3, 1)], "g string, v long, c long"
    )
    ranks = {"hi": lambda n: n}
    bounds = {"a": (0.0, 10.0)}
    with pytest.raises(Exception, match="no bounds entry"):
        grouped_order_statistics(hist, "g", "v", "c", ranks, bounds=bounds).collect()
    covered = grouped_order_statistics(
        hist.filter(F.col("g") == "a"), "g", "v", "c", ranks, bounds=bounds
    ).collect()
    assert [(r["g"], r["n"], r["hi"]) for r in covered] == [("a", 2, 2)]


def test_yuen_bucket_range_sums_match_brute_force(spark):
    """stats_yuen_trimmed_t's clip identities (Σclip = ts + g·(lo+hi),
    Σclip² = tss + g·(lo²+hi²) at the order statistics of ranks g+1 and
    n−g) must reproduce the brute-force 20%-trimmed means, and the
    winsorized variances behind t_yuen and df."""
    import numpy as np

    from hive_processor_spark import queries

    li = load_table(spark, SF_SMALL, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    pdf = li.select(
        (F.col("l_returnflag") == "R").cast("int").alias("is_x"),
        F.floor(F.col("l_extendedprice") * 100.0).cast("long").alias("cents"),
    ).toPandas()

    def ref(side):
        xs = np.sort(pdf[pdf["is_x"] == side]["cents"].to_numpy(np.int64))
        n = len(xs)
        g = int(np.floor(0.2 * n))
        trim = xs[g : n - g]
        h = len(trim)
        s2w = xs.clip(xs[g], xs[n - g - 1]).astype(np.float64).var(ddof=1)
        return n, h, trim.mean(), s2w * (n - 1) / (h * (h - 1.0))

    nx, hx, tmx, dx = ref(1)
    ny, hy, tmy, dy = ref(0)
    t_ref = (tmx - tmy) / np.sqrt(dx + dy)
    df_ref = (dx + dy) ** 2 / (dx * dx / (hx - 1) + dy * dy / (hy - 1))
    row = queries()["stats_yuen_trimmed_t"](spark, SF_SMALL).collect()[0]
    assert (row["n_x"], row["h_x"]) == (nx, hx)
    assert (row["n_y"], row["h_y"]) == (ny, hy)
    assert abs(row["tmean_cents_x"] - round(tmx, 4)) < 1e-9
    assert abs(row["tmean_cents_y"] - round(tmy, 4)) < 1e-9
    # rounded to 4 and 2 places; allow a rounding-edge flip
    assert abs(row["t_yuen"] - t_ref) <= 1e-4
    assert abs(row["df"] - df_ref) <= 1e-2


def test_ranked_pairs_gate_uses_actual_pair_mass(spark):
    from hive_processor_spark.operators import retrieval as R

    n = R._embeddings_rows(spark, SF_SMALL)
    emb = load_table(spark, SF_SMALL, "embeddings")
    assert n == emb.count()
    # the fixture sits below the gate → the public helper must produce
    # the HOF lane (no Python nodes in the plan)
    assert R._Q_MAX * (n - R._Q_MAX) < R._KERNEL_MIN_PAIRS
    plan = R._ranked_pairs(spark, SF_SMALL)._jdf.queryExecution().toString()
    assert "MapInPandas" not in plan
