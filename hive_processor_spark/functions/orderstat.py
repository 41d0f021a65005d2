"""Distributed global order statistics — rank/cumsum without the
single-partition window.

Round-6 window audit (WINDOW_AUDIT.json): 42 registered queries ranked a
corpus-proportional frame through ``Window.orderBy(...)`` with no
partition spec — every row of the frame through ONE task. This module is
the shared fix, the same two-level decomposition ``events_conversion_lag``
uses, generalized:

1. The integer order value is bucketed ADAPTIVELY: one cheap min/max
   aggregate picks ``width = ceil(span / n_buckets)``, so the bucket
   count is capped by construction (default ≤ 4096) at ANY scale and the
   bucket id is monotone in the order value.
2. Bucket-level counts/sums take one small aggregation; their EXCLUSIVE
   prefix runs in a global window over the ≤ n_buckets-row frame — the
   only unpartitioned window left, bounded by construction.
3. Per-row rank / inclusive cumulative sums come from windows
   PARTITIONED by bucket (partition size = one bucket's population,
   ~|frame|/n_buckets, spread across the cluster) plus the broadcast
   bucket prefix.

Global rank = bucket-prefix-count + within-bucket row_number, exact for
any total order (value, *tiebreaks) because the bucket id is monotone in
the value. All arithmetic stays integer; results are bit-identical to
the single-partition form (property-tested in tests/test_orderstat.py).

Skew note: value concentration makes hot buckets (bucket width is in
value space, not frequency space). The within-bucket window then sorts
that bucket in one task — same exposure as any keyed window under skew;
AQE cannot split a window partition. For the registered queries the
order value is a quantized price/score whose histogram is smooth; a
frequency-adaptive bucketing (quantile boundaries) would slot in here if
a skewed domain ever shows up.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["with_global_order", "ntile_expr", "grouped_order_statistics"]


def with_global_order(
    df: DataFrame,
    value,
    tiebreaks: list | None = None,
    *,
    rank: str | None = None,
    rank_ceil: str | None = None,
    tie_count: str | None = None,
    cumsums: dict[str, object] | None = None,
    lead_value: str | None = None,
    lead_cols: dict[str, str] | None = None,
    desc: bool = False,
    n_buckets: int = 4096,
    bounds: tuple | None = None,
    spread: bool = False,
) -> DataFrame:
    """Attach global-order columns over ``ORDER BY value [DESC], *tiebreaks``.

    ``value`` must be a NON-NULL NUMERIC column/expression. The RANK and
    within-bucket ordering use the value exactly (integer or double);
    only the bucket id is computed through a double cast — IEEE
    subtraction/division/floor are monotone, so the bucket grid is
    order-consistent for any numeric type and bucketing precision never
    affects results, only balance. ``rank`` names a 1-based global
    row_number column to add; ``cumsums`` maps output names to columns
    whose INCLUSIVE running sum (in the global order) is added.
    ``tiebreaks`` complete the total order for rank determinism
    (ascending; they do not affect cumsums beyond making ties
    deterministic).

    ``rank_ceil`` names a tie-MAX rank column: #{rows with value ≤ (≥ for
    desc) this row's value} — SQL's ``RANK … ties high`` / the CUME_DIST
    numerator — computed without any per-value groupBy/join: all peers of
    a value share one bucket (the bucket id is a function of the value),
    so bucket-prefix count + a peer-inclusive RANGE-frame count inside the
    bucket is exact. ``tie_count`` names the peer count (#rows sharing the
    value). Together they give tie-robust rank statistics (e.g.
    Chatterjee's ξ) in ONE pass over the frame.

    ``lead_cols`` maps output names to EXISTING column names whose value
    at the globally-NEXT row (in the same total order) is attached — NULL
    on the global last row. Distributed lead: within-bucket ``lead`` plus
    a bucket-frame lead of each bucket's first-in-order value (empty
    buckets never appear in the bucket frame, so the fallback naturally
    skips them). Requires the total order to be unique (supply
    ``tiebreaks``), otherwise "next row" is not well-defined. This is what
    replaces the materialize-then-self-join-on-rank+1 adjacency idiom:
    one window pass instead of a checkpoint plus an n-row equi-join.
    """
    tiebreaks = tiebreaks or []
    d = df.withColumn("_osv", F.col(value) if isinstance(value, str) else value)
    sign = -1 if desc else 1
    sv = (F.lit(sign) * F.col("_osv")).cast("double")
    if bounds is not None:
        # Caller already knows the value's [min, max] (e.g. from a scalar
        # aggregate it runs anyway): fix the grid as plan constants and
        # skip the span aggregate — one fewer pass over df's subtree.
        # The grid only affects bucket BALANCE, never results (rank and
        # within-bucket order use the exact value), so a caller-supplied
        # span that is merely a superset of the true span stays correct.
        lo = min(sign * float(bounds[0]), sign * float(bounds[1]))
        hi = max(sign * float(bounds[0]), sign * float(bounds[1]))
        mn_c = F.lit(lo)
        w_c = F.lit(max((hi - lo) / float(n_buckets), 1e-300))
        d = d.withColumn(
            "_osb",
            F.least(
                F.floor((sv - mn_c) / w_c),
                F.lit(n_buckets).cast("long"),
            ),
        )
    else:
        # one tiny aggregate fixes the bucket grid
        span = d.agg(
            F.min(sv).alias("_osmn"),
            F.greatest(
                (F.max(sv) - F.min(sv)) / F.lit(float(n_buckets)),
                F.lit(1e-300),
            ).alias("_osw"),
        )
        d = d.crossJoin(F.broadcast(span)).withColumn(
            "_osb",
            F.least(
                F.floor((sv - F.col("_osmn")) / F.col("_osw")),
                F.lit(n_buckets).cast("long"),
            ),
        )
    cumsums = cumsums or {}
    baggs = [F.count(F.lit(1)).cast("long").alias("_osc")]
    for name, col in cumsums.items():
        baggs.append(
            F.sum(F.col(col) if isinstance(col, str) else col).alias(f"_oss_{name}")
        )
    if lead_value:
        # first value of the bucket in order direction (for lead fallback)
        baggs.append(
            (F.max("_osv") if desc else F.min("_osv")).alias("_osf")
        )
    lead_cols = lead_cols or {}
    if lead_cols:
        # each bucket's first-in-order value of the led column: argmin of
        # the (signed value, *tiebreaks) key — the same total order the
        # windows use, so the fallback is exactly the next row's value
        # exact signed value, NOT the double-cast sv: the argmin must use
        # the same exact ordering as the windows (negation is lossless for
        # both int and double; the double cast is not, for large int64)
        okey = F.struct(
            (F.lit(sign) * F.col("_osv")).alias("_k0"),
            *[
                (F.col(t) if isinstance(t, str) else t).alias(f"_k{i + 1}")
                for i, t in enumerate(tiebreaks)
            ],
        )
        for name, col in lead_cols.items():
            baggs.append(F.min_by(F.col(col), okey).alias(f"_osl_{name}"))
    bagg = d.groupBy("_osb").agg(*baggs)
    # the ONLY global windows: over the <= n_buckets bucket frame
    wpre = Window.orderBy("_osb").rowsBetween(Window.unboundedPreceding, -1)
    pre_cols = [
        "_osb",
        F.coalesce(F.sum("_osc").over(wpre), F.lit(0)).alias("_osp"),
    ]
    for name in cumsums:
        pre_cols.append(
            F.coalesce(
                F.sum(f"_oss_{name}").over(wpre), F.lit(0)
            ).alias(f"_osp_{name}")
        )
    if lead_value:
        pre_cols.append(
            F.lead("_osf").over(Window.orderBy("_osb")).alias("_osn")
        )
    for name in lead_cols:
        pre_cols.append(
            F.lead(f"_osl_{name}")
            .over(Window.orderBy("_osb"))
            .alias(f"_osn_{name}")
        )
    pre = bagg.select(*pre_cols)
    order = [F.col("_osv").desc() if desc else F.col("_osv").asc()] + [
        F.col(t) if isinstance(t, str) else t for t in tiebreaks
    ]
    win = Window.partitionBy("_osb").orderBy(*order)
    out = d.join(F.broadcast(pre), "_osb")
    if spread:
        # The per-bucket window shuffles into the session's
        # shuffle-partition count — answer-sized (8) in the bench harness,
        # which starves the compute-bound bucket sort on a 32-core box.
        # An explicit hash repartition on the SAME key satisfies the
        # window's required distribution (no second exchange) at core
        # parallelism. Opt-in: answer-sized frames don't want the wider
        # fan-out.
        out = out.repartition(
            out.sparkSession.sparkContext.defaultParallelism, "_osb"
        )
    if rank:
        out = out.withColumn(
            rank, (F.col("_osp") + F.row_number().over(win)).cast("long")
        )
    if tie_count:
        out = out.withColumn(
            tie_count,
            F.count(F.lit(1))
            .over(Window.partitionBy("_osb", "_osv"))
            .cast("long"),
        )
    if rank_ceil:
        # RANGE frames are peer-inclusive: every row whose order value ties
        # the current row is inside [unboundedPreceding, currentRow]
        ordv = F.lit(sign) * F.col("_osv")
        win_r = (
            Window.partitionBy("_osb")
            .orderBy(ordv)
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = out.withColumn(
            rank_ceil,
            (F.col("_osp") + F.count(F.lit(1)).over(win_r)).cast("long"),
        )
    for name, col in cumsums.items():
        out = out.withColumn(
            name,
            F.col(f"_osp_{name}")
            + F.sum(F.col(col) if isinstance(col, str) else col).over(
                win.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    if lead_value:
        out = out.withColumn(
            lead_value,
            F.coalesce(F.lead("_osv").over(win), F.col("_osn")),
        )
    for name, col in lead_cols.items():
        out = out.withColumn(
            name,
            F.coalesce(F.lead(col).over(win), F.col(f"_osn_{name}")),
        )
    drop = ["_osv", "_osb", "_osmn", "_osw", "_osp"] + [
        f"_osp_{n}" for n in cumsums
    ]
    if lead_value:
        drop.append("_osn")
    drop.extend(f"_osn_{n}" for n in lead_cols)
    return out.drop(*drop)


def ntile_expr(rank_col, n_col, tiles: int):
    """Engine-exact NTILE(tiles) id from a 1-based global rank and the
    total row count: with n rows the first n % tiles tiles hold
    ⌊n/tiles⌋+1 rows — the same assignment Spark's and DuckDB's NTILE
    produce over the identical total order, computed from the
    distributed rank instead of a single-partition window."""
    m = n_col % tiles
    q = F.floor(n_col / tiles).cast("long")
    big = q + 1
    safe_q = F.greatest(q, F.lit(1))
    return (
        F.when(rank_col <= m * big, F.floor((rank_col + big - 1) / big))
        .otherwise(m + F.floor((rank_col - m * big + safe_q - 1) / safe_q))
        .cast("int")
    )


def grouped_order_statistics(
    hist: DataFrame,
    part: str,
    v: str,
    cnt: str,
    ranks: dict[str, object],
    n_buckets: int = 4096,
    bounds: dict | None = None,
) -> DataFrame:
    """Exact order statistics per group from a ``(group, value, count)``
    HISTOGRAM — no group-wide sort, no top-k funnel.

    ``ranks`` maps output names to callables ``n -> Column`` producing the
    1-based target rank for a group of ``n`` rows (e.g. ``lambda n:
    F.ceil(0.25 * n)`` for the type-1 lower quartile). Returns one row per
    group: ``part``, ``n`` (BIGINT row count), and one BIGINT/value column
    per rank name.

    Shape (the round-9 answer to the ``orderBy(v).limit(k)`` anti-pattern,
    where k ∝ n funnels most of the data through one top-k task):

    1. one tiny per-group aggregate fixes each group's value span and n;
    2. value-range bucketing + a per-(group, bucket) count aggregate —
       both partition-parallel, output ≤ groups × n_buckets rows;
    3. the cumulative over that SMALL frame locates, for every requested
       rank, the one bucket whose [cum_lo, cum_hi] covers it;
    4. only those buckets' histogram slices are re-scanned (broadcast
       semi-join) and sorted — each slice is ~|group histogram|/n_buckets;
    5. a pivot-style aggregate emits one row per group.

    Every requested rank is answered from the SAME bucket scan, so asking
    for 5 quantiles costs one extra tiny probe row each, not 5 passes.
    The caller should localCheckpoint ``hist`` if it also consumes it
    elsewhere (this function scans it three times: spans, bucket counts,
    probe slices — or twice with caller-supplied ``bounds``).

    With ``bounds``, ``hist`` may also be raw rows with a count of 1
    each: the target bucket slices are pre-aggregated (map-side) to one
    row per (group, rank, value) before the running count, so a hot value
    ships and sorts as one row per map task.

    ``bounds`` (r12): optional ``{group_value: (lo, hi)}`` of
    documented-SUPERSET value domains per group. The span pre-pass is
    skipped entirely — the bucket grid is fixed from plan constants
    (monotone in the value, so any superset is exact; the grid affects
    balance only) and each group's ``n`` folds into the bucket aggregate
    itself. One fewer scan of ``hist``; exact either way. Every group of
    ``hist`` must have an entry: a row of an uncovered group raises at
    execution.
    """
    if bounds is not None:
        bexpr = None
        for label, (lo, hi) in bounds.items():
            w_ = max((float(hi) - float(lo)) / float(n_buckets), 1e-300)
            e = F.least(
                F.floor((F.col(v).cast("double") - F.lit(float(lo))) / F.lit(w_)),
                F.lit(n_buckets).cast("long"),
            )
            bexpr = (
                e
                if bexpr is None
                else F.when(F.col(part) == F.lit(label), e).otherwise(bexpr)
            )
        hb = hist.withColumn("_gb", bexpr)
        # the coverage check runs on the bucket frame, not per row: a
        # raise_error in the per-row bucket expression would make _gb
        # nullable and put a null filter on every scanned row
        uncovered = F.raise_error(
            F.lit(f"grouped_order_statistics: a {part} value has no bounds entry")
        )
        bagg = hb.groupBy(part, "_gb").agg(
            F.when(F.col(part).isin(*bounds), F.sum(cnt))
            .otherwise(uncovered)
            .cast("long")
            .alias("_gbc"),
        )
        bagg = bagg.withColumn(
            "_gn", F.sum("_gbc").over(Window.partitionBy(part))
        )
    else:
        g = hist.groupBy(part).agg(
            F.min(v).alias("_gmn"),
            F.max(v).alias("_gmx"),
            F.sum(cnt).cast("long").alias("_gn"),
        )
        w = F.greatest(
            (F.col("_gmx").cast("double") - F.col("_gmn").cast("double"))
            / F.lit(float(n_buckets)),
            F.lit(1e-300),
        )
        hb = hist.join(F.broadcast(g), part).withColumn(
            "_gb",
            F.least(
                F.floor(
                    (F.col(v).cast("double") - F.col("_gmn").cast("double")) / w
                ),
                F.lit(n_buckets).cast("long"),
            ),
        )
        bagg = hb.groupBy(part, "_gb").agg(
            F.sum(cnt).cast("long").alias("_gbc"),
            F.max("_gn").alias("_gn"),
        )
    wcum = (
        Window.partitionBy(part)
        .orderBy("_gb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = bagg.select(
        part,
        "_gb",
        "_gn",
        (F.sum("_gbc").over(wcum) - F.col("_gbc")).alias("_gcl"),
        F.sum("_gbc").over(wcum).alias("_gch"),
    )
    # one probe row per (group, rank) — rank targets evaluated against n
    probes = (
        cum.select(
            part,
            "_gb",
            "_gn",
            "_gcl",
            "_gch",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("_gname"),
                            fn(F.col("_gn")).cast("long").alias("_gk"),
                        )
                        for name, fn in ranks.items()
                    ]
                )
            ).alias("_gp"),
        )
        .filter(
            (F.col("_gcl") < F.col("_gp._gk")) & (F.col("_gp._gk") <= F.col("_gch"))
        )
        .select(
            F.col(part).alias("_pp"),
            F.col("_gb").alias("_pb"),
            F.col("_gp._gname").alias("_gname"),
            (F.col("_gp._gk") - F.col("_gcl")).alias("_goff"),
            # n rides the probe row (from cum) so the slice join attaches
            # it in BOTH grid modes — the bounds-mode hb has no _gn column
            F.col("_gn").alias("_pgn"),
        )
    )
    slice_ = hb.join(
        F.broadcast(probes),
        (F.col(part) == F.col("_pp")) & (F.col("_gb") == F.col("_pb")),
    )
    if bounds is not None:
        # one row per (group, rank, value), combined map-side: raw count-1
        # input ships and sorts a hot value as one row per map task, not
        # all of its copies (_goff and _pgn are per (group, rank)). A
        # span-mode hist is one row per value already; there the extra
        # exchange only cost time (+11-21 % on two callers at sf0.1).
        slice_ = slice_.groupBy(part, "_gname", v, "_goff", "_pgn").agg(
            F.sum(cnt).alias(cnt)
        )
    win = (
        Window.partitionBy(part, "_gname")
        .orderBy(v)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hit = (
        slice_.select(
            part,
            "_gname",
            v,
            "_goff",
            "_pgn",
            F.sum(cnt).over(win).alias("_gwh"),
            (F.sum(cnt).over(win) - F.col(cnt)).alias("_gwl"),
        )
        .filter((F.col("_gwl") < F.col("_goff")) & (F.col("_goff") <= F.col("_gwh")))
        .select(part, "_gname", F.col(v).alias("_gv"), "_pgn")
    )
    # n rides the probe rows (cum carries it), so no extra join/scan of
    # the span subtree is needed to attach it
    return hit.groupBy(part).agg(
        F.max("_pgn").cast("long").alias("n"),
        *[
            F.max(F.when(F.col("_gname") == name, F.col("_gv"))).alias(name)
            for name in ranks
        ],
    )
