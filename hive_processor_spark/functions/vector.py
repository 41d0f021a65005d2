"""Higher-order-function vector math (no UDFs — stays in codegen).

Embeddings arrive as ``array<float>``; all math is done in double after an
element cast. Reductions that feed hashed outputs are quantized to integer
units before summing (`q`-suffixed helpers) so fold order cannot matter —
the same discipline as functions/exact.py, applied inside arrays.

Scale: these expressions vectorize inside whole-stage codegen; a 100 TB
brute-force scan is compute-bound on exactly this inner loop, which is why
it must not be a Python UDF (Arrow round-trips would dominate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Exact-order double dot product (sequential fold, both engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sq_norm_q(a: Column, scale: float = 1e12) -> Column:
    """Order-independent squared L2 norm: per-element squares floor-quantized
    to integer units, integer-summed, divided back."""
    q = F.transform(
        a,
        lambda x: F.floor(x.cast("double") * x.cast("double") * F.lit(scale)).cast(
            "long"
        ),
    )
    return (
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + x).cast("double")
        / F.lit(scale)
    )


def dot_q(a: Column, b: Column, scale: float = 1e12) -> Column:
    """Order-independent dot product via floor-quantized integer terms."""
    q = F.zip_with(
        a,
        b,
        lambda x, y: F.floor(x.cast("double") * y.cast("double") * F.lit(scale)).cast(
            "long"
        ),
    )
    return (
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + x).cast("double")
        / F.lit(scale)
    )


def cosine_q(a: Column, b: Column) -> Column:
    """Quantized-term cosine similarity, deterministic at any parallelism."""
    return dot_q(a, b) / F.sqrt(sq_norm_q(a) * sq_norm_q(b))


def sq_dist_q(a: Column, b: Column) -> Column:
    """Order-independent squared L2 distance: per-element squared
    differences floor-quantized at 1e-12, integer-summed, divided back."""
    q = F.zip_with(
        a,
        b,
        lambda x, y: F.floor(
            (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
            * F.lit(1e12)
        ).cast("long"),
    )
    return (
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + x).cast("double")
        / F.lit(1e12)
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """(label, pos, m): the exact per-label embedding centroid, one row per
    1-based dimension ``pos``. Elements are floor-quantized at 1e-6 before
    the integer sum, so the mean is independent of shuffle order — the
    Spark twin of the oracles' ``similarity._CENTROID_CTE``."""
    ex = emb.select("label", F.posexplode("embedding").alias("pos0", "x")).select(
        "label",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.floor(F.col("x").cast("double") * F.lit(1e6)).cast("long").alias("q"),
    )
    return ex.groupBy("label", "pos").agg(
        (F.sum("q").cast("double") / F.count(F.lit(1)) / F.lit(1e6)).alias("m")
    )


def centroid_vectors(emb: DataFrame) -> DataFrame:
    """(label, centroid): :func:`label_centroids` folded back into one
    array per label, ordered by ``pos`` (not by collect order)."""
    return (
        label_centroids(emb)
        .groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("m"))))
            .getField("m")
            .alias("centroid")
        )
    )


SQL_SQ_NORM_Q = (
    "(CAST(LIST_AGGREGATE(LIST_TRANSFORM({v}, x -> CAST(FLOOR("
    "CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT)), 'sum') AS DOUBLE) / 1e12)"
)

SQL_DOT_Q = (
    "(CAST(LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, LEN({a}) + 1), i -> CAST(FLOOR("
    "CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * 1e12) AS BIGINT)), 'sum') AS DOUBLE) / 1e12)"
)


def sql_cosine_q(a: str, b: str) -> str:
    """DuckDB oracle fragment equivalent to :func:`cosine_q`."""
    return (
        f"({SQL_DOT_Q.format(a=a, b=b)} / "
        f"SQRT({SQL_SQ_NORM_Q.format(v=a)} * {SQL_SQ_NORM_Q.format(v=b)}))"
    )
