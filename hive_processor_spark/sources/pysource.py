"""Custom Python data source (Spark 4 DataSource API) — the extension
surface for bringing a new storage system into the engine without JVM code.

The reference's only ingress is rows delegated from Postgres (reference
``src/processor.ts:26,68``); Spark's equivalent extension point for "a
source the engine doesn't ship" is this API: the driver plans
``InputPartition``s, each executor materializes its partition's rows in a
Python worker (Arrow-batched back to the JVM). Here the source is a
deterministic synthetic-document generator — the shape used to scale-test
pipelines without staging input data; a real connector would replace
``read`` with client fetches and keep the partition planning identical.

At 100 TB the partition count is the parallelism contract: ``partitions()``
should split by the remote system's natural shards (files, key ranges,
topic partitions) so each ``read`` streams one shard, and pushdown-capable
sources additionally implement filter/column pruning hooks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from hive_processor_spark.engine import register
from hive_processor_spark.sources.roundtrip import _scratch

#: Generator geometry (mirrored literally in the oracle SQL).
_N_ROWS = 5000
_N_PARTS = 16
_VOCAB = 97


class SynthDocsReader(DataSourceReader):
    """Plans even row-ranges; each partition generates its range locally."""

    def __init__(self, options: dict) -> None:
        self.n = int(options.get("n", _N_ROWS))
        self.parts = int(options.get("parts", _N_PARTS))

    def partitions(self) -> list[InputPartition]:
        step = (self.n + self.parts - 1) // self.parts
        return [
            InputPartition((i * step, min((i + 1) * step, self.n)))
            for i in range(self.parts)
        ]

    def read(self, partition: InputPartition):
        lo, hi = partition.value
        for i in range(lo, hi):
            # Deterministic content: token id and a length that varies by row.
            yield (i, f"w{i % _VOCAB}", (i * 37) % 256)


class SynthDocsSource(DataSource):
    """``spark.read.format("synthdocs")`` — registered per session."""

    @classmethod
    def name(cls) -> str:
        return "synthdocs"

    def schema(self) -> str:
        return "doc_id bigint, token string, n_bytes bigint"

    def reader(self, schema) -> SynthDocsReader:
        return SynthDocsReader(self.options)


@register(
    "scan_python_datasource",
    f"""
    WITH g AS (
        SELECT i AS doc_id, 'w' || CAST(i % {_VOCAB} AS VARCHAR) AS token,
               (i * 37) % 256 AS n_bytes
        FROM (SELECT UNNEST(RANGE(0, {_N_ROWS})) AS i)
    )
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
           CAST(SUM(n_bytes) AS BIGINT) AS sum_bytes
    FROM g
    GROUP BY token
    ORDER BY token
    """,
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the registered Python data source (16 planned
    partitions, Arrow-batched rows from Python workers) and aggregate per
    token — proving partition planning, distributed generation, and the
    full read path. The oracle regenerates the same rows from a range."""
    spark.dataSource.register(SynthDocsSource)
    df = (
        spark.read.format("synthdocs")
        .option("n", str(_N_ROWS))
        .option("parts", str(_N_PARTS))
        .load()
    )
    return (
        df.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum("n_bytes").alias("sum_bytes"),
        )
        .orderBy("token")
    )


# --------------------------------------------------------------------------
# Streaming side of the DataSource API: a custom micro-batch source with
# explicit offset bookkeeping — the extension point for "tail a system
# Spark has no connector for" (a queue, a vendor API, a scan cursor).
# --------------------------------------------------------------------------
_STREAM_ROWS_PER_BATCH = 500
_STREAM_MAX_ROWS = 1000


class SynthStreamReader(DataSourceStreamReader):
    """Offset = rows emitted so far. The high-water mark is read from the
    UPSTREAM SYSTEM on every poll (here: an ``upstream`` file holding the
    row count currently available — standing in for a queue's end offset
    or a vendor API's cursor), never from reader-instance state. That is
    what makes checkpointed restarts correct: a fresh reader after a
    restart reports the true upstream mark, Spark resumes planning from
    the CHECKPOINTED position toward it, and nothing is re-read or skipped
    (asserted in tests/test_streaming.py). Partitions split the offset
    range so executors generate their slices independently — the same
    contract a Kafka-like source satisfies with (topic, partition, offset).
    """

    def __init__(self, options: dict) -> None:
        self._upstream = options.get("upstream")

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def _upstream_hwm(self) -> int:
        if not self._upstream:
            # no upstream configured: everything is already available
            return _STREAM_MAX_ROWS
        try:
            with open(self._upstream) as f:
                return int(f.read().strip() or 0)
        except (OSError, ValueError):
            return 0

    def latestOffset(self) -> dict:
        return {"pos": self._upstream_hwm()}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo, hi = start["pos"], end["pos"]
        mid = (lo + hi) // 2
        return [InputPartition((lo, mid)), InputPartition((mid, hi))]

    def read(self, partition: InputPartition):
        lo, hi = partition.value
        for i in range(lo, hi):
            yield (i, i % 7, float(i % 100) / 10.0)

    def commit(self, end: dict) -> None:
        pass


class SynthStreamSource(DataSource):
    """``spark.readStream.format("synthstream")`` — registered per session."""

    @classmethod
    def name(cls) -> str:
        return "synthstream"

    def schema(self) -> str:
        return "seq bigint, k int, v double"

    def streamReader(self, schema) -> SynthStreamReader:
        return SynthStreamReader(self.options)


# Tier R: the micro-batch ingestion path isn't SQL-visible; equality with
# the batch-generated frame is asserted in tests/test_streaming.py.
@register("stream_python_datasource", writes=True)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the custom STREAMING Python data source to completion with
    availableNow-style polling (2 micro-batches × 500 rows), collecting
    every batch through foreachBatch into a memory buffer, then aggregate
    per key — proving offset planning, partition splitting, incremental
    reads, and commit hooks on the Python streaming extension surface.
    The upstream high-water mark lives in a file the driver advances
    mid-stream (500 → 1000), so at least two non-empty micro-batches
    happen and the offset mark is ABSOLUTE upstream state — the property
    that makes checkpointed restart correct (see SynthStreamReader).
    At scale the per-batch partition count comes from the upstream shard
    layout and each executor tails its own shard slice.

    Tier R: a trigger-driven micro-batch loop over generated rows has no
    DuckDB twin — the gate pins rows; the per-key totals and the
    two-batch offset progression are asserted in tests."""
    import time as _time

    spark.dataSource.register(SynthStreamSource)
    upstream = os.path.join(_scratch("synthup"), "hwm")
    with open(upstream, "w") as f:
        f.write(str(_STREAM_ROWS_PER_BATCH))
    acc: list = []
    q = (
        spark.readStream.format("synthstream")
        .option("upstream", upstream)
        .load()
        .writeStream.foreachBatch(
            lambda bdf, _bid: acc.extend(bdf.collect())
        )
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = _time.time() + 60
        bumped = False
        while len(acc) < _STREAM_MAX_ROWS and _time.time() < deadline:
            if not bumped and len(acc) >= _STREAM_ROWS_PER_BATCH:
                with open(upstream, "w") as f:  # upstream data "arrives"
                    f.write(str(_STREAM_MAX_ROWS))
                bumped = True
            _time.sleep(0.2)
    finally:
        q.stop()
    if len(acc) < _STREAM_MAX_ROWS:
        # Fail loudly: a silent truncation here would surface downstream as
        # a confusing equality-diff instead of the real problem (timeout).
        raise TimeoutError(
            f"synthstream collected {len(acc)}/{_STREAM_MAX_ROWS} rows "
            "before the 60s deadline — slow machine or stalled stream"
        )
    out = spark.createDataFrame(acc, "seq bigint, k int, v double")
    return (
        out.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("seq").cast("long").alias("sum_seq"),
        )
        .orderBy("k")
    )
