"""True Structured Streaming smokes (SURVEY.md §2.2-I, Tier R).

The reference's one genuinely streaming-shaped feature is its unbounded
nanomsg job-pull loop (reference ``src/processor.ts:61-89``); the Spark
analog is ``readStream → transform → writeStream`` with ``foreachBatch`` as
the dispatch hook. These queries replay the ``events`` fixture through a
file stream (``maxFilesPerTrigger=1`` so multiple micro-batches actually
happen), exercising watermarks, late-data drop, and arbitrary stateful
processing; each returns its final state as a static DataFrame (rows-only
checked — a stream has no SQL oracle).
"""

from __future__ import annotations

import os
import time
import uuid

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from hive_processor_spark.engine import register
from hive_processor_spark.sources.roundtrip import _scratch
from hive_processor_spark.sources.tables import load_table, session_pin


#: Split count for the left-outer stream-stream join, shared with its
#: outer-semantics test (which reasons about the final chunk's watermark
#: cutoff in terms of this constant).
LEFT_JOIN_CHUNKS = 3


def _replay_dir(spark: SparkSession, sf_dir: str, n_chunks: int = 3) -> tuple[str, DataFrame]:
    """Split events into n time-ordered parquet files with increasing mtimes
    so the file stream replays them in event-time order.

    Three chunks by default: the smokes prove MULTI-batch semantics
    (state merge, watermark advance, incremental emit), and three
    micro-batches exercise those transitions identically to four at 25%
    less trigger wall-clock (round-7 verdict item 5 — the stream family's
    sweep cost is trigger latency, not compute). ``stream_stream_left_join``
    uses the shared :data:`LEFT_JOIN_CHUNKS` constant: its outer-eviction
    test reasons about the final chunk's watermark cutoff in terms of the
    split count, so operator and test stay in lockstep.

    The split layout is a pure function of the fixture, and TEN smoke
    queries each replay the identical files — so its path is a session pin
    (``tables.session_pin``, one per ``n_chunks``); unpinned, every query
    pays the 5-job split (measured 1.7 s warm per call, ~17 s per full
    sweep). Checkpoint/sink state stays per-query (unique names); only the
    read-only source directory is shared."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )

    def build() -> str:
        path = _scratch("stream")
        # Time-range buckets, not ntile over a global Window.orderBy: an
        # unpartitioned window funnels the whole table through one task —
        # exactly the single-partition sort this engine bans elsewhere.
        # Replay chunks only need to be time-ordered, not equal-sized.
        lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
        span = max((hi - lo).total_seconds() + 1.0, 1.0)
        chunk = ev.withColumn(
            "chunk",
            F.least(
                (
                    (F.unix_timestamp("ts") - F.lit(int(lo.timestamp())))
                    / F.lit(span / n_chunks)
                ).cast("int")
                + 1,
                F.lit(n_chunks),
            ),
        )
        for i in range(1, n_chunks + 1):
            part = f"{path}/{i:03d}.parquet"
            out = chunk.filter(F.col("chunk") == i).drop("chunk").coalesce(1)
            out.write.mode("overwrite").parquet(part)
            now = time.time() + i  # strictly increasing mtimes → replay order
            for root, _dirs, files in os.walk(part):
                for f in files:
                    os.utime(os.path.join(root, f), (now, now))
        return path

    return session_pin(spark, sf_dir, "stream_replay", build, n_chunks), ev


@register("stream_micro_batch", writes=True)  # Tier R: the driver can't oracle a stream
def stream_micro_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental tumbling-window count with a 1-hour watermark, replayed
    file-by-file; final (complete-mode) state must equal the batch answer —
    asserted in tests/test_streaming.py."""
    path, ev = _replay_dir(spark, sf_dir)
    schema = ev.schema
    name = f"mb_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{path}/*.parquet")
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.unix_timestamp("w.start").alias("bucket_start"), "n_events")
    )
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


@register("stream_late_data", writes=True)  # Tier R
def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark drop semantics: four hourly batches, then a final batch
    containing one row arriving hours late into the hour-0 window. With a
    1-hour watermark + append mode that window has long been closed and
    emitted — the late row must be dropped, so hour-0 stays at n=5
    (asserted in tests). Note Spark filters late input against the
    *previous* batch's watermark (one batch of lag, observed empirically),
    hence the spacer batch between the on-time data and the late row.
    Output: (bucket_start, n_events) per closed window."""
    path = _scratch("late")
    base = 1704067200  # 2024-01-01 00:00:00 UTC
    batches = [
        [(i * 10 + j, base + i * 3600 + j * 60) for j in range(5)] for i in range(4)
    ]
    batches.append([(999, base + 30 * 60)])  # late row into the hour-0 window
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows, columns=["event_id", "epoch_s"])
        df = spark.createDataFrame(pdf).select(
            "event_id", F.timestamp_seconds("epoch_s").alias("ts")
        )
        part = f"{path}/{i:03d}.parquet"
        df.coalesce(1).write.mode("overwrite").parquet(part)
        now = time.time() + i
        for root, _dirs, files in os.walk(part):
            for f in files:
                os.utime(os.path.join(root, f), (now, now))
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.schema("event_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{path}/*.parquet")
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.unix_timestamp("w.start").alias("bucket_start"), "n_events")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def _running_count(key, pdf_iter, state: GroupState):
    """Stateful per-user running count (the applyInPandasWithState kernel)."""
    n = state.get[0] if state.exists else 0
    for pdf in pdf_iter:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})


@register("stream_stateful", writes=True)  # Tier R
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming (applyInPandasWithState): per-user event
    counts accumulated across micro-batches, collected via foreachBatch
    (last emission per user wins = final count)."""
    path, ev = _replay_dir(spark, sf_dir)
    schema = ev.schema
    final: dict[int, int] = {}

    def sink(batch_df: DataFrame, _bid: int) -> None:
        for row in batch_df.collect():
            final[row["user_id"]] = row["n_events"]

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{path}/*.parquet")
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_count,
            outputStructType="user_id BIGINT, n_events BIGINT",
            stateStructType="n BIGINT",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    pdf = pd.DataFrame(
        sorted(final.items()), columns=["user_id", "n_events"]
    )
    return spark.createDataFrame(pdf)


@register("stream_dispatch", writes=True)  # Tier R: a job stream has no SQL oracle
def stream_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's worker loop, Spark-native: a stream of job packets
    ``{job_id, cmd}`` dispatched per micro-batch through the Processor
    registry (``readStream → foreachBatch(dispatch)`` standing in for
    nanomsg pull → msgpack decode → registry lookup, reference
    ``src/processor.ts:61-89``). Each job runs its registered query; the
    final state records the result cardinality per command."""
    from hive_processor_spark.processor import Processor

    proc = Processor(spark, sf_dir)
    cmds = ["filter_in", "agg_global", "scan_projection", "fn_cond"]
    path = _scratch("dispatch")
    for i, cmd in enumerate(cmds):
        pdf = pd.DataFrame({"job_id": [i], "cmd": [cmd]})
        part = f"{path}/{i:03d}.parquet"
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(part)
        now = time.time() + i
        for root, _dirs, files in os.walk(part):
            for f in files:
                os.utime(os.path.join(root, f), (now, now))

    results: dict[str, int] = {}

    def dispatch(batch_df: DataFrame, _bid: int) -> None:
        for row in batch_df.collect():  # job packets: O(jobs), not data rows
            results[row["cmd"]] = proc.run_job(row["cmd"]).count()

    q = (
        spark.readStream.schema("job_id BIGINT, cmd STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{path}/*.parquet")
        .writeStream.foreachBatch(dispatch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    pdf = pd.DataFrame(
        sorted(results.items()), columns=["cmd", "n_result_rows"]
    )
    return spark.createDataFrame(pdf)


def _watermarked_side(
    spark: SparkSession, schema, path: str, event_type: str, alias: str
) -> DataFrame:
    """One side of the click/purchase stream-stream joins: the replayed
    events of ``event_type``, one file per trigger, columns prefixed
    ``{alias}_`` and a 2-hour watermark on ``{alias}_ts`` bounding the
    join state."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{path}/*.parquet")
        .filter(F.col("event_type") == event_type)
        .select(
            F.col("event_id").alias(f"{alias}_id"),
            F.col("user_id").alias(f"{alias}_user"),
            F.col("ts").alias(f"{alias}_ts"),
        )
        .withWatermark(f"{alias}_ts", "2 hours")
    )


@register("stream_stream_join", writes=True)  # Tier R: streaming joins have no SQL oracle
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: click stream ⋈ purchase stream on
    user_id with the purchase within 1 hour after the click. Both sides
    carry watermarks so Spark can bound the join state (without them the
    buffers grow forever — the thing that actually kills a production
    stream). Final row count must equal the equivalent batch range join
    (asserted in tests/test_streaming.py)."""
    path, ev = _replay_dir(spark, sf_dir)
    schema = ev.schema
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    clicks = _watermarked_side(spark, schema, path, "click", "c")
    purchases = _watermarked_side(spark, schema, path, "purchase", "p")
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("c_id", "p_id", F.col("c_user").alias("user_id"))
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def _have_protobuf() -> bool:
    """transformWithStateInPandas speaks protobuf to its state server;
    the library is absent/broken in this container, so the v2 operator
    registers only where the dependency actually works (import-try gate,
    per the environment contract)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_stateful_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming on the Spark 4 `transformWithState`
    API (the successor to applyInPandasWithState): per-user ValueState
    holding (count, running max value), updated per micro-batch. Same
    replay harness and last-emission-wins collection as
    ``stream_stateful`` — the two operators pin both generations of the
    arbitrary-state API surface. Registered only when protobuf (the
    state-server wire dependency) is importable."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    path, ev = _replay_dir(spark, sf_dir)
    schema = ev.schema

    class _CountMax(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n BIGINT, mx DOUBLE")

        def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001
            if self._agg.exists():
                n, mx = self._agg.get()
            else:
                n, mx = 0, float("-inf")
            for pdf in rows:
                n += len(pdf)
                mx = max(mx, float(pdf["value"].max()))
            self._agg.update((n, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
            )

        def close(self) -> None:
            pass

    final: dict[int, tuple[int, float]] = {}

    def sink(batch_df: DataFrame, _bid: int) -> None:
        for row in batch_df.collect():
            final[row["user_id"]] = (row["n_events"], row["max_value"])

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{path}/*.parquet")
        .groupBy("user_id")
        .transformWithStateInPandas(
            _CountMax(),
            outputStructType="user_id BIGINT, n_events BIGINT, max_value DOUBLE",
            outputMode="Update",
            timeMode="None",
        )
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    pdf = pd.DataFrame(
        [(u, n, mx) for u, (n, mx) in sorted(final.items())],
        columns=["user_id", "n_events", "max_value"],
    )
    return spark.createDataFrame(pdf)


if _have_protobuf():  # pragma: no cover - protobuf absent in this container
    register("stream_stateful_v2", writes=True)(stream_stateful_v2)


@register("stream_static_join", writes=True)  # Tier R: a stream has no SQL oracle
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the dimension-lookup shape of every
    streaming ETL pipeline: the unbounded events stream joins the bounded
    customer table on user_id = c_custkey, then aggregates per market
    segment. Spark plans the static side as a broadcast into each
    micro-batch (no state store involvement for the join itself, unlike
    stream-stream), so at scale this costs one broadcast per batch and the
    aggregation state is bounded by |segments|. Final complete-mode state
    must equal the batch join — asserted in tests/test_streaming.py."""
    path, ev = _replay_dir(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{path}/*.parquet")
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 10000.0).cast("decimal(28,0)")).alias(
                "value_q"
            ),
        )
        .select(
            "c_mktsegment",
            "n_events",
            (F.col("value_q").cast("double") / 10000.0).alias("sum_value"),
        )
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


@register("stream_cdc_apply", writes=True)  # Tier R: streaming ingestion isn't SQL-visible
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC materialization: the event change-log is replayed
    file-by-file and folded into per-key latest-wins state via
    ``foreachBatch`` merging each micro-batch into an accumulator keyed by
    user — the streaming twin of the batch ``cdc_latest_wins`` operator,
    and tests assert the final states are IDENTICAL (stream/batch
    equivalence, the lambda-architecture guarantee). Each merge keeps the
    per-key max (ts, event_id) change, so the fold is associative and
    order-insensitive across micro-batches; tombstones ('error' rows)
    survive the fold and drop keys only at the final projection. (The
    driver-side dict is the smoke's stand-in for the merge target; a
    production sink MERGEs each micro-batch into a keyed table with the
    same associative rule — per-batch traffic, never the corpus.)"""
    path, ev = _replay_dir(spark, sf_dir)
    schema = ev.schema
    state: dict = {}

    def merge(bdf, _bid):
        rows = (
            bdf.select(
                "user_id",
                F.unix_micros("ts").alias("us"),
                "event_id",
                F.when(F.col("event_type") == "error", "D")
                .otherwise("U")
                .alias("op"),
                F.floor(F.col("value") * 100.0).cast("long").alias("v"),
            )
        ).collect()
        for r in rows:
            cur = state.get(r.user_id)
            key = (r.us, r.event_id)
            # n_changes = count of DISTINCT change keys, so a replayed /
            # retried micro-batch re-adds the same keys and the counter is
            # idempotent (a per-delivery increment would double-count).
            if cur is None:
                state[r.user_id] = (key, (r.op, r.v), {key})
            else:
                cur[2].add(key)
                if key > cur[0]:
                    state[r.user_id] = (key, (r.op, r.v), cur[2])

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{path}/*.parquet")
        .writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    final = [
        (uid, float(val) / 100.0, len(seen))
        for uid, (_key, (op, val), seen) in sorted(state.items())
        if op == "U"
    ]
    return spark.createDataFrame(
        final, "user_id bigint, final_value double, n_changes bigint"
    ).orderBy("user_id")

@register("stream_session_window", writes=True)  # Tier R: true-stream session windows
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` on a TRUE stream: per-user sessions with a
    30-minute gap, built incrementally across file-by-file replay with a
    watermark — the streaming twin of the batch ``stream_session``
    operator (eventtime.py), which the equality test in
    tests/test_streaming.py compares it against. Session state merges
    across micro-batches (windows extend/fuse as rows arrive), which is
    exactly the stateful machinery a batch backfill never exercises.
    Output: per-user session count + total sessionized events."""
    path, ev = _replay_dir(spark, sf_dir)
    schema = ev.schema
    name = f"sw_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{path}/*.parquet")
        .withWatermark("ts", "2 hours")
        .groupBy(
            F.col("user_id"),
            F.session_window("ts", "30 minutes").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("user_id")
    )


def _hourly_file(spark: SparkSession, path: str, i: int, rows) -> None:
    """One time-ordered replay file with a strictly increasing mtime."""
    pdf = pd.DataFrame(rows, columns=["event_id", "epoch_s"])
    df = spark.createDataFrame(pdf).select(
        "event_id", F.timestamp_seconds("epoch_s").alias("ts")
    )
    part = f"{path}/{i:03d}.parquet"
    df.coalesce(1).write.mode("overwrite").parquet(part)
    now = time.time() + i
    for root, _dirs, files in os.walk(part):
        for f in files:
            os.utime(os.path.join(root, f), (now, now))


@register("stream_checkpoint_restart", writes=True)  # Tier R: recovery isn't SQL-visible
def stream_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-recovery semantics — the durability contract a 100 TB
    streaming pipeline actually relies on: a watermarked append-mode
    aggregation processes three hourly files, STOPS, three more files
    arrive, and a brand-new query object resumes from the SAME checkpoint
    location. The file-source offsets and the aggregation state store both
    live in the checkpoint, so the restarted query must (a) not re-read
    phase-1 files, (b) not re-emit windows already appended, and (c) close
    the remaining windows with counts that straddle the restart boundary —
    i.e. exactly-once output across a driver restart. Output is every
    emitted (phase, bucket_start, n_events) row; the no-duplicate and
    straddle invariants are asserted in tests/test_streaming.py.

    At scale this is the same mechanism (HDFS/S3 checkpoint dir, RocksDB
    state store); nothing here is local-mode-only."""
    src = _scratch("ck_src")
    ckpt = _scratch("ck_ckpt")
    base = 1704067200  # 2024-01-01 00:00:00 UTC
    # 6 hourly batches, 5 rows each; hour 2's rows are split across the
    # restart boundary (file 2 carries 3 of them, file 3 the other 2) so a
    # correctly-recovered state store is REQUIRED to close hour 2 at n=5.
    hours = [[(h * 10 + j, base + h * 3600 + j * 60) for j in range(5)] for h in range(6)]
    files = [
        hours[0],
        hours[1],
        hours[2][:3],
        hours[2][3:],
        hours[3],
        hours[4] + hours[5],
    ]
    emitted: list[tuple[int, int, int]] = []

    def run_phase(phase: int) -> None:
        def sink(bdf: DataFrame, _bid: int) -> None:
            for r in bdf.collect():
                emitted.append((phase, r["bucket_start"], r["n_events"]))

        q = (
            spark.readStream.schema("event_id BIGINT, ts TIMESTAMP")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*.parquet")
            .withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
            .select(F.unix_timestamp("w.start").alias("bucket_start"), "n_events")
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    for i, rows in enumerate(files[:3]):
        _hourly_file(spark, src, i, rows)
    run_phase(1)
    for i, rows in enumerate(files[3:], start=3):
        _hourly_file(spark, src, i, rows)
    run_phase(2)
    return spark.createDataFrame(
        emitted, "phase INT, bucket_start BIGINT, n_events BIGINT"
    ).orderBy("bucket_start")


@register("stream_watermark_lateness", writes=True)  # Tier R: drop policy isn't SQL-visible
def stream_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-batch watermark discipline beyond the single late-row smoke:
    after four on-time hourly batches advance the watermark, one batch
    delivers three stragglers of graded lateness into the SAME hour-1
    window — 50 min late (inside the 3 h allowance → accepted), 2 h 50 min
    late (inside → accepted), and ~12 h late (beyond → dropped) — then a
    final on-time batch pushes the watermark past hour 1 so the window
    closes and appends. Hour 1 must emit n = 5 on-time + 2 accepted = 7:
    the watermark is an ALLOWANCE, not a cliff at the batch boundary, and
    only data older than (max event time − delay) is discarded. Output:
    (bucket_start, n_events) per closed window."""
    src = _scratch("wm_src")
    base = 1704067200
    on_time = [
        [(h * 10 + j, base + h * 3600 + j * 60) for j in range(5)] for h in range(4)
    ]
    # batch 4: graded stragglers into hour 1 (watermark after batch 3 is
    # max_ts(hour-3 batch) - 3h = hour 0 + 4 min → hour-1 rows are live,
    # hour-(-9) is long dead)
    stragglers = [
        (901, base + 1 * 3600 + 10 * 60),   # hour 1, 50 min behind max → keep
        (902, base + 1 * 3600 + 40 * 60),   # hour 1 again, later slot → keep
        (903, base - 9 * 3600),             # ~12 h behind → drop
    ]
    # batch 5: on-time hour 5 advances the watermark to 2:04 → hour 1 closes
    closer = [(50 + j, base + 5 * 3600 + j * 60) for j in range(5)]
    # batch 6: one more on-time batch so the closer's watermark advance is
    # applied by a subsequent micro-batch (emission lags the update by one)
    flush = [(60 + j, base + 6 * 3600 + j * 60) for j in range(5)]
    batches = on_time + [stragglers, closer, flush]
    for i, rows in enumerate(batches):
        _hourly_file(spark, src, i, rows)
    name = f"wml_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.schema("event_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*.parquet")
        .withWatermark("ts", "3 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(F.unix_timestamp("w.start").alias("bucket_start"), "n_events")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


@register("stream_stream_left_join", writes=True)  # Tier R: outer-emission timing isn't SQL
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the subtle half of the
    streaming-join surface: clicks that never see a purchase within
    their 1-hour window must still emit, null-padded, but only once the
    watermark proves the window can no longer be satisfied (state for
    the click is expired, nothing can match it anymore). Inner matches
    emit immediately; outer null rows emit on watermark ADVANCE, so a
    click near the end of a finite replay whose expiry the watermark
    never crosses stays unemitted — the test partitions the batch
    anti-join accordingly. Both sides carry 2-hour watermarks bounding
    the join state (the production-critical property).

    Output: (c_id, user_id, p_id nullable, matched flag)."""
    # The outer-semantics test derives the expected unemitted tail from
    # this split count (effective final watermark = max ts of all but the
    # last chunk, minus the 2 h delay) — keep the constant and the test
    # in lockstep via LEFT_JOIN_CHUNKS.
    path, ev = _replay_dir(spark, sf_dir, n_chunks=LEFT_JOIN_CHUNKS)
    schema = ev.schema
    name = f"ssl_{uuid.uuid4().hex[:8]}"
    clicks = _watermarked_side(spark, schema, path, "click", "c")
    purchases = _watermarked_side(spark, schema, path, "purchase", "p")
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select(
        "c_id",
        F.col("c_user").alias("user_id"),
        "p_id",
        F.col("p_id").isNotNull().alias("matched"),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


@register("stream_topk_merge", writes=True)  # Tier R: a stream has no SQL oracle
def stream_topk_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch incremental top-k: each micro-batch pre-aggregates
    per-user quantized value totals (cents — exact integers, so the
    running merge is order-independent), and the driver-side state dict
    folds batches into a bounded running total; the final top-10 must
    equal the batch groupBy answer (asserted in tests/test_streaming.py).

    This is the "maintain a leaderboard over an unbounded stream" shape:
    the per-batch collect is O(active users in the batch) AFTER the
    distributed pre-aggregation — at scale the state would live in an
    external store keyed by user, but the merge algebra (integer adds,
    deterministic (total, key) ranking) is exactly what ships here."""
    path, ev = _replay_dir(spark, sf_dir)
    schema = ev.schema
    state: dict[int, int] = {}

    def merge(batch_df: DataFrame, _batch_id: int) -> None:
        rows = (
            batch_df.groupBy("user_id")
            .agg(
                F.sum(F.floor(F.col("value") * 100.0).cast("long")).alias("v")
            )
            .collect()
        )
        for r in rows:
            state[r["user_id"]] = state.get(r["user_id"], 0) + int(r["v"])

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{path}/*.parquet")
        .writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    top = sorted(state.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    return spark.createDataFrame(
        [(int(u), v / 100.0) for u, v in top],
        "user_id bigint, total_value double",
    )


@register("stream_dlq_route", writes=True)  # Tier R: a stream has no SQL oracle
def stream_dlq_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter-queue routing in foreachBatch — the
    write-audit-publish pattern for streams: each micro-batch splits on
    a validity rule (value > 400 stands in for "failed contract"), good
    rows fold into per-type running totals, poison rows accumulate in a
    bounded DLQ ledger with their batch id for replay. The final frame
    reports per-type processed/quarantined counts; totals must equal
    the batch answer (asserted in tests/test_streaming.py) — routing
    loses nothing, which is the property a DLQ exists to guarantee.

    At scale the DLQ side is a real sink (its own topic/table); the
    driver-side dict here is the smoke-scale stand-in, O(poison rows)
    after distributed pre-aggregation."""
    path, ev = _replay_dir(spark, sf_dir)
    schema = ev.schema
    good: dict[str, int] = {}
    dlq: dict[str, int] = {}

    def route(batch_df: DataFrame, batch_id: int) -> None:
        split = (
            batch_df.groupBy("event_type")
            .agg(
                F.count_if(F.col("value") <= 400.0).alias("ok"),
                F.count_if(F.col("value") > 400.0).alias("bad"),
            )
            .collect()
        )
        for r in split:
            good[r["event_type"]] = good.get(r["event_type"], 0) + int(r["ok"])
            if r["bad"]:
                dlq[r["event_type"]] = dlq.get(r["event_type"], 0) + int(
                    r["bad"]
                )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{path}/*.parquet")
        .writeStream.foreachBatch(route)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    types = sorted(set(good) | set(dlq))
    return spark.createDataFrame(
        [(t, good.get(t, 0), dlq.get(t, 0)) for t in types],
        "event_type string, n_processed bigint, n_quarantined bigint",
    )
