"""Table loading: Parquet scans with the ns-timestamp ingestion rule.

The reference's storage plane is a delegated PostgreSQL client handed to
every handler (reference ``src/processor.ts:26,68``); our storage plane is
Parquet read through Spark's vectorized reader, which additionally buys
column pruning and predicate pushdown for free.

The one genuinely sharp edge is ``events.ts``, whose physical type has
varied across fixture generations:

* TIMESTAMP(NANOS), which Spark 4 refuses to read. With
  ``spark.sql.legacy.parquet.nanosAsLong=true`` the column arrives as an
  epoch-nanosecond bigint; we convert with *integer* division (``ts div
  1000`` — a double division would lose precision above 2^53 ≈ 104 days of
  epoch-nanos) into a microsecond timestamp.
* TIMESTAMP(MICROS) with ``isAdjustedToUTC=false``, which arrives as
  ``timestamp_ntz``; the session timezone is pinned to UTC so a plain cast
  to ``timestamp`` is value-preserving.

Either way no query ever sees the raw physical type: downstream operators
always get a µs-precision TIMESTAMP in a UTC session.
"""

from __future__ import annotations

import os
import stat
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_processor_spark.engine import TABLES, ensure_session_confs


#: (applicationId, normalized path, input fingerprint) -> resolved
#: DataFrame. spark.read.parquet pays file listing + footer schema
#: resolution on EVERY call (~140 ms measured warm at sf0.1) — a fixed tax
#: on each of a query's 1-3 table loads, per evaluation. DataFrames are
#: immutable values, so a resolved plan is reusable for as long as its
#: input is provably unchanged: the key folds in a fingerprint of the
#: input (a file's inode, size and mtime_ns; a directory's sorted
#: top-level (name, inode, size, mtime_ns) entries — the same
#: mtime+size rule ``roundtrip._prepare_partitioned`` digests its layouts
#: by). A file rewritten or replaced in place changes its fingerprint and
#: is re-resolved; the stale entry is dropped on that insert. The
#: applicationId keeps DataFrames bound to a stopped SparkContext from
#: ever being served, and every insert evicts other applications' entries,
#: so the cache holds no py4j refs into a dead JVM.
_TABLE_CACHE: dict[tuple[str, str, tuple], DataFrame] = {}
#: Serializes evict-then-insert across serving threads; lookups stay
#: lock-free (a racing miss only resolves the same plan twice).
_CACHE_LOCK = threading.Lock()


def _fingerprint(path: str) -> tuple:
    """Cheap identity of a Parquet input: one ``stat`` for a file, one
    directory scan (no recursion) for a Spark-written directory."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_ino, st.st_size, st.st_mtime_ns)
    with os.scandir(path) as entries:
        return tuple(sorted(
            (e.name, s.st_ino, s.st_size, s.st_mtime_ns)
            for e in entries
            for s in (e.stat(),)
        ))


def read_parquet_cached(
    spark: SparkSession,
    path: str,
    prepare: Callable[[DataFrame], DataFrame] = lambda df: df,
) -> DataFrame:
    """``prepare(spark.read.parquet(path))``, resolved once per session
    while ``path`` is unchanged (see ``_TABLE_CACHE``). A missing path is
    not cached, so Spark raises its own error on every call."""
    path = os.path.normpath(path)
    app_id = spark.sparkContext.applicationId
    try:
        key = (app_id, path, _fingerprint(path))
    except OSError:
        return prepare(spark.read.parquet(path))
    hit = _TABLE_CACHE.get(key)
    if hit is not None:
        return hit
    df = prepare(spark.read.parquet(path))
    with _CACHE_LOCK:
        for stale in [k for k in _TABLE_CACHE if k[0] != app_id or k[1] == path]:
            del _TABLE_CACHE[stale]
        _TABLE_CACHE[key] = df
    return df


def _normalize(df: DataFrame, name: str) -> DataFrame:
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Fixture generations that store TIMESTAMP(MICROS) with
    # isAdjustedToUTC=false arrive as NTZ; the session timezone is pinned
    # to UTC (engine._RUNTIME_CONFS), so casting to TIMESTAMP is
    # value-preserving and keeps every downstream epoch/extract/compare
    # expression on the single type the operators were written against.
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; normalizes ``events.ts`` to a µs timestamp."""
    # Re-pin the runtime confs BEFORE the cache lookup: once every table a
    # session touches is cached, nothing else would re-assert them, so any
    # mid-session conf drift (a test toggling timezone/ANSI) would silently
    # break oracle parity. ensure_session_confs is an idempotent set of
    # conf writes — negligible next to even a cached plan's execution.
    ensure_session_confs(spark)
    return read_parquet_cached(
        spark, f"{sf_dir}/{name}.parquet", lambda df: _normalize(df, name)
    )


#: (session id, applicationId) -> sf_dir most recently registered — makes
#: register_views a no-op on repeat calls from the same long-lived session
#: (the SQL-surface queries call it per invocation; re-planning 10 view
#: definitions each time is waste a serving session would pay on every
#: request). id(spark) alone can alias: a new session may reuse a stopped
#: session's id and would then skip registering its views.
_VIEWS_REGISTERED: dict[tuple[int, str], str] = {}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (names match the DuckDB
    oracle's pre-registered views, FIXTURES.md §Oracle registration).
    Idempotent per (session, sf_dir); switching sf_dir re-registers."""
    key = (id(spark), spark.sparkContext.applicationId)
    if _VIEWS_REGISTERED.get(key) == sf_dir:
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _VIEWS_REGISTERED[key] = sf_dir
