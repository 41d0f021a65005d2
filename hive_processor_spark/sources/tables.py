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
#: top-level (name, inode, size, mtime_ns) entries — the package's one
#: fingerprint rule: session pins and ``roundtrip._prepare_partitioned``
#: layouts key on it too). A file rewritten or replaced in place changes
#: its fingerprint and is re-resolved; the stale entry is dropped on that
#: insert. The applicationId keeps DataFrames bound to a stopped
#: SparkContext from ever being served, and every insert evicts other
#: applications' entries, so the cache holds no py4j refs into a dead JVM.
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


#: family -> {(applicationId, sf_dir, fixture fingerprint, args): value} —
#: the session pins (see :func:`session_pin`).
_PINS: dict[str, dict[tuple, object]] = {}
_PIN_LOCKS: dict[str, threading.RLock] = {}
_PIN_COUNTS: dict[str, dict[str, int]] = {}
#: Guards the counter increments only; never held while a pin builds.
_COUNT_LOCK = threading.Lock()


def _fixture_fingerprint(sf_dir: str) -> tuple:
    """Fingerprint of every fixture table under ``sf_dir`` (``None`` for a
    missing one): a pin's build may read any of them, including frames a
    caller loaded before handing the build its closure."""
    fp = []
    for name in TABLES:
        try:
            fp.append(_fingerprint(f"{sf_dir}/{name}.parquet"))
        except OSError:
            fp.append(None)
    return tuple(fp)


def _release(value: object) -> None:
    """Unpersist every DataFrame in a pinned value (nested in a tuple,
    list or dict too). Any other value — a disk path — only drops its
    handle. Unpersisting a checkpoint-backed or uncached frame is a no-op;
    a handle into a stopped session has nothing left to release."""
    if isinstance(value, dict):
        value = list(value.values())
    if isinstance(value, (tuple, list)):
        for v in value:
            _release(v)
    elif hasattr(value, "unpersist"):
        try:
            value.unpersist()
        except Exception:
            pass


def session_pin(
    spark: SparkSession, sf_dir: str, family: str, build: Callable, *args
) -> object:
    """``build()``, pinned for the session while the fixture is unchanged.

    Every derived frame several registered queries share — an edge list, a
    pair plane, a signature bundle, a replay layout — is a *session pin*:
    built once, persisted (or checkpointed, or written to disk) by
    ``build``, and served to every later caller.

    * **Key:** ``(applicationId, normalized sf_dir, fixture fingerprint,
      args)`` per ``family``. The fixture fingerprint is ``_fingerprint``
      of every table in ``engine.TABLES`` under ``sf_dir``, so a table
      rewritten or replaced in place (new inode, size or mtime) misses,
      whichever table the build read. A new session never sees another
      session's pins.
    * **Lookup:** a hit takes no pin lock (only the counter's, which no
      build holds). A miss takes the family's re-entrant lock and looks
      again, so racing first calls build once; builds may call other
      pins, including their own family.
    * **Release before build:** on a miss, every entry of the family whose
      ``(applicationId, sf_dir, fingerprint)`` differs from the new key is
      released (:func:`_release`) *before* ``build()`` runs. That keeps one
      fixture scope per family (entries of one scope with different
      ``args`` coexist) and is what makes a rewrite safe: Spark's
      CacheManager matches a ``persist()``ed plan by its plan, not by the
      data's version, so persisting the rebuilt plan while the old one is
      still cached would silently reuse the old blocks.
    * **Counters:** builds and hits per family, read by :func:`pin_counts`.
    """
    sf_dir = os.path.normpath(sf_dir)
    app_id = spark.sparkContext.applicationId
    scope = (app_id, sf_dir, _fixture_fingerprint(sf_dir))
    key = scope + (args,)
    pins = _PINS.setdefault(family, {})
    counts = _PIN_COUNTS.setdefault(family, {"builds": 0, "hits": 0})
    hit = pins.get(key)
    if hit is None:
        with _PIN_LOCKS.setdefault(family, threading.RLock()):
            hit = pins.get(key)
            if hit is None:
                for stale in [k for k in pins if k[:3] != scope]:
                    _release(pins.pop(stale))
                pins[key] = hit = build()
                with _COUNT_LOCK:
                    counts["builds"] += 1
                return hit
    with _COUNT_LOCK:
        counts["hits"] += 1
    return hit


def pinned(family: str) -> dict[tuple, object]:
    """Snapshot of one family's live pins, keyed as in :func:`session_pin`."""
    return dict(_PINS.get(family, {}))


def pin_counts() -> dict[str, dict[str, int]]:
    """Builds and hits per pin family since the process started."""
    return {fam: dict(c) for fam, c in _PIN_COUNTS.items()}


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
