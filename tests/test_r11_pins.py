"""Round-11 pin contracts: the LOF 10-NN pin, racing first calls, and
no hand-rolled pin cache.

``profile_lof_outliers`` now consumes a session-pinned exact 10-NN list
(VERDICT r10 item 3) instead of rebuilding it through a per-run eager
localCheckpoint. Contract tested here: hit identity, LRU-1 eviction,
k=10 per point, lineage-backed recompute, and — ADVICE r10 — concurrent
first calls cannot double-build. Every pin goes through
``sources.tables.session_pin``; a static guard keeps operator and
streaming modules from growing their own cache dicts or locks again.
"""

from __future__ import annotations

import os
import pathlib
import re
import shutil
import threading

import pyspark.sql.functions as F

import hive_processor_spark
from hive_processor_spark import queries
from hive_processor_spark.sources.tables import pin_counts, pinned
from tests.conftest import SF_DIR, SF_SMALL

_QUERIES = queries()


def test_lof_knn_pin_is_lru1_and_recomputes(spark):
    from hive_processor_spark.operators.similarity import lof_knn_pinned

    first = _QUERIES["profile_lof_outliers"](spark, SF_SMALL).collect()
    a = lof_knn_pinned(spark, SF_SMALL)
    assert lof_knn_pinned(spark, SF_SMALL) is a  # hit identity
    # exactly k = 10 neighbors per point
    per_i = a.groupBy("i").count().select(F.collect_set("count")).head()[0]
    assert per_i == [10]
    # switching fixtures evicts down to one entry and unpins the old frame
    lof_knn_pinned(spark, SF_DIR)
    keys = list(pinned("lof_knn"))
    assert len(keys) == 1
    app_id = spark.sparkContext.applicationId
    assert keys[0][:2] == (app_id, os.path.normpath(SF_DIR))
    assert not a.storageLevel.useMemory, "evicted 10-NN frame still pinned"
    # lineage-backed: recompute after eviction gives the same answer
    assert _QUERIES["profile_lof_outliers"](spark, SF_SMALL).collect() == first


def test_concurrent_first_calls_build_once(spark, tmp_path):
    """Threads racing the first pin call of a fixture must resolve to ONE
    frame (double-checked locking inside ``session_pin``)."""
    from hive_processor_spark.operators.similarity import lof_knn_pinned

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMALL, sf)  # a fixture no earlier call has pinned
    builds = pin_counts().get("lof_knn", {}).get("builds", 0)
    out = []
    threads = [
        threading.Thread(target=lambda: out.append(lof_knn_pinned(spark, sf)))
        for _ in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(out) == 4
    assert all(df is out[0] for df in out), "concurrent first calls double-built"
    assert pin_counts()["lof_knn"]["builds"] == builds + 1
    assert len(pinned("lof_knn")) == 1


def test_no_hand_rolled_pin_cache_or_lock():
    """Static guard: no module under ``operators/`` or ``streaming/``
    declares a module-level ``*_CACHE`` dict or uses a ``threading`` lock —
    session state goes through ``sources.tables.session_pin``."""
    root = pathlib.Path(hive_processor_spark.__file__).parent
    rule = re.compile(
        r"^(\w*_CACHE\s*[:=])|^\s*(import threading\b|from threading import)",
        re.M,
    )
    bad = [
        f"{path.relative_to(root)}: {m.group(0).strip()}"
        for sub in ("operators", "streaming")
        for path in sorted((root / sub).rglob("*.py"))
        for m in rule.finditer(path.read_text())
    ]
    assert not bad, bad
