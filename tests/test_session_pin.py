"""Session-pin contracts (``sources.tables.session_pin``).

Spark-free unit tests of the primitive (racing first calls build once,
hits are counted, a stale entry is released *before* the new build runs),
then every registered pin family against a fixture rewritten in place: the
next call rebuilds and the old frames are unpersisted, and the answers of
two pin readers equal the answers on a fresh copy of the rewritten data.
"""

from __future__ import annotations

import ast
import os
import pathlib
import shutil
import sys
import threading
import time
import uuid
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

import hive_processor_spark
from hive_processor_spark import queries
from hive_processor_spark.sources.tables import pin_counts, pinned, session_pin
from tests.conftest import SF_SMALL

_PKG = pathlib.Path(hive_processor_spark.__file__).parent


class _Value:
    def __init__(self, log: list, name: str):
        self.log, self.name = log, name

    def unpersist(self):
        self.log.append(("release", self.name))


def _fake_session(app_id: str = "app-1"):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _replace(path: str) -> None:
    """Swap ``path`` for a byte-identical copy: same content, new inode."""
    shutil.copy(path, f"{path}.new")
    os.replace(f"{path}.new", path)


@pytest.fixture()
def fake_dir(tmp_path):
    (tmp_path / "orders.parquet").write_bytes(b"v1")
    return str(tmp_path)


def test_racing_first_calls_build_once_and_hits_are_counted(fake_dir):
    fam = f"unit-{uuid.uuid4().hex}"
    spark, log, builds = _fake_session(), [], []
    n_threads, calls = 8, 200
    start = threading.Barrier(n_threads)

    def build():
        builds.append(1)
        time.sleep(0.2)  # keep the other threads waiting on the miss path
        return _Value(log, "v1")

    out = []

    def call():
        start.wait()
        for _ in range(calls):
            out.append(session_pin(spark, fake_dir, fam, build))

    threads = [threading.Thread(target=call) for _ in range(n_threads)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert len(out) == n_threads * calls and all(v is out[0] for v in out)
    hits = n_threads * calls - 1
    assert pin_counts()[fam] == {"builds": 1, "hits": hits}
    assert session_pin(spark, fake_dir + "/", fam, build) is out[0]
    assert pin_counts()[fam] == {"builds": 1, "hits": hits + 1}


def test_stale_entries_are_released_before_the_new_build(fake_dir):
    fam = f"unit-{uuid.uuid4().hex}"
    spark, log = _fake_session(), []

    def make_build(name, value=None):
        def build():
            log.append(("build", name))
            return value if value is not None else _Value(log, name)

        return build

    nested = (_Value(log, "t0"), {"k": _Value(log, "d0")})
    a = session_pin(spark, fake_dir, fam, make_build("a", nested), "a")
    b = session_pin(spark, fake_dir, fam, make_build("b"), "b")
    assert a is nested and len(pinned(fam)) == 2  # same scope: coexist
    log.clear()

    _replace(os.path.join(fake_dir, "orders.parquet"))  # same bytes, new inode
    c = session_pin(spark, fake_dir, fam, make_build("c"), "a")
    assert c is not a
    releases = {("release", n) for n in ("t0", "d0", "b")}
    assert set(log[:3]) == releases, log
    assert log[3:] == [("build", "c")], log
    assert list(pinned(fam).values()) == [c]

    # another application's scope is released the same way
    log.clear()
    d = session_pin(_fake_session("app-2"), fake_dir, fam, make_build("d"), "a")
    assert log == [("release", "c"), ("build", "d")]
    assert list(pinned(fam).values()) == [d]
    assert pin_counts()[fam] == {"builds": 4, "hits": 0}


def _declared_families() -> set[str]:
    """Every family name passed as a literal to ``session_pin``."""
    fams = set()
    for path in _PKG.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "id", None) == "session_pin"
                and len(node.args) >= 3
                and isinstance(node.args[2], ast.Constant)
            ):
                fams.add(node.args[2].value)
    return fams


def _family_triggers() -> dict:
    from hive_processor_spark.operators import (
        dedup,
        graphs,
        regression,
        similarity,
        textops,
    )
    from hive_processor_spark.streaming import smoke

    qs = queries()
    return {
        "neardup_pairs": similarity.neardup_pairs_pinned,
        "neardup_labels": dedup._neardup_labels_pinned,
        "ann_plane": qs["sim_ann_lsh"],
        "lof_knn": similarity.lof_knn_pinned,
        "knn_edges": graphs._knn_edges_pinned,
        "purchase_edges": graphs._purchase_edges_pinned,
        "bigram_ppl": textops.bigram_ppl_pinned,
        "shingle_index": dedup._shingle_index_pinned,
        "simhash_pairs": dedup._simhash_pairs_pinned,
        "simhash_classes": dedup._simhash_classes_pinned,
        "ngram_pairs": dedup._ngram_pairs_pinned,
        "ngram_labels": dedup._ngram_labels_pinned,
        "ngram_groups": dedup._ngram_groups_pinned,
        "daily_revenue": regression.daily_revenue_pinned,
        "stream_replay": smoke._replay_dir,
    }


def _frames(value) -> list:
    if isinstance(value, (tuple, list)):
        return [f for v in value for f in _frames(v)]
    return [value] if hasattr(value, "storageLevel") else []


def _scoped(family: str, sf_dir: str) -> list:
    sf_dir = os.path.normpath(sf_dir)
    return [v for k, v in pinned(family).items() if k[1] == sf_dir]


@pytest.fixture()
def sf_copy(tmp_path):
    dst = tmp_path / "sf"
    shutil.copytree(SF_SMALL, dst)
    return str(dst)


def test_every_family_rebuilds_and_releases_after_in_place_rewrite(
    spark, sf_copy, monkeypatch
):
    triggers = _family_triggers()
    assert set(triggers) == _declared_families()

    before = {}
    for fam, trigger in triggers.items():
        trigger(spark, sf_copy)
        before[fam] = _scoped(fam, sf_copy)
        assert before[fam], fam
    persisted = [
        f for vals in before.values() for v in vals for f in _frames(v)
        if f.storageLevel.useMemory
    ]
    assert persisted, "no pin persisted its frame"

    # Spark's CacheManager matches a frame to cached data by plan, and the
    # rebuilt pin has the old pin's plan: an old frame reports the new
    # entry's storage level once the rebuild is persisted. So record each
    # frame's storage level right after its release, before any rebuild.
    cls = type(persisted[0])
    real_unpersist = cls.unpersist
    after_release = {}

    def unpersist(self, *a, **kw):
        out = real_unpersist(self, *a, **kw)
        after_release[id(self)] = self.storageLevel.useMemory
        return out

    monkeypatch.setattr(cls, "unpersist", unpersist)
    for name in ("orders", "embeddings", "documents", "events"):
        _replace(os.path.join(sf_copy, f"{name}.parquet"))

    rebuilt = []
    for fam, trigger in triggers.items():
        trigger(spark, sf_copy)
        after = _scoped(fam, sf_copy)
        assert after, fam
        assert not any(a is b for a in after for b in before[fam]), fam
        rebuilt += [f for v in after for f in _frames(v)]
    for f in persisted:
        assert after_release.get(id(f)) is False, f"stale pin not released: {f}"
    # released before the rebuild, so the rebuilt frames hold cache entries
    # of their own (releasing after would drop the shared entry)
    assert sum(f.storageLevel.useMemory for f in rebuilt) == len(persisted)


def test_pin_readers_answer_from_rewritten_data(spark, sf_copy, tmp_path):
    from hive_processor_spark.operators.graphs import _knn_edges_pinned

    qs = queries()
    ids = ("graph_bfs_levels", "sim_ann_pq")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    # materialize both pins on the original data
    old_edges = rows(_knn_edges_pinned(spark, sf_copy))
    old_pq = rows(qs["sim_ann_pq"](spark, sf_copy))

    path = os.path.join(sf_copy, "embeddings.parquet")
    table = pq.read_table(path)
    table = table.take([i for i in range(table.num_rows) if i % 5 != 4])
    pq.write_table(table, f"{path}.new")
    os.replace(f"{path}.new", path)
    fresh = str(tmp_path / "fresh")
    shutil.copytree(sf_copy, fresh)

    got = {q: rows(qs[q](spark, sf_copy)) for q in ids}
    assert rows(_knn_edges_pinned(spark, sf_copy)) != old_edges
    for q in ids:
        assert got[q] == rows(qs[q](spark, fresh)), q
    assert got["sim_ann_pq"] != old_pq
