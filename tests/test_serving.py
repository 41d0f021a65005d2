"""Serving-door contracts (``hive_processor_spark.serving``).

Prepared requests: a repeated eligible request is answered from its kept
``toJSON()`` RDD, a table replaced or rewritten in place is a miss,
nondeterministic plans and declared writers are never reused, tenants
never share an entry and the map is LRU-bounded. The writer declarations
(``engine.register(..., writes=True)``) are checked statically over the
whole registry, and a client that hangs up before its reply does not
crash the server.
"""

from __future__ import annotations

import ast
import inspect
import json
import os
import shutil
import socket
import struct
import sys
import textwrap
import threading

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hive_processor_spark import queries
from hive_processor_spark.serving import (
    _PREPARED_MAX,
    QueryServer,
    _read_msg,
    _write_msg,
    request_once,
)
from tests.conftest import SF_SMALL

#: Calls that make a handler a writer (``_scratch`` by name, the rest as
#: attributes). ``_prepare_partitioned`` publishes a layout once per
#: fixture scope, so a handler reading it is not a writer.
_WRITE_CALLS = {"_scratch"}
_WRITE_ATTRS = {"write", "writeStream", "foreachBatch"}
_NOT_WRITES = {"_prepare_partitioned"}


def _writes(fn, seen: set) -> bool:
    """True if ``fn`` or a package function it calls by name, transitively,
    makes one of the writer calls."""
    mod = sys.modules[fn.__module__]
    tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in _WRITE_ATTRS:
            return True
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)):
            continue
        name = node.func.id
        if name in _WRITE_CALLS:
            return True
        callee = vars(mod).get(name)
        if (
            name in _NOT_WRITES
            or name in seen
            or not inspect.isfunction(callee)
            or not callee.__module__.startswith("hive_processor_spark")
        ):
            continue
        seen.add(name)
        if _writes(callee, seen):
            return True
    return False


def test_writer_declarations_match_handlers():
    qs = queries()
    declared = {n for n, fn in qs.items() if getattr(fn, "writes", False)}
    detected = {n for n, fn in qs.items() if _writes(fn, set())}
    assert "scan_tenant_prune" not in detected
    assert sorted(detected - declared) == [], "writers missing writes=True"
    assert sorted(declared - detected) == [], "writes=True on a non-writer"


def _call(conn: socket.socket, body: dict) -> dict:
    _write_msg(conn, body, False)
    msg = _read_msg(conn)
    assert msg is not None
    return msg[0]


def _fresh(spark, name: str, sf_dir: str, ctx: dict | None = None) -> list:
    fn = queries()[name]
    df = fn(spark, sf_dir, ctx=ctx) if ctx else fn(spark, sf_dir)
    return [json.loads(s) for s in df.limit(1000).toJSON().collect()]


def _counts(srv: QueryServer) -> tuple[int, int, int]:
    return srv.hits, srv.builds, srv.ineligible


def test_replaced_or_rewritten_table_is_rebuilt(spark, tmp_path):
    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMALL, sf)
    docs = os.path.join(sf, "documents.parquet")
    req = {"sn": 1, "query": "text_wordcount", "sf_dir": sf}
    with QueryServer(spark) as srv, socket.create_connection(
        (srv.host, srv.port), timeout=120
    ) as conn:
        first = _call(conn, req)
        assert _call(conn, req)["rows"] == first["rows"]
        assert _counts(srv) == (1, 1, 0)

        # byte-identical copy under a new inode: a miss, the same answer
        shutil.copy(docs, f"{docs}.new")
        os.replace(f"{docs}.new", docs)
        assert _call(conn, req)["rows"] == first["rows"]
        assert _counts(srv) == (1, 2, 0)

        # in place, a third of the rows: a miss, the rewritten answer
        table = pq.read_table(docs)
        pq.write_table(table.slice(0, table.num_rows // 3), docs)
        rewritten = _call(conn, req)
        assert _counts(srv) == (1, 3, 0)
        assert len(srv._prepared) == 1  # the stale entries were dropped
    assert rewritten["ok"] and rewritten["rows"] != first["rows"]
    assert rewritten["rows"] == _fresh(spark, "text_wordcount", sf)


def test_nondeterministic_and_writer_requests_are_never_reused(spark):
    with QueryServer(spark) as srv:
        srv._functions["rand_probe"] = lambda s, d: s.range(50).select(
            F.rand(7).alias("r")
        )
        for name in ("rand_probe", "rand_probe", "sink_parquet_roundtrip") * 2:
            reply = request_once(
                srv.host, srv.port, {"sn": 1, "query": name, "sf_dir": SF_SMALL}
            )
            assert reply["ok"] and reply["rows"], reply
        assert _counts(srv) == (0, 0, 6)
        assert not srv._prepared


def test_alternating_tenants_get_their_own_rows(spark):
    name = "scan_tenant_prune"
    expected = {
        d: _fresh(spark, name, SF_SMALL, {"domain": d}) for d in ("src3", "src11")
    }
    assert expected["src3"] != expected["src11"]
    with QueryServer(spark) as srv, socket.create_connection(
        (srv.host, srv.port), timeout=120
    ) as conn:
        for sn, domain in enumerate(["src3", "src11"] * 3):
            body = {"sn": sn, "query": name, "sf_dir": SF_SMALL}
            reply = _call(conn, {**body, "ctx": {"domain": domain}})
            assert reply["ctx_applied"] is True
            assert reply["rows"] == expected[domain], (sn, domain)
        assert _counts(srv) == (4, 2, 0)


def test_prepared_requests_are_lru_bounded_and_released(spark):
    def call(srv, limit: int) -> dict:
        reply = srv._handle(
            {"sn": limit, "query": "tiny", "sf_dir": SF_SMALL, "limit": limit}
        )
        assert reply["ok"], reply
        return reply

    with QueryServer(spark) as srv:
        # one partition: no shuffle under the limit keeps 66 builds cheap
        srv._functions["tiny"] = lambda s, d: s.range(0, 100, 1, 1).toDF("n")
        for limit in range(1, _PREPARED_MAX + 1):
            call(srv, limit)
        call(srv, 1)  # now the most recently used
        assert _counts(srv) == (1, _PREPARED_MAX, 0)
        call(srv, _PREPARED_MAX + 1)  # evicts limit=2
        assert len(srv._prepared) == _PREPARED_MAX
        assert sorted(k[-1] for k in srv._prepared) == [1] + list(
            range(3, _PREPARED_MAX + 2)
        )
        call(srv, 1)
        assert len(call(srv, 2)["rows"]) == 2  # rebuilt
        assert _counts(srv) == (2, _PREPARED_MAX + 2, 0)

        # a kept entry that no longer runs is dropped and rebuilt once
        class Gone:
            def collect(self):
                raise RuntimeError("shuffle files removed")

        key = next(k for k in srv._prepared if k[-1] == 5)
        srv._prepared[key] = Gone()
        assert len(call(srv, 5)["rows"]) == 5
        assert not isinstance(srv._prepared[key], Gone)
        assert _counts(srv) == (2, _PREPARED_MAX + 3, 0)
    assert not srv._prepared  # stop() drops every entry


def test_client_hangup_before_reply_keeps_server_up(spark, monkeypatch):
    """A client resets its connection while its request runs; writing the
    reply fails, the connection ends quietly and the next client is
    answered."""
    uncaught = []
    monkeypatch.setattr(threading, "excepthook", uncaught.append)
    running, hung_up = threading.Event(), threading.Event()
    handler_threads = []

    def slow(s, d):
        handler_threads.append(threading.current_thread())
        running.set()
        hung_up.wait(60)
        return s.range(3).toDF("n")

    with QueryServer(spark) as srv:
        srv._functions["slow"] = slow
        conn = socket.create_connection((srv.host, srv.port), timeout=60)
        # linger 0: close() sends RST, so the server's reply write fails
        conn.setsockopt(socket.SOL_SOCKET, socket.SO_LINGER, struct.pack("ii", 1, 0))
        _write_msg(conn, {"sn": 1, "query": "slow", "sf_dir": SF_SMALL}, False)
        assert running.wait(60)
        conn.close()
        hung_up.set()
        handler_threads[0].join(timeout=60)
        assert not handler_threads[0].is_alive()
        reply = request_once(
            srv.host, srv.port, {"sn": 2, "query": "agg_global", "sf_dir": SF_SMALL}
        )
    assert reply["ok"] and reply["rows"][0]["n_rows"] > 0
    assert uncaught == []
