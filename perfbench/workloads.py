"""Workload definitions shared by the orchestrator, the worker and the client.

Pure data plus seeded request order; importing this module starts nothing.
"""

from __future__ import annotations

import random

#: ``batch-heavy``: in process, one closed-loop caller, sf0.1, each request
#: ``Processor.run_job`` + a noop sink. One or two ids per cost class:
BATCH_HEAVY = [
    "stats_yuen_trimmed_t",        # order statistics: trimmed means, exact ranks
    "stats_winsorized_correlation",  # order statistics: inline bucket probe
    "tpch_q21_waiting_supplier",   # scan / multi-probe join
    "embed_kcenter_coreset",       # build-bound: driver-side rounds in run_job
    "sim_ann_pq",                  # warm session-pin reader (ann_plane)
    "sink_parquet_roundtrip",      # sources: fresh scratch parquet per call
]

#: ``serve-light``: over TCP, four closed-loop connections, sf0.01, a
#: seeded uniform mix of light ids; ``scan_tenant_prune`` is sent once
#: per tenant domain.
SERVE_LIGHT = [
    "agg_global",
    "agg_groupby",
    "filter_compare",
    "win_topk_group",
    "join_broadcast",
    "text_wordcount",
    "events_funnel",
    "ts_ewma",
    "scan_tenant_prune",
]
TENANT_QUERY = "scan_tenant_prune"
TENANTS = ["src3", "src11"]

#: Registered ids whose handlers read a session pin (``*_pinned`` caches
#: in ``operators``), by pin family.
PINNED = {"sim_ann_pq": "ann_plane"}

WORKLOADS = {
    "batch-heavy": {"kind": "inproc", "sf": "0.1", "pool": BATCH_HEAVY},
    "serve-light": {"kind": "serve", "sf": "0.01", "pool": SERVE_LIGHT, "conns": 4},
}

#: Scale the self-test runs every workload at.
QUICK_SF = "0.001"

#: Rows a serving reply carries (``QueryServer`` default).
REPLY_LIMIT = 1000


def passes(pool: list[str], seed: int):
    """Endless passes over ``pool``, each reshuffled by the seed."""
    rng = random.Random(seed)
    while True:
        order = list(pool)
        rng.shuffle(order)
        yield order


def serve_keys(pool: list[str]) -> list[dict]:
    """Request keys of the serving mix: one per id, one per tenant for the
    tenant-scoped id."""
    keys = []
    for name in pool:
        if name == TENANT_QUERY:
            keys += [{"query": name, "ctx": {"domain": d}} for d in TENANTS]
        else:
            keys.append({"query": name})
    return keys
