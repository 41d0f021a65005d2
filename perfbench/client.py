"""Closed-loop RPC load generator for the ``serve-light`` workload.

Runs in its own process, so that client-side JSON decoding does not share
the server's interpreter lock, and talks to ``serving.QueryServer`` only
through ``serving.request_once``. Protocol with the worker that spawns it:

* after its imports it prints ``ready`` and reads one stdin line: the
  path of a JSON plan (server address, request keys, seed, connection
  count, warm-up decks, window length, output path);
* it prints ``window-start`` / ``window-end`` around the timed window and
  waits for a stdin line after each, so the worker's counter snapshots
  bound exactly that interval;
* it writes every window reply to ``plan["out"]`` and exits; the worker
  checks them against the in-process results after the window.
"""

from __future__ import annotations

import json
import random
import sys
import threading
import time

from hive_processor_spark.serving import request_once


def canon(row: dict) -> str:
    """Canonical text of one result row (key order and spacing fixed)."""
    return json.dumps(row, sort_keys=True, separators=(",", ":"))


def key_id(key: dict) -> str:
    domain = (key.get("ctx") or {}).get("domain")
    return key["query"] + (f"@{domain}" if domain else "")


def mismatch(rows: list, ref: dict) -> str | None:
    """Compare reply rows with the in-process result of the same request.

    Up to the limit the reply must hold exactly the in-process rows; a
    result longer than the limit must return ``limit`` of its rows."""
    got = sorted(canon(r) for r in rows)
    if ref["total"] <= ref["limit"]:
        return None if got == ref["rows"] else "rows differ from in-process result"
    if len(got) != ref["limit"]:
        return f"expected {ref['limit']} rows, got {len(got)}"
    allowed = set(ref["rows"])
    return None if all(g in allowed for g in got) else "row not in in-process result"


class Slot:
    """One caller: a seeded deck of request keys, reshuffled every pass so
    each key is sent equally often; every other request is compressed."""

    def __init__(self, idx: int, seed: int, keys: list[dict]) -> None:
        self.rng = random.Random(seed * 1009 + idx)
        self.keys = keys
        self.sn = idx * 10_000_000

    def deal(self) -> list[tuple[dict, int]]:
        deck = list(self.keys)
        self.rng.shuffle(deck)
        self.sn += len(deck)
        return [(k, self.sn - len(deck) + i + 1) for i, k in enumerate(deck)]


def send(plan: dict, key: dict, sn: int, compress: bool) -> dict:
    body = {"sn": sn, "query": key["query"], "sf_dir": plan["sf_dir"]}
    if key.get("ctx"):
        body["ctx"] = key["ctx"]
    t0 = time.perf_counter()
    try:
        reply = request_once(plan["host"], plan["port"], body, compress=compress)
        err = None if reply.get("ok") else reply.get("error", "ok:false")
    except Exception as exc:  # noqa: BLE001 - a failed request is counted
        reply, err = None, f"{type(exc).__name__}: {exc}"
    return {"key": key_id(key), "ms": (time.perf_counter() - t0) * 1e3,
            "err": err, "reply": reply}


def summary(r: dict) -> dict:
    """What the worker needs of one reply: latency, error, rows, body size."""
    ok = r["err"] is None
    return {"key": r["key"], "ms": r["ms"], "err": r["err"],
            "rows": r["reply"]["rows"] if ok else None,
            "bytes": len(json.dumps(r["reply"], separators=(",", ":")).encode())
            if r["reply"] is not None else 0}


def run_phase(plan: dict, slots: list[Slot], *, decks: int = 0,
              seconds: float = 0.0) -> tuple[float, list[dict]]:
    """Every slot sends whole decks back to back: ``decks`` of them, or as
    many as it starts before ``seconds`` have passed. Whole decks keep the
    mix of every run identical."""
    deadline = time.perf_counter() + seconds
    out: list[list[dict]] = [[] for _ in slots]

    def loop(i: int) -> None:
        dealt = 0
        while (dealt < decks) if decks else (time.perf_counter() < deadline):
            for key, sn in slots[i].deal():
                out[i].append(send(plan, key, sn, compress=sn % 2 == 0))
            dealt += 1

    start = time.perf_counter()
    threads = [threading.Thread(target=loop, args=(i,)) for i in range(len(slots))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return time.perf_counter() - start, [r for o in out for r in o]


def signal(line: str) -> None:
    """Tell the worker, and wait until it has taken its counter snapshot."""
    print(line, flush=True)
    sys.stdin.readline()


def main() -> int:
    print("ready", flush=True)
    plan = json.load(open(sys.stdin.readline().strip()))
    slots = [Slot(i, plan["seed"], plan["keys"]) for i in range(plan["conns"])]

    # Warm-up: a fixed number of whole decks per connection, so that every
    # run starts its window after the same requests.
    wall, recs = run_phase(plan, slots, decks=plan["warmup_decks"])
    warm = [len(recs) / wall]

    signal("window-start")
    wall, recs = run_phase(plan, slots, seconds=plan["seconds"])
    signal("window-end")

    # One connection, each key once, uncompressed: the envelope probe.
    probe = [send(plan, key, 1, compress=False) for key in plan["keys"]] if plan["trace"] else []

    result = {
        "warmup_qps": warm,
        "wall_s": wall,
        "window": [summary(r) for r in recs],
        "probe": {r["key"]: summary(r) for r in probe},
    }
    with open(plan["out"], "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
