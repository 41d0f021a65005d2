"""Benchmark worker: one fresh engine process running one workload.

Spawned by ``run.py``. Phases:

1. set-up, timed from the moment the orchestrator spawned this process:
   import the package (which fills the query registry) and call
   ``queries()``, ``get_spark``, and on ``serve-light`` start a
   ``serving.QueryServer``. ``--setup-only`` stops here;
2. verification and warm-up, untimed: every distinct query of the
   workload runs through its public entry point and is compared with its
   DuckDB oracle (``tools.check``); Tier-R ids record a row count;
3. the timed window: closed-loop requests (in-process whole passes, or
   the RPC client of ``client.py``);
4. post-checks, untimed, and one JSON result file.

With ``--trace 1`` every request runs in its own Spark job group and the
worker reads Spark's own job and stage status after it (in-process), or
polls it during the window (serving); spans are kept in memory and
written out at the end. After the window a traced run also measures what
its window does not (pins, table loads, the serving envelope).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from py4j.protocol import Py4JJavaError

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads as W  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Task slots of the ``local[N]`` master ``run.py`` pins.
CORES = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def ms(seconds: float) -> float:
    return seconds * 1e3


def p50(values: list[float]) -> float | None:
    """Median, or None (not measured) for no samples."""
    return float(statistics.median(values)) if values else None


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# -- Spark's own counters ---------------------------------------------------

STAGE_FIELDS = ("tasks", "run_ms", "input", "shuffle_read", "shuffle_write",
                "spill", "failed_tasks")


class Counters:
    """Job and stage counters from Spark's status tracker and status store
    (both live with ``spark.ui.enabled=false``)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.seen_stages: set[int] = set()

    def jobs(self, group: str | None) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(group))

    def settle(self, job_ids, timeout: float = 5.0) -> None:
        """Wait until the listener has recorded every job's end."""
        deadline = time.perf_counter() + timeout
        pending = set(job_ids)
        while pending and time.perf_counter() < deadline:
            for j in list(pending):
                info = self.tracker.getJobInfo(j)
                if info is None or info.status != "RUNNING":
                    pending.discard(j)
            if pending:
                time.sleep(0.005)

    def stages(self, job_ids) -> dict:
        """Totals over the stages of ``job_ids`` that ran, each stage once."""
        tot = dict.fromkeys(STAGE_FIELDS, 0)
        tot["jobs"], tot["stages"] = len(job_ids), 0
        for j in sorted(job_ids):
            info = self.tracker.getJobInfo(j)
            for sid in (info.stageIds if info is not None else ()):
                if sid in self.seen_stages:
                    continue
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the store, or never submitted
                    continue
                if sd.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                self.seen_stages.add(sid)
                tot["stages"] += 1
                tot["tasks"] += sd.numTasks()
                tot["run_ms"] += sd.executorRunTime()
                tot["input"] += sd.inputBytes()
                tot["shuffle_read"] += sd.shuffleReadBytes()
                tot["shuffle_write"] += sd.shuffleWriteBytes()
                tot["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                tot["failed_tasks"] += sd.numFailedTasks()
        return tot

    def cached_bytes(self) -> int:
        """Memory + disk held by persisted RDDs (pins, checkpoints)."""
        return sum(i.memSize() + i.diskSize()
                   for i in self.sc._jsc.sc().getRDDStorageInfo())


def add(total: dict, part: dict) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0) + v


# -- verification -----------------------------------------------------------

class Verifier:
    """Oracle check once per distinct (query, dataset): ``tools.check``'s
    DuckDB views and ``compare``. Tier-R ids keep their row count."""

    def __init__(self, sf_dir: str) -> None:
        from hive_processor_spark import oracles
        from tools.check import duck_connect

        self.oracles = oracles()
        self.duck = duck_connect(sf_dir)
        self.rows: dict[str, int] = {}
        self.errors: list[str] = []

    def check(self, name: str, df) -> float:
        """Check one result; returns the seconds spent collecting it."""
        from tools.check import compare

        t0 = time.perf_counter()
        collect_s = 0.0
        try:
            pdf = df.toPandas()
            collect_s = time.perf_counter() - t0
            self.rows[name] = len(pdf)
            if name in self.oracles:
                oracle = self.duck.cursor().execute(self.oracles[name]).df()
                problems = compare(pdf, oracle)
                if problems:
                    self.errors.append(f"{name}: {problems[0]}")
        except Exception as exc:  # noqa: BLE001 - a failed check is counted
            self.errors.append(f"{name}: {type(exc).__name__}: {exc}")
        return collect_s

    def recheck_rows(self, name: str, df) -> None:
        """Tier-R: the row count must match the verification run's."""
        n = df.count()
        if n != self.rows.get(name):
            self.errors.append(f"{name}: {n} rows, warm-up had {self.rows.get(name)}")


# -- in-process workload ----------------------------------------------------

#: Threads that run the untimed verification passes.
VERIFY_THREADS = CORES
#: Passes every in-process window runs, however long they take: the first
#: window pass runs 10-15 % slower than later ones (the noop-write plans
#: still compile), so runs that timed one pass and runs that timed two
#: would not compare.
MIN_PASSES = 2


def noop_write(df) -> None:
    """Execute the whole plan and discard the rows (the batch sink)."""
    df.write.format("noop").mode("overwrite").save()


def run_inproc(spark, spec: dict, sf_dir: str, args, spans: list) -> dict:
    from hive_processor_spark.processor import Processor

    proc = Processor(spark, sf_dir)
    counters = Counters(spark) if args.trace else None
    verifier = Verifier(sf_dir)
    pool = spec["pool"]

    cold_ms: dict[str, float] = {}
    errors: list[str] = []

    def verify(name: str) -> None:
        t0 = time.perf_counter()
        df = proc.run_job(name)
        build_s = time.perf_counter() - t0
        cold_ms[name] = ms(build_s + verifier.check(name, df))

    t_begin = time.perf_counter()
    # Traced: each pinned id runs twice before anything else, the first
    # run building its pin; both are the references of ``pin_layers``.
    pin_cold: dict[str, dict] = {}
    pin_ref: dict[str, dict] = {}
    for name in [q for q in pool if q in W.PINNED] if counters else []:
        pin_cold[name] = inproc_request(spark, proc, counters, name, f"pin-cold-{name}",
                                        spans, verifier.errors)
        pin_ref[name] = inproc_request(spark, proc, counters, name, f"pin-ref-{name}",
                                       spans, verifier.errors)
    # Verification doubles as warm-up; untimed and spread over threads,
    # because a fresh JVM compiles every plan cold.
    with ThreadPoolExecutor(VERIFY_THREADS) as ex:
        list(ex.map(verify, pool))

    recs: list[dict] = []
    order = W.passes(pool, args.seed)
    start = time.perf_counter()
    phases = {"verify_s": start - t_begin, "cold_ms": cold_ms}
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() - start < args.seconds:
        for name in next(order):
            recs.append(inproc_request(spark, proc, counters, name, f"req-{len(recs)}",
                                       spans, errors))
        passes += 1
    wall = time.perf_counter() - start

    ok = [r for r in recs if not r.get("err")]
    layer = {}
    if counters:
        layer = (inproc_layers(ok, wall, counters.cached_bytes())
                 | pin_layers(pin_cold, pin_ref, ok) | query_layers(ok)
                 | table_load_layer(spark, sf_dir))
    for name in pool:
        if name not in verifier.oracles:
            verifier.recheck_rows(name, proc.run_job(name))
    if counters:
        layer |= serving_probe(spark, proc, counters, [{"query": q} for q in pool],
                               sf_dir, args, spans, verifier.errors)
    phases["window_s"] = wall
    phases["post_s"] = time.perf_counter() - start - wall
    out = {
        "phases": phases,
        "attempted": len(recs),
        "failed": len(recs) - len(ok) + len(verifier.errors),
        "errors": (errors + verifier.errors)[:20],
        "qps": len(ok) / wall,
        "lat_ms": [r["ms"] for r in ok],
        "requests": [[r["name"], r.get("ms")] for r in recs],
        "layer": layer,
    }
    return out


def inproc_request(spark, proc, counters, name, rid, spans, errors) -> dict:
    if counters:
        spark.sparkContext.setJobGroup(rid, name)
    t0 = time.perf_counter()
    try:
        df = proc.run_job(name)
        t1 = time.perf_counter()
        build_jobs = counters.jobs(rid) if counters else set()
        t1b = time.perf_counter()
        noop_write(df)
        t2 = time.perf_counter()
    except Exception as exc:  # noqa: BLE001 - counted as a failed request
        errors.append(f"{name}: {type(exc).__name__}: {exc}")
        return {"name": name, "err": True}
    rec = {"name": name, "ms": ms(t2 - t0 - (t1b - t1)), "build_ms": ms(t1 - t0),
           "exec_ms": ms(t2 - t1b)}
    if counters:
        exec_jobs = counters.jobs(rid) - build_jobs
        counters.settle(build_jobs | exec_jobs)
        rec["build"] = counters.stages(build_jobs)
        rec["exec"] = counters.stages(exec_jobs)
        spans += [
            {"id": rid, "parent": None, "name": "request", "query": name,
             "t0": t0, "t1": t2 - (t1b - t1)},
            {"id": rid + "/build", "parent": rid, "name": "processor.run_job",
             "t0": t0, "t1": t1, "job_ids": sorted(build_jobs), **rec["build"]},
            {"id": rid + "/exec", "parent": rid, "name": "exec.noop_write",
             "t0": t1b, "t1": t2, "job_ids": sorted(exec_jobs), **rec["exec"]},
        ]
    return rec


def inproc_layers(recs: list[dict], wall: float, cached: int) -> dict:
    n = len(recs) or 1
    exec_tot: dict = {}
    all_run_ms = 0
    for r in recs:
        add(exec_tot, r["exec"])
        all_run_ms += r["exec"]["run_ms"] + r["build"]["run_ms"]
    return {
        "processor.build_ms_p50": p50([r["build_ms"] for r in recs]),
        "processor.build_jobs": sum(r["build"]["jobs"] for r in recs) / n,
        "processor.build_share": sum(r["build_ms"] for r in recs)
        / max(sum(r["ms"] for r in recs), 1e-9),
        "exec.ms_p50": p50([r["exec_ms"] for r in recs]),
        "exec.executor_run_ms": exec_tot.get("run_ms", 0) / n,
        "exec.jobs": exec_tot.get("jobs", 0) / n,
        "exec.stages": exec_tot.get("stages", 0) / n,
        "exec.tasks": exec_tot.get("tasks", 0) / n,
        "exec.slot_util": all_run_ms / (ms(wall) * CORES),
        "exec.input_bytes": exec_tot.get("input", 0) / n,
        "exec.shuffle_read_bytes": exec_tot.get("shuffle_read", 0) / n,
        "exec.shuffle_write_bytes": exec_tot.get("shuffle_write", 0) / n,
        "exec.spill_bytes": exec_tot.get("spill", 0) / n,
        "exec.failed_tasks": exec_tot.get("failed_tasks", 0),
        "pin.cached_bytes": cached,
    }


def jobs(rec: dict) -> int:
    return rec["build"]["jobs"] + rec["exec"]["jobs"]


def pin_layers(cold: dict[str, dict], ref: dict[str, dict], recs: list[dict]) -> dict:
    """Pin metrics of the pinned-family requests among ``recs``. ``cold``
    holds each pinned id's first, pin-building request and ``ref`` the
    warm request after it, both run before ``recs``. A request is a hit
    when it launches no more jobs than the warm reference, and the
    reference itself launched fewer than the cold run: a pin that is
    rebuilt on every call leaves no hit."""
    ok = {q for q in cold if not cold[q].get("err") and not ref[q].get("err")}
    judged = [r for r in recs if r["name"] in ok]
    hits = [r for r in judged
            if jobs(ref[r["name"]]) < jobs(cold[r["name"]]) and jobs(r) <= jobs(ref[r["name"]])]
    return {
        "pin.hit_ratio": len(hits) / len(judged) if judged else None,
        "pin.cold_ms_p50": p50([cold[q]["ms"] for q in ok]),
        "pin.warm_ms_p50": p50([r["ms"] for r in judged]),
    }


def query_layers(recs: list[dict]) -> dict:
    """Build, exec and shuffle figures of each batch-heavy id."""
    layer = {}
    for name in W.BATCH_HEAVY:
        mine = [r for r in recs if r["name"] == name]
        if not mine:
            continue
        layer[f"query.{name}.build_ms_p50"] = p50([r["build_ms"] for r in mine])
        layer[f"query.{name}.exec_ms_p50"] = p50([r["exec_ms"] for r in mine])
        layer[f"query.{name}.shuffle_bytes"] = sum(
            r[p]["shuffle_read"] + r[p]["shuffle_write"]
            for r in mine for p in ("build", "exec")) / len(mine)
    return layer


def table_load_layer(spark, sf_dir: str) -> dict:
    """Median time of one ``sources.load_table`` call per fixture table, on
    the workload's dataset in the warm session. ``load_table`` caches only
    tables under the engine's canonical fixture directory, so on the
    benchmark's own tables every request pays this once per table it
    reads."""
    from hive_processor_spark.engine import TABLES
    from hive_processor_spark.sources.tables import load_table

    times = []
    for name in TABLES:
        t0 = time.perf_counter()
        load_table(spark, sf_dir, name)
        times.append(ms(time.perf_counter() - t0))
    return {"sources.table_load_ms_p50": p50(times)}


# -- serving workload ---------------------------------------------------------

class WindowPoller(threading.Thread):
    """Collects the stages of the server's jobs (no job group) that start
    inside the client's timed window. Polls while the window runs, because
    the status store keeps only the last 1000 stages."""

    def __init__(self, counters: Counters) -> None:
        super().__init__(daemon=True)
        self.c = counters
        self.baseline: set[int] | None = None
        self.closing: set[int] | None = None
        self.per_job: dict[int, dict] = {}
        self.stop_evt = threading.Event()
        self.lock = threading.Lock()

    def start_window(self) -> None:
        self.baseline = self.c.jobs(None)
        self.start()

    def end_window(self) -> None:
        self.closing = self.c.jobs(None) - self.baseline

    def _harvest(self, candidates: set[int]) -> None:
        with self.lock:
            for j in candidates - self.per_job.keys():
                info = self.c.tracker.getJobInfo(j)
                if info is not None and info.status != "RUNNING":
                    self.per_job[j] = self.c.stages({j})

    def run(self) -> None:
        while not self.stop_evt.wait(0.5):
            if self.closing is None:
                self._harvest(self.c.jobs(None) - self.baseline)

    def finish(self) -> dict:
        """Totals over the window's jobs; a job the last poll caught after
        the window ended does not count."""
        self.stop_evt.set()
        self.join()
        self.c.settle(self.closing)
        self._harvest(self.closing)
        total: dict = {}
        for j in self.closing:
            add(total, self.per_job.get(j, {}))
        return total


def run_serve(spark, server, spec: dict, sf_dir: str, args, spans: list) -> dict:
    from hive_processor_spark.processor import Processor

    keys = W.serve_keys(spec["pool"])
    res, phases, window = run_client(spark, server, keys, sf_dir, args, conns=spec["conns"],
                                     seconds=args.seconds, warmup_decks=args.warmup_decks)

    # Verification after the window, in process: each query once against
    # its oracle, then every reply against the same request's rows.
    t0 = time.perf_counter()
    from client import canon, key_id, mismatch

    proc = Processor(spark, sf_dir)
    verifier = Verifier(sf_dir)

    def ref(key: dict) -> tuple[str, dict]:
        rows = sorted(canon(json.loads(s)) for s in run_key(proc, key).toJSON().collect())
        return key_id(key), {"rows": rows, "total": len(rows), "limit": W.REPLY_LIMIT}

    with ThreadPoolExecutor(VERIFY_THREADS) as ex:
        list(ex.map(lambda name: verifier.check(name, proc.run_job(name)),
                    dict.fromkeys(k["query"] for k in keys)))
        refs = dict(ex.map(ref, keys))
    errors = []
    for r in res["window"] + list(res["probe"].values()):
        err = r["err"] or mismatch(r["rows"], refs[r["key"]])
        if err:
            errors.append(f"{r['key']}: {err}")
    phases["verify_s"] = time.perf_counter() - t0

    layer = {}
    if args.trace:
        layer = serve_layers(spark, proc, Counters(spark), keys, res, window, sf_dir, spans,
                             verifier.errors)
    n = len(res["window"])
    return {
        "phases": phases,
        "attempted": n,
        "failed": len(errors) + len(verifier.errors),
        "errors": (errors + verifier.errors)[:20],
        "qps": (n - len(errors)) / res["wall_s"],
        "lat_ms": [r["ms"] for r in res["window"] if not r["err"]],
        "requests": [[r["key"], r["ms"]] for r in res["window"]],
        "warmup_qps": res["warmup_qps"],
        "layer": layer,
    }


def run_key(proc, key: dict):
    ctx = key.get("ctx")
    return proc.run_job(key["query"], ctx) if ctx else proc.run_job(key["query"])


def run_client(spark, server, keys, sf_dir, args, *, conns: int, seconds: float,
               warmup_decks: int) -> tuple[dict, dict, dict]:
    """Run the load generator of ``client.py`` against ``server``, poll
    Spark's counters during its window, and return (client record, phase
    times, window counter totals). With ``--trace 1`` the client ends with
    the envelope probe: each key once on one connection."""
    client = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "client.py")],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=ROOT,
    )
    try:
        return drive_client(client, spark, server, keys, sf_dir, args, {
            "conns": conns, "seconds": seconds, "warmup_decks": warmup_decks})
    finally:
        if client.poll() is None:
            client.kill()
        client.wait()


def drive_client(client, spark, server, keys, sf_dir, args, sizes) -> tuple[dict, dict, dict]:
    t_begin = time.perf_counter()
    plan_path = os.path.join(args.run_dir, "client-plan.json")
    out_path = os.path.join(args.run_dir, "client-out.json")
    plan = {
        "host": server.host, "port": server.port, "sf_dir": sf_dir, "keys": keys,
        "seed": args.seed, "trace": args.trace, "out": out_path, **sizes,
    }
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    if client.stdout.readline().strip() != "ready":
        raise RuntimeError("client failed to start")
    client.stdin.write(plan_path + "\n")
    client.stdin.flush()

    phases: dict = {}
    poller = WindowPoller(Counters(spark)) if args.trace else None
    for line in client.stdout:
        if line.strip() == "window-start":
            phases["warmup_s"] = time.perf_counter() - t_begin
            if poller:
                poller.start_window()
        elif line.strip() == "window-end":
            if poller:
                poller.end_window()
        else:
            continue
        client.stdin.write("go\n")
        client.stdin.flush()
    if client.wait() != 0:
        raise RuntimeError(f"client exited with {client.returncode}")
    with open(out_path) as fh:
        res = json.load(fh)
    phases["window_s"] = res["wall_s"]
    return res, phases, poller.finish() if poller else {}


def envelope_pass(spark, proc, counters, keys, probe: dict, spans: list) -> list[dict]:
    """Each key once in process, as the server runs it (``run_job`` +
    ``limit(1000).toJSON().collect()``); the envelope is the client's
    one-connection latency of the same key minus this."""
    from client import key_id

    recs = []
    for i, key in enumerate(keys):
        rid, kid = f"probe-{i}", key_id(key)
        spark.sparkContext.setJobGroup(rid, kid)
        t0 = time.perf_counter()
        df = run_key(proc, key)
        t1 = time.perf_counter()
        build_jobs = counters.jobs(rid)
        t1b = time.perf_counter()
        df.limit(W.REPLY_LIMIT).toJSON().collect()
        t2 = time.perf_counter()
        counters.settle(counters.jobs(rid))
        local_ms = ms(t2 - t0 - (t1b - t1))
        recs.append({"build_ms": ms(t1 - t0), "exec_ms": ms(t2 - t1b), "ms": local_ms,
                     "build_jobs": len(build_jobs),
                     "envelope_ms": probe[kid]["ms"] - local_ms})
        spans += [
            {"id": rid, "parent": None, "name": "request", "query": kid,
             "t0": t0, "t1": t2, "client_ms": probe[kid]["ms"]},
            {"id": rid + "/build", "parent": rid, "name": "processor.run_job",
             "t0": t0, "t1": t1},
            {"id": rid + "/exec", "parent": rid, "name": "exec.toJSON_collect",
             "t0": t1b, "t1": t2},
        ]
    return recs


def serving_probe(spark, proc, counters, keys, sf_dir, args, spans, errors) -> dict:
    """Serving-layer metrics of an in-process workload, after its window:
    start a ``QueryServer``, send each key once over one connection, and
    compare with the same keys run in process."""
    from hive_processor_spark.serving import QueryServer

    t0 = time.perf_counter()
    server = QueryServer(spark).start()
    start_ms = ms(time.perf_counter() - t0)
    try:
        res, _, _ = run_client(spark, server, keys, sf_dir, args, conns=1, seconds=0,
                               warmup_decks=0)
    finally:
        server.stop()
    errors += [f"{r['key']}: served: {r['err']}" for r in res["probe"].values() if r["err"]]
    recs = envelope_pass(spark, proc, counters, keys, res["probe"], spans)
    return {
        "serving.start_ms": start_ms,
        "serving.envelope_ms_p50": p50([r["envelope_ms"] for r in recs]),
        "serving.reply_bytes_p50": p50([r["bytes"] for r in res["probe"].values()]),
    }


def serve_layers(spark, proc, counters, keys, res, window, sf_dir, spans, errors) -> dict:
    """Per-layer metrics of the serving run. The build/exec split comes
    from the same request list run in process after the window. The pin
    and per-query metrics come from the batch-heavy ids run in process on
    this dataset: a first pass builds the pins, a second gives the
    per-query figures and the pins' warm references, and each pinned id
    then runs once more to be judged."""
    n = max(len(res["window"]), 1)
    recs = envelope_pass(spark, proc, counters, keys, res["probe"], spans)
    spans.append({"id": "window", "parent": None, "name": "serving.window",
                  "wall_s": res["wall_s"], "replies": n, **window})
    cached = counters.cached_bytes()

    def batch_pass(tag: str, names: list[str]) -> dict[str, dict]:
        return {name: inproc_request(spark, proc, counters, name, f"{tag}-{name}", spans, errors)
                for name in names}

    first = batch_pass("cold", W.BATCH_HEAVY)
    again = batch_pass("again", W.BATCH_HEAVY)
    judged = batch_pass("pin", [q for q in W.BATCH_HEAVY if q in W.PINNED])
    wall_ms = ms(res["wall_s"])
    return (pin_layers({q: first[q] for q in judged}, again,
                       [r for r in judged.values() if not r.get("err")])
            | query_layers([r for r in again.values() if not r.get("err")])
            | table_load_layer(spark, sf_dir)) | {
        "serving.envelope_ms_p50": p50([r["envelope_ms"] for r in recs]),
        "serving.reply_bytes_p50": p50([r["bytes"] for r in res["window"]]),
        "processor.build_ms_p50": p50([r["build_ms"] for r in recs]),
        "processor.build_jobs": sum(r["build_jobs"] for r in recs) / len(recs),
        "processor.build_share": sum(r["build_ms"] for r in recs)
        / max(sum(r["ms"] for r in recs), 1e-9),
        "exec.ms_p50": p50([r["exec_ms"] for r in recs]),
        "exec.executor_run_ms": window.get("run_ms", 0) / n,
        "exec.jobs": window.get("jobs", 0) / n,
        "exec.stages": window.get("stages", 0) / n,
        "exec.tasks": window.get("tasks", 0) / n,
        "exec.slot_util": window.get("run_ms", 0) / (wall_ms * CORES),
        "exec.input_bytes": window.get("input", 0) / n,
        "exec.shuffle_read_bytes": window.get("shuffle_read", 0) / n,
        "exec.shuffle_write_bytes": window.get("shuffle_write", 0) / n,
        "exec.spill_bytes": window.get("spill", 0) / n,
        "exec.failed_tasks": window.get("failed_tasks", 0),
        "pin.cached_bytes": cached,
    }


# -- entry point --------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--warmup-decks", type=int, default=2)
    args = ap.parse_args()
    spec = W.WORKLOADS[args.workload]

    t0 = time.perf_counter()
    import hive_processor_spark  # noqa: F401 - importing fills the registry
    from hive_processor_spark import get_spark, queries

    queries()
    t1 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t2 = time.perf_counter()
    server = None
    if spec["kind"] == "serve":
        from hive_processor_spark.serving import QueryServer

        server = QueryServer(spark).start()
    t3 = time.perf_counter()
    setup = {"setup_s": time.time() - args.spawned_at,
             "engine.registry_ms": ms(t1 - t0), "engine.session_ms": ms(t2 - t1)}
    if server:
        setup["serving.start_ms"] = ms(t3 - t2)
    spark.sparkContext.setLogLevel("ERROR")

    result: dict = {"setup": setup}
    if not args.setup_only:
        spans: list = []
        runner = run_serve if server else run_inproc
        extra = (server,) if server else ()
        result.update(runner(spark, *extra, spec, args.sf_dir, args, spans))
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        result["rss_peak_mb"] = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        result["versions"] = {
            "pyspark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        }
        if args.trace:
            with open(os.path.join(args.run_dir, "spans.json"), "w") as fh:
                json.dump(spans, fh)
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    code = main()
    # No orderly Spark shutdown: run.py kills this process group, the JVM
    # with it, and waits for it; stopping first would add 1-2 s a process.
    sys.stdout.flush()
    os._exit(code)
