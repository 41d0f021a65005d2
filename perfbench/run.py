#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch-heavy --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The orchestrator (this file) never starts
Spark itself. It

1. generates the fixture tables once per checkout (``datagen.py``, fixed
   data seed) under ``.perfbench/``; ``--seed`` orders the requests;
2. pins the environment: ``local[<cpus>]``, 8 shuffle partitions, 3 GiB
   driver memory, and Spark local dirs, temp files and the engine's
   scratch root inside a per-run directory;
3. measures set-up in ``SETUP_SAMPLES`` fresh processes: the workload's
   worker plus set-up-only probes; ``setup_s`` is their median;
4. runs the workload in the worker (``worker.py``), which verifies every
   output, and reads back its record;
5. records the scratch the run left, then deletes the run directory.

It prints an environment record and the end-to-end figures to stderr, keeps
the full record (and with ``--trace 1`` the spans) under
``.perfbench/results/``, and prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. It exits 1
when an output is wrong or a request failed, 2 when it cannot run.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads as W  # noqa: E402

DATA_SEED = 42
SETUP_SAMPLES = 2
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "3g"
#: A run must end within 180 s: one probe plus the worker stay below that.
WORKER_TIMEOUT_S = 140
PROBE_TIMEOUT_S = 30

END_TO_END = {
    "setup_s": "s",
    "qps": "queries/s",
    "latency_p50_ms": "ms",
    "rss_peak_mb": "MB",
}
PER_LAYER = {
    "engine.session_ms": "ms",
    "engine.registry_ms": "ms",
    "serving.start_ms": "ms",
    "serving.envelope_ms_p50": "ms",
    "serving.reply_bytes_p50": "bytes",
    "processor.build_ms_p50": "ms",
    "processor.build_jobs": "count",
    "processor.build_share": "ratio",
    "exec.ms_p50": "ms",
    "exec.executor_run_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.slot_util": "ratio",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count",
    "pin.hit_ratio": "ratio",
    "pin.cold_ms_p50": "ms",
    "pin.warm_ms_p50": "ms",
    "pin.cached_bytes": "bytes",
    "sources.scratch_bytes": "bytes",
    "sources.scratch_dirs_left": "count",
    "sources.table_load_ms_p50": "ms",
}
for _q in W.BATCH_HEAVY:
    PER_LAYER[f"query.{_q}.build_ms_p50"] = "ms"
    PER_LAYER[f"query.{_q}.exec_ms_p50"] = "ms"
    PER_LAYER[f"query.{_q}.shuffle_bytes"] = "bytes"


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def group_alive(pgid: int) -> bool:
    """True while a live (non-zombie) process of the group exists."""
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def spawn(argv: list[str], env: dict, log: str, timeout: float) -> int:
    """Run one worker in its own process group (its JVM and Python workers
    join it); after it exits or times out, kill and wait for the group."""
    with open(log, "a") as fh:
        p = subprocess.Popen(argv, env=env, cwd=ROOT, stdout=fh, stderr=fh,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = -1
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        deadline = time.monotonic() + 10
        while group_alive(p.pid) and time.monotonic() < deadline:
            time.sleep(0.05)
    return code


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, top-level entries) under ``path``."""
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total, len(os.listdir(path)) if os.path.isdir(path) else 0


def source_id() -> str:
    """The commit, or in a plain export a digest of the program sources."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(ROOT, "hive_processor_spark", "**", "*.py"),
                              recursive=True)):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return "sources-sha256:" + h.hexdigest()[:16]


def data_fingerprint(sf_dir: str) -> str:
    """Digest of the fixture tables a run read, so a regeneration shows."""
    h = hashlib.sha256()
    for f in sorted(os.listdir(sf_dir)):
        h.update(f.encode())
        with open(os.path.join(sf_dir, f), "rb") as fh:
            h.update(fh.read())
    return "sha256:" + h.hexdigest()[:16]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def worker_env(run_dir: str, sf_dir: str) -> dict:
    dirs = {k: os.path.join(run_dir, k) for k in ("local", "tmp", "scratch")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_MASTER", None)
    java_opts = f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_SHUFFLE": str(SHUFFLE_PARTITIONS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_SCRATCH": dirs["scratch"],
        "SPARK_GRAFT_TEST_SF": sf_dir,
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
        f"{shlex.quote(java_opts)} pyspark-shell",
    })
    return env


def run_worker(args, extra: list[str], env: dict, run_dir: str, tag: str,
               timeout: float) -> dict:
    out = os.path.join(run_dir, f"{tag}.json")
    argv = [sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--sf-dir", env["SPARK_GRAFT_TEST_SF"], "--run-dir", run_dir,
            "--out", out, "--spawned-at", repr(time.time()), *extra]
    code = spawn(argv, env, os.path.join(run_dir, "worker.log"), timeout)
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"{tag} worker exited with {code}; log tail:\n"
                           + tail(os.path.join(run_dir, "worker.log")))
    with open(out) as fh:
        return json.load(fh)


def tail(path: str, n: int = 30) -> str:
    with open(path, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


def p90(values: list[float]) -> float:
    if len(values) < 2:
        return float(values[0]) if values else 0.0
    return float(statistics.quantiles(values, n=10)[-1])


def run_all(args) -> int:
    """Every workload in turn, each in its own run; prints one
    ``<workload> <result line>`` line each and returns the worst exit code."""
    worst = 0
    for name in W.WORKLOADS:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace), *(["--quick"] if args.quick else [])],
            stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        print(name, lines[-1] if lines else "(no result)", flush=True)
        worst = max(worst, out.returncode)
    return worst


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="a workload name, or 'all'")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--quick", action="store_true",
                    help="self-test sizes: sf0.001, one set-up, short warm-up")
    args = ap.parse_args()
    t_start = time.time()

    if args.workload == "all":
        return run_all(args)
    if args.workload not in W.WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; "
                    f"choose from {sorted(W.WORKLOADS)}")
    if not os.path.isfile(os.path.join(ROOT, "hive_processor_spark", "engine.py")):
        return fail("hive_processor_spark/ not found next to perfbench/; "
                    "run from the root of a full checkout")
    try:
        import pyspark  # noqa: F401
        import duckdb  # noqa: F401
    except ImportError as exc:
        return fail(f"missing dependency: {exc}")

    spec = W.WORKLOADS[args.workload]
    sf = W.QUICK_SF if args.quick else spec["sf"]
    sf_dir = os.path.join(WORK, "data", f"seed{DATA_SEED}", f"sf{sf}")
    os.makedirs(os.path.dirname(sf_dir), exist_ok=True)
    datagen.write(sf_dir, float(sf), DATA_SEED)

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    env = worker_env(run_dir, sf_dir)
    samples = 1 if args.quick else SETUP_SAMPLES
    warm = ["--warmup-decks", "1"] if args.quick else []
    load_before = os.getloadavg()
    steal_before, ticks_before = cpu_ticks()
    try:
        setups = [run_worker(args, ["--setup-only"], env, run_dir, f"probe{i}",
                             PROBE_TIMEOUT_S)["setup"] for i in range(samples - 1)]
        res = run_worker(args, warm, env, run_dir, "main", WORKER_TIMEOUT_S)
        setups.append(res["setup"])
        scratch_bytes, scratch_left = tree_size(os.path.join(run_dir, "scratch"))
        spans_path = os.path.join(run_dir, "spans.json")
        spans = json.load(open(spans_path)) if os.path.exists(spans_path) else None
    except RuntimeError as exc:
        return fail(str(exc))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    steal_after, ticks_after = cpu_ticks()

    def med(key: str) -> float:
        return float(statistics.median(s[key] for s in setups))

    e2e = {
        "setup_s": med("setup_s"),
        "qps": res["qps"],
        "latency_p50_ms": float(statistics.median(res["lat_ms"])),
        "rss_peak_mb": res["rss_peak_mb"],
    }
    layer = {k: v for k, v in res["layer"].items() if v is not None}
    layer.update({k: med(k) for k in setups[0] if k != "setup_s"})
    layer["sources.scratch_bytes"] = scratch_bytes
    layer["sources.scratch_dirs_left"] = scratch_left
    missing = sorted(PER_LAYER.keys() - layer.keys())
    if args.trace and missing:
        return fail(f"per-layer metrics not measured: {missing}")

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "sf": sf, "nproc": cpus(),
        "load_avg_before": load_before, "load_avg_after": os.getloadavg(),
        "cpu_steal_share": (steal_after - steal_before) / max(ticks_after - ticks_before, 1),
        "source": source_id(), "data": data_fingerprint(sf_dir), "versions": res["versions"],
        "setup_samples": setups, "samples": len(res["lat_ms"]),
        "attempted": res["attempted"], "failed": res["failed"],
        "errors": res["errors"], "end_to_end": e2e,
        "per_layer": layer if args.trace else None,
        "latency_p90_ms": p90(res["lat_ms"]), "requests": res["requests"],
        "warmup_qps": res.get("warmup_qps"), "phases": res.get("phases"),
        "wall_s": time.time() - t_start,
    }
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    if spans is not None:
        with open(stem + "-spans.json", "w") as fh:
            json.dump(spans, fh)
    print(json.dumps({k: record[k] for k in ("workload", "seed", "trace", "nproc",
                      "load_avg_before", "load_avg_after", "cpu_steal_share", "source", "data",
                      "versions",
                      "samples", "errors", "end_to_end", "phases", "wall_s")}), file=sys.stderr)

    chosen, units = (layer, PER_LAYER) if args.trace else (e2e, END_TO_END)
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": chosen[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
