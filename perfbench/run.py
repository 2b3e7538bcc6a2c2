"""Benchmark entry point: one run of one workload, printed as JSON.

    python3 perfbench/run.py --workload qc_session --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. It generates the seed's input tables under
``.perfbench/``, times SETUP_SAMPLES - 1 set-ups in fresh processes, then
starts a fresh worker process (Spark on ``local[nproc]``) that sets up once
more, runs and checks the workload. It waits for each process and
everything it started to end, and prints two lines: the full run record
(every metric, errors, host-contention stamp) and, last, the result line
``{"correct", "attempted", "failed", "metrics"}`` with the metrics that
BENCHMARK.json lists: end-to-end (``--trace 0``) or per-layer
(``--trace 1``).

A run always times a fixed number of warm passes (workloads.WARM_PASSES,
about 8-15 s on 4 cores). ``--seconds`` is recorded but stops nothing, so
``wall_s`` covers the same passes on every host and commit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")
WORKER_TIMEOUT_S = 120
SETUP_TIMEOUT_S = 40
REAP_TIMEOUT_S = 10
# Set-up is a JVM launch and swings with host load, so setup_s is the
# median of this many set-ups per run (with two, their mean): the worker's
# own and the rest in set-up-only processes. Each costs 10-18 s on a shared
# 4-core host; a third would not fit 48 runs into the 3420 s run budget.
SETUP_SAMPLES = 2


def cpu_probe_s() -> float:
    """A fixed pure-CPU job (300k chained md5 digests), as bench.py stamps
    runs: its wall calibrates the host, not the engine."""
    t0 = time.perf_counter()
    h = b"x"
    for _ in range(300_000):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def contention_stamp() -> dict[str, float]:
    return {"loadavg_1m": os.getloadavg()[0], "cpu_probe_s": cpu_probe_s()}


def group_members(pgid: int) -> list[int]:
    """Live (non-zombie) processes of a process group."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            out.append(int(entry))
    return out


def reap_group(pgid: int) -> None:
    """Wait for every process of the worker's group (its JVM and Python
    workers) to end; terminate what outlives the grace period."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        deadline = time.monotonic() + REAP_TIMEOUT_S
        while time.monotonic() < deadline:
            if not group_members(pgid):
                return
            time.sleep(0.1)


def start_worker(args, data: str, out: str, run_dir: str, log, setup_only: bool = False) -> subprocess.Popen:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--data", data,
        "--seed", str(args.seed),
        "--trace", str(args.trace),
        "--out", out,
    ] + ["--setup-only"] * setup_only
    if args.trace:
        events = os.path.join(run_dir, "eventlog")
        os.makedirs(events, exist_ok=True)
        conf += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            f"spark.eventLog.dir=file://{events}",
        ]
        cmd += ["--event-dir", events]
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,  # Spark's Python workers import the engine from here
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_EXTRA_CONF=";".join(conf),
        TZ="UTC",
    )
    return subprocess.Popen(
        cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True
    )


class WorkerFailed(Exception):
    pass


def run_process(args, data: str, run_dir: str, name: str, timeout: float, setup_only: bool = False) -> dict:
    """Run one worker process to its end and return its result."""
    out = os.path.join(run_dir, f"{name}.json")
    log_path = os.path.join(run_dir, f"{name}.log")
    with open(log_path, "w") as log:
        proc = start_worker(args, data, out, run_dir, log, setup_only)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            reap_group(proc.pid)
            proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        raise WorkerFailed(f"perfbench: {name} failed (exit {code}); log {log_path}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def report(args, res: dict, setups: list[dict], contention: dict, bench: dict) -> tuple[dict, dict]:
    """The run record and the result line for a worker's result ``res``, the
    run's set-up samples and the metric list ``bench`` (BENCHMARK.json)."""
    from metrics import END_TO_END_UNITS, end_to_end

    ops = res["ops"]
    setup = {k: statistics.median(s[k] for s in setups) for k in setups[0]}
    e2e = end_to_end(setup["setup_s"], ops, res["peak_rss_mb"])
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "cpus": res["cpus"],
        "ops": len(ops),
        "warm_ops": sum(o["pass"] > 0 and not o["traced"] for o in ops),
        "setup": setup,
        "setup_samples": setups,
        "rss": res["rss"],
        "end_to_end": {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()},
        "contention": contention,
        "errors": res["errors"],
    }
    if args.trace:
        layers = dict(
            res["layers"],
            **{"session.get_spark_s": setup["get_spark_s"], "session.first_action_s": setup["first_action_s"]},
        )
        record["layers"] = layers
        record["wrapped_functions"] = res["wrapped"]
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
    failed = sum(not o["ok"] for o in ops)
    return record, {"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for need in ("dataselector_spark/__init__.py", "tests/oracle_harness.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found; run from a checkout of the repository", file=sys.stderr)
            return 2

    import datagen

    with open(BENCHMARK) as f:
        bench = json.load(f)
    run_dir = os.path.join(STATE, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    before = contention_stamp()
    data = datagen.generate(args.seed, os.path.join(STATE, "data", f"seed-{args.seed}"))
    try:
        setups = [
            run_process(args, data, run_dir, f"setup{i}", SETUP_TIMEOUT_S, setup_only=True)["setup"]
            for i in range(1, SETUP_SAMPLES)
        ]
        res = run_process(args, data, run_dir, "worker", WORKER_TIMEOUT_S)
    except WorkerFailed as e:
        print(e, file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    after = contention_stamp()

    record, line = report(args, res, setups + [res["setup"]], {"before": before, "after": after}, bench)
    print(json.dumps(record))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
