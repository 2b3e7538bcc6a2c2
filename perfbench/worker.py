"""One benchmark run of one workload, in a fresh process started by run.py.

Set-up (package import, ``get_spark``, one trivial action) is timed from
the start of this process; with ``--setup-only`` the process stops there.
Then: one cold pass and a fixed number of warm passes
(workloads.WARM_PASSES); with ``--trace 1`` each
warm pass is followed by a traced one. Outputs are checked after each op,
outside its timing. The result is written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import os
import pkgutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Ctx:
    """What an op sees: the session, the data directory and the actions.

    Every action goes through `collect`/`to_pandas`, so a traced pass can
    put it in an ``exec`` span under its own job group and read its plan."""

    def __init__(self, spark, data: str, tracer) -> None:
        self.spark, self.data, self.tracer = spark, data, tracer
        self.acted: list = []
        self.groups: dict[str, str] = {}
        self._group = ""

    def begin(self, key: str) -> None:
        self.acted = []
        self._group = key
        if self.tracer.enabled:
            self._set_group("build")

    def end(self) -> None:
        """Leave the op's job groups, so untraced ops that follow run in
        none of them."""
        with self.tracer.paused():
            self.spark.sparkContext.setJobGroup("perfbench-untraced", "")

    def _set_group(self, phase: str) -> None:
        gid = f"perfbench-{self._group}-{phase}"
        self.groups[gid] = f"{self._group.split(':')[0]}|{phase}"
        with self.tracer.paused():
            self.spark.sparkContext.setJobGroup(gid, gid)

    def _act(self, df, action):
        self.acted.append(df)
        if not self.tracer.enabled:
            return action()
        self._set_group("exec")
        with self.tracer.span("exec", "exec"):
            out = action()
        self._set_group("build")
        return out

    def collect(self, df):
        return self._act(df, df.collect)

    def to_pandas(self, df):
        return self._act(df, df.toPandas)


def plan_summary(dfs) -> dict[str, float]:
    """Catalyst phase times and Exchange count of the dataframes acted on."""
    from dataselector_spark.plans import shuffle_count

    out = {"plan.analysis_ms": 0.0, "plan.optimization_ms": 0.0, "plan.planning_ms": 0.0, "plan.exchanges": 0}
    for df in dfs:
        phases = df._jdf.queryExecution().tracker().phases()
        for k in ("analysis", "optimization", "planning"):
            opt = phases.get(k)
            if opt.isDefined():
                out[f"plan.{k}_ms"] += opt.get().durationMs()
        out["plan.exchanges"] += shuffle_count(df)
    return out


def import_layers() -> None:
    """Import every layer module, so `instrument` finds lazily used ones."""
    import dataselector_spark

    for pkg in ("operators", "functions", "streaming"):
        mod = importlib.import_module(f"dataselector_spark.{pkg}")
        for info in pkgutil.iter_modules(mod.__path__):
            importlib.import_module(f"{mod.__name__}.{info.name}")
    for name in ("multimodal", "session_state", "catalog"):
        importlib.import_module(f"{dataselector_spark.__name__}.{name}")


class Runner:
    def __init__(self, args, spark, tracer) -> None:
        self.args, self.spark, self.tracer = args, spark, tracer
        self.ctx = Ctx(spark, args.data, tracer)
        self.ops: list[dict] = []
        self.plans: dict[int, dict[str, float]] = {}
        self.errors: list[str] = []
        self.rss: dict[str, float] = {}
        self.peak_rss_mb = 0.0

    def record_rss(self) -> None:
        """Peak RSS so far of this process plus its JVM."""
        jvm = self.spark.sparkContext._gateway.proc.pid
        self.rss = {"python_mb": vm_hwm_mb("self"), "jvm_mb": vm_hwm_mb(jvm)}
        self.peak_rss_mb = sum(self.rss.values())

    def op(self, pass_no: int, name: str, thunk, check) -> None:
        op_id = len(self.ops)
        traced = self.tracer.enabled
        self.ctx.begin(f"{pass_no}:{op_id}")
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.op(op_id, name), self.tracer.span("build", "build"):
                    out = thunk()
            else:
                out = thunk()
            lat = time.perf_counter() - t0
            ok = bool(check(out))
            if not ok:
                self.errors.append(f"pass {pass_no} {name}: output mismatch")
        except Exception:
            lat = time.perf_counter() - t0
            ok = False
            self.errors.append(f"pass {pass_no} {name}: {traceback.format_exc(limit=3)[-600:]}")
        if traced:
            with self.tracer.paused():
                self.plans[op_id] = plan_summary(self.ctx.acted)
            self.ctx.end()
        self.ops.append({"pass": pass_no, "name": name, "lat": lat, "ok": ok, "traced": traced})

    def passes(self, run_pass) -> None:
        """Cold pass, then WARM_PASSES warm passes. A traced run follows
        each warm pass by a traced one, so the two kinds see the same
        warm-up."""
        from workloads import WARM_PASSES

        run_pass(0)
        pass_no = 1
        for _ in range(WARM_PASSES):
            for traced in (False, True)[: 1 + self.args.trace]:
                self.tracer.enabled = traced
                run_pass(pass_no)
                pass_no += 1
        self.tracer.enabled = False


def run_qc(runner: Runner) -> None:
    from check import QcModel
    from workloads import QcSession, qc_script

    script = qc_script(runner.args.seed)
    model = QcModel(runner.args.data)

    def one_pass(pass_no: int) -> None:
        session = QcSession(runner.ctx)
        model.reset()
        for g in script:
            runner.op(pass_no, f"qc.{g.kind}", lambda g=g: session.run(g), model.check)

    runner.passes(one_pass)
    runner.record_rss()


def run_entries(runner: Runner, names: list[str]) -> None:
    from check import EntryChecker
    from workloads import batch_order

    from dataselector_spark.suite import QUERIES

    checker = EntryChecker(runner.args.data)

    def one_pass(pass_no: int) -> None:
        for name in batch_order(names, runner.args.seed, pass_no):
            fn = QUERIES[name].fn
            runner.op(
                pass_no,
                name,
                lambda fn=fn: runner.ctx.to_pandas(fn(runner.spark, runner.args.data)),
                lambda pdf, name=name: checker.observe(name, pdf),
            )

    runner.passes(one_pass)
    runner.record_rss()  # before DuckDB computes the oracles
    for name, good in checker.verdicts().items():
        if not good:
            runner.errors.append(f"{name}: differs from its oracle")
            for o in runner.ops:
                if o["name"] == name:
                    o["ok"] = False


def read_event_log(directory: str) -> list[dict]:
    """Events of the (rolling, uncompressed) Spark event log in ``directory``."""
    def part(path: str) -> int:  # events_<n>_<app id>
        name = os.path.basename(path)
        return int(name.split("_")[1]) if name.startswith("events_") else 0

    events = []
    for path in sorted(glob.glob(os.path.join(directory, "**", "events_*"), recursive=True), key=part):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def layer_metrics(runner: Runner, wrapped: dict[str, int], event_dir: str, cpus: int) -> dict[str, float]:
    """Per-layer metrics: each a median over traced passes of its per-pass
    sum, for the fixed layers and every layer in ``wrapped`` (what
    `spans.instrument` wrapped). The ``session.*`` set-up split is left to
    run.py, which has every set-up sample of the run."""
    from metrics import LAYER_UNITS, MODULE_METRIC_UNITS, event_metrics, median_of, span_metrics

    traced_ops = {i: o for i, o in enumerate(runner.ops) if o["traced"]}
    by_pass: dict[int, list] = {}
    for s in runner.tracer.spans:
        if s.op is not None:
            by_pass.setdefault(traced_ops[s.op]["pass"], []).append(s)
    events = event_metrics(read_event_log(event_dir), runner.ctx.groups)
    rows = []
    for pass_no, spans in sorted(by_pass.items()):
        row = span_metrics(spans, sum(o["lat"] for o in traced_ops.values() if o["pass"] == pass_no))
        row.update(events.get(str(pass_no), {}))
        for op_id, o in traced_ops.items():
            if o["pass"] == pass_no:
                for k, v in runner.plans.get(op_id, {}).items():
                    row[k] = row.get(k, 0.0) + v
        exec_s = row.get("exec.s", 0.0)
        row["exec.slot_busy_ratio"] = (
            row.get("exec.exec_task_run_s", 0.0) / (exec_s * cpus) if exec_s else 0.0
        )
        rows.append(row)
    walls: dict[tuple[bool, int], float] = {}
    for o in runner.ops:
        if o["pass"] > 0:
            walls[(o["traced"], o["pass"])] = walls.get((o["traced"], o["pass"]), 0.0) + o["lat"]
    traced = [w for (t, _), w in walls.items() if t]
    plain = [w for (t, _), w in walls.items() if not t]
    names = [n for n in LAYER_UNITS if not n.startswith("session.")]
    names += [f"{layer}.{m}" for layer in sorted(wrapped) for m in MODULE_METRIC_UNITS]
    out = {name: median_of(rows, name) for name in dict.fromkeys(names)}
    out["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(plain)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--event-dir", default="")
    ap.add_argument("--out", required=True)
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args()
    cpus = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    import dataselector_spark.suite  # noqa: F401  (registers the suite)
    from dataselector_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus)
    t2 = time.perf_counter()
    spark.range(1).collect()
    t3 = time.perf_counter()
    setup = {
        "setup_s": process_age_s(),
        "import_s": t1 - t0,
        "get_spark_s": t2 - t1,
        "first_action_s": t3 - t2,
    }
    result: dict = {"setup": setup, "cpus": cpus}
    if args.setup_only:
        with open(args.out, "w") as f:
            json.dump(result, f)
        # The JVM exits when this process does (its stdin closes) and run.py
        # waits for the whole process group; a clean stop would only
        # lengthen the run.
        os._exit(0)
    from spans import Tracer, count_py4j, instrument
    from workloads import BATCH

    tracer = Tracer()
    if args.trace:
        import_layers()
        result["wrapped"] = instrument(tracer)
        count_py4j(tracer)
    runner = Runner(args, spark, tracer)
    if args.workload == "qc_session":
        run_qc(runner)
    else:
        run_entries(runner, BATCH)
    result.update(ops=runner.ops, errors=runner.errors[:50], peak_rss_mb=runner.peak_rss_mb, rss=runner.rss)
    if args.trace:
        spark.stop()  # flushes the event log
        result["layers"] = layer_metrics(runner, result["wrapped"], args.event_dir, cpus)
    with open(args.out, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
