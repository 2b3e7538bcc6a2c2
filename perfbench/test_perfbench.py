"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import sys
from argparse import Namespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import worker  # noqa: E402
from spans import Tracer, layer_of, self_times  # noqa: E402
from workloads import WARM_PASSES, qc_script  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _op(pass_no: int, lat: float, ok: bool = True, traced: bool = False) -> dict:
    return {"pass": pass_no, "name": "x", "lat": lat, "ok": ok, "traced": traced}


SETUP = {"setup_s": 9.5, "import_s": 0.5, "get_spark_s": 6.0, "first_action_s": 3.0}


def _report(ops: list[dict], trace: int = 0, setups=(SETUP,)):
    res = {
        "ops": ops,
        "setup": setups[-1],
        "peak_rss_mb": 2000.0,
        "rss": {},
        "cpus": 4,
        "errors": [],
        "layers": {m["name"]: 1.0 for m in _bench_json()["per_layer"]},
        "wrapped": {},
    }
    args = Namespace(workload="batch", seed=1, trace=trace, seconds=12.0)
    return run.report(args, res, list(setups), {}, _bench_json())


def _engine_layers() -> set[str]:
    """Layer of every module of the engine that spans.layer_of traces."""
    pkg = os.path.join(ROOT, "dataselector_spark")
    mods = {
        os.path.relpath(p, ROOT)[: -len(".py")].replace(os.sep, ".").removesuffix(".__init__")
        for p in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
    }
    return {layer_of(m) for m in mods} - {None}


def test_printed_metrics_match_benchmark_json():
    bench = _bench_json()
    for m in bench["end_to_end"]:
        assert metrics.END_TO_END_UNITS[m["name"]] == m["unit"]
    layers = _engine_layers()
    for m in bench["per_layer"]:
        layer, _, kind = m["name"].rpartition(".")
        unit = metrics.LAYER_UNITS.get(m["name"]) or (layer in layers and metrics.MODULE_METRIC_UNITS.get(kind))
        assert unit == m["unit"], m["name"]
    ops = [_op(0, 2.0), _op(1, 1.0), _op(1, 0.5)]
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        _, line = _report(ops, trace)
        printed = {k: v["unit"] for k, v in line["metrics"].items()}
        assert printed == {m["name"]: m["unit"] for m in bench[key]}
        assert all(isinstance(v["value"], float) and v["value"] for v in line["metrics"].values())
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_setup_is_the_median_of_the_samples():
    samples = [dict(SETUP, setup_s=s, get_spark_s=s / 2) for s in (12.0, 9.0, 30.0)]
    record, _ = _report([_op(0, 2.0), _op(1, 1.0)], trace=1, setups=samples)
    assert record["setup"]["setup_s"] == 12.0
    assert record["layers"]["session.get_spark_s"] == 6.0
    _, line = _report([_op(0, 2.0), _op(1, 1.0)], trace=0, setups=samples)
    assert line["metrics"]["setup_s"]["value"] == 12.0


def test_warm_pass_count_is_fixed():
    for workload, trace in itertools.product(run.WORKLOADS, (0, 1)):
        args = Namespace(workload=workload, trace=trace, data="", seed=0)
        runner = worker.Runner(args, spark=None, tracer=Tracer())
        seen = []
        runner.passes(lambda p: seen.append((p, runner.tracer.enabled)))
        n = WARM_PASSES * (1 + trace)
        assert seen == [(0, False)] + [(p, bool(trace) and p % 2 == 0) for p in range(1, n + 1)]
        assert not runner.tracer.enabled


def test_xxhash64_matches_spark():
    # Values Spark SQL's xxhash64 returns for these strings.
    assert check.xxhash64("") == -7444071767201028348
    assert check.xxhash64("a") == -8582455328737087284
    assert check.xxhash64("abc") == 1423657621850124518


def test_minhash_check_needs_every_model_pair():
    import pandas as pd

    base = "the quick brown fox jumps over a lazy dog near the river bank today"
    texts = {0: base, 1: base + " dup", 2: "join hash row batch scan customer column filter small slow", 3: base + " dup dup"}
    want, _ = check.minhash_lsh_model(texts)
    assert {(0, 1), (0, 3), (1, 3)} <= set(want)
    rows = [(a, b, est) for (a, b), est in sorted(want.items())]

    def ok(rows):
        return check.minhash_pairs_ok(pd.DataFrame(rows, columns=["id_a", "id_b", "est_jaccard"]), texts)

    assert ok(rows)
    assert not ok(rows[1:])  # a lost pair
    assert not ok([(a, b, est / 2) for a, b, est in rows])  # a wrong estimate
    assert not ok(rows + [(0, 2, 1.0)])  # an extra pair that is not similar


def test_qc_script_is_deterministic_per_seed_and_differs_across_seeds():
    assert qc_script(7) == qc_script(7)
    assert qc_script(7) != qc_script(8)
    assert [g.kind for g in qc_script(7)] == [g.kind for g in qc_script(8)]  # same gestures, new parameters


def test_p90_needs_100_warm_ops():
    few = [_op(0, 1.0)] + [_op(1, 0.01 * i) for i in range(99)]
    assert metrics.end_to_end(1.0, few, 1.0)["latency_p90_s"] is None
    many = few + [_op(2, 0.5)]
    assert metrics.end_to_end(1.0, many, 1.0)["latency_p90_s"] is not None


def test_raising_or_mismatching_op_counts_as_failed():
    args = Namespace(workload="batch", trace=0, data="", seed=0)
    runner = worker.Runner(args, spark=None, tracer=Tracer())

    def boom():
        raise RuntimeError("op failed")

    runner.op(0, "ok", lambda: 1, lambda out: out == 1)
    runner.op(0, "raises", boom, lambda out: True)
    runner.op(0, "mismatch", lambda: 2, lambda out: out == 1)
    assert [o["ok"] for o in runner.ops] == [True, False, False]
    e2e = metrics.end_to_end(1.0, runner.ops, 1.0)
    assert e2e["failed_ratio"] == 2 / 3
    _, line = _report(runner.ops)
    assert (line["attempted"], line["failed"], line["correct"]) == (3, 2, False)


class _Clock:
    def __init__(self) -> None:
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


def test_self_time_from_nested_spans():
    clock = _Clock()
    tr = Tracer(clock=clock)
    tr.enabled = True
    with tr.op(0, "op"):  # 0..10
        with tr.span("build", "build"):  # 0..9
            clock.t = 1.0
            with tr.span("operators.selection.select_insert", "operators.selection"):  # 1..4
                clock.t = 2.0
                with tr.span("catalog.load_table.load_table", "catalog.load_table"):  # 2..3
                    tr.count("py4j", 5)
                    clock.t = 3.0
                clock.t = 4.0
            clock.t = 5.0
            with tr.span("exec", "exec"):  # 5..8
                tr.count("py4j", 2)
                clock.t = 8.0
            clock.t = 9.0
        clock.t = 10.0
    assert self_times(tr.spans) == [1.0, 3.0, 2.0, 1.0, 3.0]
    m = metrics.span_metrics(tr.spans, op_wall=10.0)
    assert m["build.s"] == 3.0 + 2.0 + 1.0  # the build subtree without exec
    assert m["build.py4j_commands"] == 5
    assert m["py4j.commands"] == 7
    assert m["exec.s"] == 3.0
    assert (m["operators.selection.calls"], m["operators.selection.self_s"]) == (1, 2.0)
    assert m["catalog.load_table.self_s"] == 1.0
    assert m["trace.accounted_ratio"] == 1.0

    # A later pass's spans, summarized on their own, keep their nesting.
    with tr.op(1, "op"):  # 10..14
        with tr.span("build", "build"):  # 10..14
            clock.t = 11.0
            with tr.span("exec", "exec"):  # 11..13
                clock.t = 13.0
            clock.t = 14.0
    second = tr.spans[5:]
    assert self_times(second) == [0.0, 2.0, 2.0]
    m2 = metrics.span_metrics(second, op_wall=4.0)
    assert (m2["build.s"], m2["exec.s"], m2["trace.accounted_ratio"]) == (2.0, 2.0, 1.0)


def test_event_log_sums_per_pass_and_phase():
    groups = {"g-b": "1|build", "g-x": "1|exec"}
    task = {
        "Event": "SparkListenerTaskEnd",
        "Task End Reason": {"Reason": "Success"},
        "Task Metrics": {
            "Executor Run Time": 500,
            "JVM GC Time": 100,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.MB},
            "Input Metrics": {"Bytes Read": 2 * metrics.MB, "Records Read": 10},
        },
    }
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "g-b"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2, 3], "Properties": {"spark.jobGroup.id": "g-x"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [4], "Properties": {}},
        dict(task, **{"Stage ID": 1}),
        dict(task, **{"Stage ID": 2}),
        dict(task, **{"Stage ID": 4}),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    ]
    row = metrics.event_metrics(events, groups)["1"]
    assert (row["build.jobs"], row["exec.jobs"], row["exec.stages"], row["exec.tasks"]) == (1, 1, 1, 1)
    assert row["exec.task_run_s"] == 1.0 and row["exec.exec_task_run_s"] == 0.5
    assert row["exec.shuffle_write_mb"] == 2.0 and row["exec.input_rows"] == 20
