"""Metric names, units and the arithmetic that turns op records, spans and
Spark events into them. Pure Python, so the tests need no Spark."""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import Span, self_times, subtree_of

# Units of the seven end-to-end metrics of the run record. BENCHMARK.json
# names the ones the result line carries and gates; the others spread past
# their bound over ten seeds on a shared host, need 100 ops (p90), or are 0
# on a correct run (failed_ratio), so they are reported but not gated.
END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "wall_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "failed_ratio": "ratio",
    "peak_rss_mb": "MB",
}
P90_MIN_OPS = 100

# Units of the per-layer metrics that are not per module. Every traced
# module layer (see spans.layer_of) adds `<layer>.calls` and `<layer>.self_s`.
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.first_action_s": "s",
    "catalog.load_table.calls": "count",
    "catalog.load_table.self_s": "s",
    "build.s": "s",
    "build.jobs": "count",
    "build.py4j_commands": "count",
    "py4j.commands": "count",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "plan.exchanges": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.slot_busy_ratio": "ratio",
    "exec.task_run_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.input_mb": "MB",
    "exec.input_rows": "rows",
    "trace.overhead_ratio": "ratio",
    "trace.accounted_ratio": "ratio",
}
MODULE_METRIC_UNITS = {"calls": "count", "self_s": "s"}

# Which end-to-end metric each per-layer metric should move, on which
# workloads: (layer metric pattern, end-to-end metric, workloads). Written
# before any optimization was measured; a layer metric on a workload not
# listed for it is predicted not to move that workload's end-to-end metrics.
# summarize.py prints traced runs against this table.
PREDICTIONS = [
    ("session.*", "setup_s", ("qc_session", "batch")),
    ("catalog.load_table.*", "latency_p50_s", ("qc_session",)),
    ("catalog.load_table.*", "cold_pass_s", ("qc_session", "batch")),
    ("build.s", "latency_p50_s", ("qc_session",)),
    ("build.py4j_commands", "latency_p50_s", ("qc_session",)),
    ("build.jobs", "wall_s", ("batch",)),
    ("operators.*", "latency_p50_s", ("qc_session",)),
    ("operators.*", "wall_s", ("batch",)),
    ("functions.*", "latency_p50_s", ("qc_session",)),
    ("functions.*", "wall_s", ("batch",)),
    ("multimodal.*", "wall_s", ("batch",)),
    ("streaming.*", "wall_s", ("batch",)),
    ("session_state.*", "latency_p50_s", ("qc_session",)),
    ("py4j.commands", "latency_p50_s", ("qc_session",)),
    ("plan.*", "latency_p50_s", ("qc_session",)),
    ("exec.s", "wall_s", ("qc_session", "batch")),
    ("exec.jobs", "wall_s", ("qc_session", "batch")),
    ("exec.stages", "wall_s", ("qc_session", "batch")),
    ("exec.tasks", "wall_s", ("batch",)),
    ("exec.slot_busy_ratio", "wall_s", ("qc_session", "batch")),
    ("exec.task_run_s", "wall_s", ("batch",)),
    ("exec.gc_s", "wall_s", ("batch",)),
    ("exec.shuffle_*", "wall_s", ("batch",)),
    ("exec.spill_mb", "wall_s", ("batch",)),
    ("exec.input_*", "latency_p50_s", ("qc_session",)),
]

MB = 1024 * 1024


def end_to_end(setup_s: float, ops: list[dict], peak_rss_mb: float) -> dict[str, float | None]:
    """End-to-end metrics of an untraced run from its op records.

    An op record has ``pass`` (0 is the cold pass), ``lat`` (seconds),
    ``ok`` and ``traced``. Traced ops are left out of every timing; every
    op counts in ``failed_ratio``."""
    timed = [o for o in ops if not o["traced"]]
    cold = [o["lat"] for o in timed if o["pass"] == 0]
    warm = [o for o in timed if o["pass"] > 0]
    walls: dict[int, float] = defaultdict(float)
    for o in warm:
        walls[o["pass"]] += o["lat"]
    lats = [o["lat"] for o in warm]
    return {
        "setup_s": setup_s,
        "cold_pass_s": sum(cold),
        "wall_s": statistics.median(walls.values()) if walls else None,
        "latency_p50_s": statistics.median(lats) if lats else None,
        "latency_p90_s": (
            statistics.quantiles(lats, n=10)[8] if len(lats) >= P90_MIN_OPS else None
        ),
        "failed_ratio": sum(not o["ok"] for o in ops) / len(ops) if ops else None,
        "peak_rss_mb": peak_rss_mb,
    }


def span_metrics(spans: list[Span], op_wall: float) -> dict[str, float]:
    """Per-layer sums over the spans of one pass (build, every traced layer
    that has spans, py4j, exec wall) plus the share of the pass's op walls (``op_wall``, timed
    around each op) that the spans' self times account for."""
    selfs = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        out["py4j.commands"] += s.counts.get("py4j", 0)
        if s.layer == "exec":
            out["exec.s"] += s.end - s.start
        elif s.layer == "build":
            for j in subtree_of(spans, i, stop_layers=("exec",)):
                out["build.s"] += selfs[j]
                out["build.py4j_commands"] += spans[j].counts.get("py4j", 0)
        elif s.layer != "op":
            out[f"{s.layer}.calls"] += 1
            out[f"{s.layer}.self_s"] += selfs[i]
    out["trace.accounted_ratio"] = sum(selfs) / op_wall if op_wall else 0.0
    return dict(out)


def event_metrics(events: list[dict], groups: dict[str, str]) -> dict[str, dict[str, float]]:
    """Job, stage and task sums per pass from a Spark event log.

    ``groups`` maps a job group id to ``"<pass key>|<phase>"``, where the
    phase is ``build`` (jobs launched while the build is on the stack) or
    ``exec`` (jobs of the op's actions). Task work counts for both phases;
    the job, stage and task counts and the exec task time count exec only."""
    job_of_stage: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            tag = groups.get((ev.get("Properties") or {}).get("spark.jobGroup.id", ""))
            if tag is None:
                continue
            key, phase = tag.split("|")
            out[key][f"{phase}.jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                job_of_stage[sid] = tag
        elif kind == "SparkListenerStageCompleted":
            tag = job_of_stage.get(ev["Stage Info"]["Stage ID"])
            if tag is not None and tag.endswith("|exec"):
                out[tag.split("|")[0]]["exec.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            tag = job_of_stage.get(ev.get("Stage ID"))
            if tag is None:
                continue
            key, phase = tag.split("|")
            m = ev.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1000.0
            row = out[key]
            if phase == "exec":
                row["exec.tasks"] += 1
                row["exec.failed_tasks"] += (ev.get("Task End Reason") or {}).get("Reason") != "Success"
                row["exec.exec_task_run_s"] += run_s
            row["exec.task_run_s"] += run_s
            row["exec.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            row["exec.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            row["exec.shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MB
            row["exec.spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            inp = m.get("Input Metrics") or {}
            row["exec.input_mb"] += inp.get("Bytes Read", 0) / MB
            row["exec.input_rows"] += inp.get("Records Read", 0)
    return {k: dict(v) for k, v in out.items()}


def median_of(rows: list[dict[str, float]], name: str) -> float:
    return statistics.median(r.get(name, 0.0) for r in rows) if rows else 0.0
