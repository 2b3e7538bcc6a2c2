"""Summarize traced runs: each per-layer metric beside the end-to-end metric
it should move, per workload.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 12 --trace 1 > batch.out
    python3 perfbench/summarize.py batch.out [more run outputs ...]
    python3 perfbench/summarize.py --map

The layer -> metric -> workload map is ``metrics.PREDICTIONS``; ``--map``
prints it.
"""

from __future__ import annotations

import fnmatch
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from metrics import PREDICTIONS  # noqa: E402


def traced_records(paths: list[str]) -> list[dict]:
    """Run records (the line before the result line) of traced runs."""
    out = []
    for path in paths:
        with open(path) as f:
            lines = [ln for ln in f.read().splitlines() if ln.startswith("{")]
        rec = json.loads(lines[-2])
        if rec.get("trace") != 1:
            raise SystemExit(f"{path}: not a traced run (--trace 1)")
        out.append(rec)
    return out


def summarize(records: list[dict], rows=PREDICTIONS) -> list[str]:
    lines = []
    for rec in records:
        w = rec["workload"]
        e2e = rec["end_to_end"]
        lines.append(f"== {w} (seed {rec['seed']}) ==")
        lines.append(f"{'layer metric':36s} {'value':>12s}   should move")
        layers = rec["layers"]
        for name, value in layers.items():
            layer = name.rsplit(".", 1)[0]
            if name.endswith((".calls", ".self_s")) and not layers.get(f"{layer}.calls"):
                continue  # a module this workload does not reach
            moves = [
                f"{metric} = {e2e[metric]['value']:.4g} {e2e[metric]['unit']}"
                for pattern, metric, workloads in rows
                if w in workloads and fnmatch.fnmatchcase(name, pattern) and e2e.get(metric)
            ]
            lines.append(f"{name:36s} {value:12.4g}   {'; '.join(moves) or '(no change predicted)'}")
    return lines


def main(argv: list[str]) -> int:
    if argv == ["--map"]:
        for pattern, metric, workloads in PREDICTIONS:
            print(f"{pattern:24s} {metric:16s} {', '.join(workloads)}")
        return 0
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    print("\n".join(summarize(traced_records(argv))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
