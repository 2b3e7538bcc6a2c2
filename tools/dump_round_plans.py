#!/usr/bin/env python
"""Dump `.explain("formatted")` for named suite entries to
plans/r<WINDOW_ROUND>/<name>_<tag>.txt — the active round's before/after
plan artifacts. Usage: python tools/dump_round_plans.py before name [name ...]
(sf dir from $SPARK_GRAFT_SF_DIR, default sf0.1 — the bench scale)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataselector_spark.plans import formatted_plan  # noqa: E402
from dataselector_spark.session import get_spark  # noqa: E402
from dataselector_spark.suite import QUERIES, WINDOW_ROUND  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO, "plans", f"r{WINDOW_ROUND}")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"r{WINDOW_ROUND}-plan-dump", cpus=32, shuffle_partitions=32)
    for name in names:
        df = QUERIES[name].fn(spark, sf_dir)
        txt = formatted_plan(df)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"== {name} ({tag}, {sf_dir}) ==\n")
            f.write(txt)
            f.write("\n")
        print(f"wrote {path} ({txt.count('Exchange')} Exchange nodes)")


if __name__ == "__main__":
    main()
