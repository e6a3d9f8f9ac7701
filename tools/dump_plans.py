#!/usr/bin/env python
"""Dump ``explain("formatted")`` for named suite queries to files.

Optimization-round evidence: plans/<round>/<query>_<tag>.txt per query
(round dir from $SPARK_GRAFT_PLAN_ROUND, default r13).

Usage:
    python tools/dump_plans.py <tag> <query> [query ...]
    python tools/dump_plans.py <tag> --all          # every suite query
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.scan_audit import formatted_plan  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
ROUND = os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r13")
OUT_DIR = os.path.join(REPO, "plans", ROUND)


def main() -> int:
    from map_reduce_implementation_spark.session import get_spark
    from map_reduce_implementation_spark.suite import all_queries

    tag = sys.argv[1]
    names = sys.argv[2:]
    qs = all_queries()
    if names == ["--all"]:
        names = list(qs)
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark(app_name=f"dump_plans_{tag}")
    for name in names:
        q = qs.get(name)
        if q is None:
            print(f"unknown query {name}", file=sys.stderr)
            continue
        try:
            df = q.build(spark, SF_DIR)
            plan = formatted_plan(df)
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR: {exc}"
        with open(os.path.join(OUT_DIR, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        print(f"wrote plans/{ROUND}/{name}_{tag}.txt", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
