#!/usr/bin/env python
"""Physical-plan tools over the suite queries. Plans are built (analysis
and planning, plus any eager jobs a query runs while building), never
executed, so a sweep of every query stays cheap.

Usage:
    python tools/plans.py snapshot                    # regenerate PLAN_SNAPSHOT.json
    python tools/plans.py audit [--all] [query ...]   # default: bench.HEADLINE
    python tools/plans.py dump <tag> <query ...|--all>

``snapshot`` records ``fingerprint`` for every query at sf0.01
(``$SPARK_GRAFT_SNAPSHOT_SF``) on ``local[4]`` with 8 shuffle partitions;
``pytest tests/test_plan_snapshot.py`` compares live plans with it.

``audit`` prints one JSON line per query: the fingerprint, scans per
parquet table and the redundant scans among them. A query whose plan
shows N scans of one table replays a subtree N times; at sf0.1 that
costs milliseconds, at 100 TB N-1 extra fact-table passes.
``build_table_scans`` counts the scans per table in the frames the
query ``localCheckpoint``s while it builds (its eager build jobs),
which the final plan shows only as ``Scan ExistingRDD``; a query's
table passes are the two counts added.

``dump`` writes ``plans/<round>/<query>_<tag>.txt`` (round from
``$SPARK_GRAFT_PLAN_ROUND``, default r13), the before/after evidence of
an optimization round.

``audit`` and ``dump`` read ``$SPARK_GRAFT_SF_DIR`` (default sf0.01) and
run on the ``get_spark()`` defaults.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SNAPSHOT_PATH = os.path.join(REPO, "PLAN_SNAPSHOT.json")
SF001 = "/root/testdata/sf0.01"


def plan_texts(spark, sf_dir: str, names: list[str]):
    """Yield ``(name, plan_text, build_plans, error)`` per name, where
    ``build_plans`` are the plans of the frames the build
    ``localCheckpoint``ed; one failing query is recorded, not fatal to
    the sweep."""
    from map_reduce_implementation_spark.plans.audit import (
        formatted_plan,
        recording_checkpoints,
    )
    from map_reduce_implementation_spark.suite import all_queries

    qs = all_queries()
    for name in names:
        if name not in qs:
            yield name, None, [], "unknown"
            continue
        try:
            with recording_checkpoints() as build_plans:
                df = qs[name].build(spark, sf_dir)
            yield name, formatted_plan(df), build_plans, None
        except Exception as ex:  # noqa: BLE001 — record, don't abort the sweep
            yield name, None, [], str(ex)


def snapshot() -> int:
    from map_reduce_implementation_spark.plans import fingerprint
    from map_reduce_implementation_spark.session import get_spark
    from map_reduce_implementation_spark.suite import all_queries

    sf_dir = os.environ.get("SPARK_GRAFT_SNAPSHOT_SF", SF001)
    spark = get_spark(app_name="plans_snapshot", master="local[4]", shuffle_partitions=8)
    snap = {
        name: fingerprint(text) if err is None else {"error": err[:200]}
        for name, text, _, err in plan_texts(spark, sf_dir, list(all_queries()))
    }
    with open(SNAPSHOT_PATH, "w") as f:
        json.dump(snap, f, indent=1, sort_keys=True)
        f.write("\n")
    bad = {k: v for k, v in snap.items() if "error" in v}
    print(f"wrote {SNAPSHOT_PATH}: {len(snap)} queries, {len(bad)} errors")
    for k, v in bad.items():
        print("  ERROR", k, v["error"])
    return 0


def audit_rows(spark, sf_dir: str, names: list[str]):
    """Yield the ``audit`` row of each query."""
    from collections import Counter

    from map_reduce_implementation_spark.plans import PlanAudit

    for name, text, build_plans, err in plan_texts(spark, sf_dir, names):
        row: dict = {"query": name}
        if err is None:
            a = PlanAudit(text)
            build = sum(
                (Counter(PlanAudit(p).table_scans) for p in build_plans), Counter()
            )
            row.update(
                a.operators,
                build_table_scans=dict(sorted(build.items())),
                redundant_scans=a.redundant_scans,
            )
        else:
            row["error"] = err[:200]
        yield row


def audit(args: list[str]) -> int:
    from bench import HEADLINE
    from map_reduce_implementation_spark.session import get_spark
    from map_reduce_implementation_spark.suite import all_queries

    names = [a for a in args if not a.startswith("--")]
    qs = all_queries()
    if not names:
        names = sorted(qs) if "--all" in args else [n for n in HEADLINE if n in qs]
    spark = get_spark(app_name="plans_audit")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF001)
    for row in audit_rows(spark, sf_dir, names):
        print(json.dumps(row), flush=True)
    return 0


def dump(tag: str, names: list[str]) -> int:
    from map_reduce_implementation_spark.session import get_spark
    from map_reduce_implementation_spark.suite import all_queries

    if names == ["--all"]:
        names = list(all_queries())
    rnd = os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r13")
    out_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"plans_dump_{tag}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF001)
    for name, text, _, err in plan_texts(spark, sf_dir, names):
        if err == "unknown":
            print(f"unknown query {name}", file=sys.stderr)
            continue
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(text if err is None else f"ERROR: {err}")
        print(f"wrote plans/{rnd}/{name}_{tag}.txt", flush=True)
    spark.stop()
    return 0


def main(argv: list[str]) -> int:
    sys.path.insert(0, REPO)
    cmd, rest = (argv[0], argv[1:]) if argv else ("", [])
    if cmd == "snapshot" and not rest:
        return snapshot()
    if cmd == "audit":
        return audit(rest)
    if cmd == "dump" and len(rest) >= 2:
        return dump(rest[0], rest[1:])
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
