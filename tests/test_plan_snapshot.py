"""Plan-fingerprint regression net over the committed PLAN_SNAPSHOT.json.

Two layers:
1. Global invariants read off the committed snapshot (cheap, no Spark):
   no accidental cartesian products, Python kernels only where designed.
2. Live re-derivation for a representative subset of queries — if a code
   change alters a plan shape (extra shuffle, lost broadcast, Python
   fallback), this fails even though values still match.

Regenerate after an INTENTIONAL plan change:
    python tools/plans.py snapshot
"""

from __future__ import annotations

import json
import os

import pytest

from map_reduce_implementation_spark.plans import PYTHON_OK, fingerprint, formatted_plan
from tools.plans import SNAPSHOT_PATH

# cheap-to-plan queries covering scans, joins, aggs, windows, dedup, text
LIVE_CHECK = [
    "filter_project",
    "pricing_summary",
    "join_region_revenue",
    "broadcast_join",
    "topk_orders",
    "window_topk_per_group",
    "window_frames",
    "dedup_exact",
    "dedup_keep_first",
    "text_token_count",
    "text_quality_score",
    "similarity_cosine_topk",
    "pipeline_curation",
    "agg_extras",
    "listagg",
    # the exact top-k score pass: its corpus spread adds one exchange
    "similarity_knn_join",
    "similarity_hard_negatives",
    "embedding_label_noise",
]


@pytest.fixture(scope="module")
def snapshot():
    with open(SNAPSHOT_PATH) as f:
        return json.load(f)


def test_no_cartesian_anywhere(snapshot):
    offenders = [k for k, v in snapshot.items() if v.get("cartesian")]
    assert not offenders, f"unplanned cartesian products: {offenders}"


def test_python_kernels_only_where_designed(snapshot):
    offenders = [
        k
        for k, v in snapshot.items()
        if k not in PYTHON_OK
        and (
            v.get("python_evals")
            or v.get("map_in_arrow")
            or v.get("map_in_pandas")
            or v.get("python_udtf")
            or v.get("agg_in_pandas")
        )
    ]
    assert not offenders, f"queries fell off the JVM fast path: {offenders}"


def test_no_row_at_a_time_python(snapshot):
    # ArrowEval/BatchEval = scalar UDF fallback; our designed Python paths
    # are mapInArrow/mapInPandas/UDTF/grouped-agg — all batch-vectorized
    offenders = [k for k, v in snapshot.items() if v.get("python_evals")]
    assert not offenders, f"row-at-a-time/scalar Python UDF in plan: {offenders}"


def test_live_fingerprints_match_snapshot(spark, snapshot):
    import __spark_entry__ as entry

    sf_dir = os.environ.get("SPARK_GRAFT_SNAPSHOT_SF", "/root/testdata/sf0.01")
    qs = entry.queries()
    diffs = {}
    for name in LIVE_CHECK:
        got = fingerprint(formatted_plan(qs[name](spark, sf_dir)))
        want = snapshot[name]
        if got != want:
            diffs[name] = {k: (want.get(k), got.get(k)) for k in got if got.get(k) != want.get(k)}
    assert not diffs, f"plan drift (snapshot, live): {diffs}"
