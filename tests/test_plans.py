"""Scale-property assertions on physical plans (SURVEY.md §4): pushdown,
pruning, broadcast choice, codegen, top-k strategy. Correctness tests
can't see these; at 100 TB they ARE the difference."""

from __future__ import annotations

from map_reduce_implementation_spark.plans import audit_plan, fingerprint, formatted_plan
from map_reduce_implementation_spark.sources import table
from map_reduce_implementation_spark.suite.parity import q_letter_counter
from map_reduce_implementation_spark.suite.sql import q_broadcast_join
from map_reduce_implementation_spark.suite.tpch import (
    q_filter_project,
    q_join_region_revenue,
    q_pricing_summary,
    q_topk_orders,
)

from .conftest import SF001


def test_filter_project_pushdown(spark):
    a = audit_plan(q_filter_project(spark, SF001))
    assert a.pushed_filters and any("l_quantity" in f for f in a.pushed_filters), (
        "quantity filter must reach the parquet scan"
    )
    # column pruning: scan must read only the 4 needed columns
    assert a.read_schemas and all(
        "l_extendedprice" not in s for s in a.read_schemas
    ), f"scan reads too much: {a.read_schemas}"
    assert a.whole_stage_codegen
    assert not a.has_python_udf
    assert a.table_scans == {"lineitem": 1} and a.redundant_scans == 0


def test_pricing_summary_partial_agg(spark):
    a = audit_plan(q_pricing_summary(spark, SF001))
    assert a.has_partial_agg, "expect map-side partial aggregation"
    assert not a.has_python_udf
    # partial+final agg = exactly one shuffle
    assert a.n_shuffle_exchanges == 1, f"plan:\n{a.text}"


def test_broadcast_join_is_broadcast(spark):
    a = audit_plan(q_broadcast_join(spark, SF001))
    assert a.has_broadcast_join
    assert not a.has_sort_merge_join, "fact side must not shuffle for a dim join"


def test_region_revenue_only_fact_edge_shuffles(spark):
    a = audit_plan(q_join_region_revenue(spark, SF001))
    assert a.has_broadcast_join, "dimensions must broadcast"
    assert a.n_broadcast_exchanges >= 4, "all dimension joins must be map-side"
    # at sf0.01 even orders broadcasts → only the final agg shuffles; at
    # larger SF the o⋈l edge adds shuffles — allow ≤3 total
    assert a.n_shuffle_exchanges <= 3, f"too many shuffles:\n{a.text}"


def test_topk_uses_take_ordered(spark):
    a = audit_plan(q_topk_orders(spark, SF001))
    assert a.has_take_ordered, "global top-k must be TakeOrderedAndProject, not full sort"


def test_letter_counter_no_python_udf(spark):
    a = audit_plan(q_letter_counter(spark, SF001))
    assert not a.has_python_udf, "parity job must stay JVM-side"
    assert a.has_partial_agg, "char counting must combine map-side"


def test_observe_quality_metrics(spark):
    """Observation metrics ride the action — no second scan."""
    from map_reduce_implementation_spark.operators.observe import observe_quality
    from map_reduce_implementation_spark.sources import table

    from .conftest import SF0001

    c = table(spark, SF0001, "customer")
    observed, obs = observe_quality(c, ["c_name", "c_acctbal"])
    n = observed.count()
    got = obs.get
    assert got["n_rows"] == n
    assert got["null_c_name"] == 0 and got["null_c_acctbal"] == 0


def test_runtime_bloom_filter_injected(spark):
    """With the big-cluster confs on, a selective dim filter must inject
    a bloom semi-join filter into the fact scan side."""
    from pyspark.sql import functions as F

    from map_reduce_implementation_spark.operators.runtime_filters import runtime_bloom
    from map_reduce_implementation_spark.sources import table

    o = table(spark, SF001, "orders")
    li = table(spark, SF001, "lineitem")
    sel = o.filter(F.col("o_totalprice") > 400000)

    def build():
        return (
            li.join(sel, li.l_orderkey == sel.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force shuffle join
    try:
        with runtime_bloom(spark):
            filtered = build()
            plan = formatted_plan(filtered)
            assert "bloom_filter_agg" in plan, "bloom filter not injected"
            want = sorted(map(tuple, build().collect()))
        plain_plan = formatted_plan(build())
        assert "bloom_filter_agg" not in plain_plan, "conf leak: bloom stayed on"
        got = sorted(map(tuple, filtered.collect()))
        assert got == want and len(got) > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_table_scans_count_a_self_join_twice(spark):
    li = table(spark, SF001, "lineitem")
    pairs = li.select("l_orderkey", "l_partkey").join(
        li.select("l_orderkey", "l_suppkey"), "l_orderkey"
    )
    a = audit_plan(pairs)
    assert a.table_scans == {"lineitem": 2}
    assert a.redundant_scans == 1


def test_fingerprint_counts_scans_per_table(spark):
    """The snapshot fingerprint carries per-table scan counts, so a query
    that gains a scan of one table drifts from PLAN_SNAPSHOT.json."""
    li = table(spark, SF001, "lineitem")
    one = li.select("l_orderkey", "l_partkey")
    two = one.join(li.select("l_orderkey", "l_suppkey"), "l_orderkey")
    assert fingerprint(formatted_plan(one))["table_scans"] == {"lineitem": 1}
    assert fingerprint(formatted_plan(two))["table_scans"] == {"lineitem": 2}


def test_audit_reports_build_job_scans(spark):
    """graph_assortativity reads lineitem and orders only inside the
    eager checkpoint job of its edge build, so its final plan shows no
    table scan; ``tools/plans.py audit`` reports the build job's scans
    as ``build_table_scans``."""
    from tools.plans import audit_rows

    (row,) = audit_rows(spark, SF001, ["graph_assortativity"])
    assert row["table_scans"] == {}
    assert row["build_table_scans"] == {"lineitem": 1, "orders": 1}
