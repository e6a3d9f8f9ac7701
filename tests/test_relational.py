"""Relational queries (``suite.sql``): order statistics of the join-skew
audit."""

from __future__ import annotations

from map_reduce_implementation_spark.sources import table
from map_reduce_implementation_spark.suite import all_queries

from .conftest import SF0001


QS = all_queries()


def test_skew_audit_order_statistics(spark):
    """max >= p99 >= p50, avg between min-possible and max, and the
    row total equals the raw table count."""
    r = QS["join_skew_audit"].build(spark, SF0001).collect()[0]
    assert r["n_rows"] == table(spark, SF0001, "lineitem").count()
    assert r["max_key_rows"] >= r["p99_key_rows"] >= r["p50_key_rows"] > 0
    assert 1.0 <= r["skew_ratio"]
    assert abs(r["avg_key_rows"] - r["n_rows"] / r["n_keys"]) < 1e-4
