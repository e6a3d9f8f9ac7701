"""Relational queries (``suite.sql``, ``suite.tpch``): order statistics of
the join-skew audit, skyline, fulfillment latency and seasonal index edge
cases."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from map_reduce_implementation_spark.sources import table
from map_reduce_implementation_spark.suite import all_queries

from .conftest import SF0001, _write


QS = all_queries()


def test_skew_audit_order_statistics(spark):
    """max >= p99 >= p50, avg between min-possible and max, and the
    row total equals the raw table count."""
    r = QS["join_skew_audit"].build(spark, SF0001).collect()[0]
    assert r["n_rows"] == table(spark, SF0001, "lineitem").count()
    assert r["max_key_rows"] >= r["p99_key_rows"] >= r["p50_key_rows"] > 0
    assert 1.0 <= r["skew_ratio"]
    assert abs(r["avg_key_rows"] - r["n_rows"] / r["n_keys"]) < 1e-4


def _orders(tmp_path, rows):
    return _write(
        tmp_path,
        "orders",
        pd.DataFrame(rows, columns=["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"]),
    )


def test_skyline_dominance_and_ties(spark, tmp_path):
    """Planted frontier: a dominated point drops, duplicate
    (price, date) points BOTH survive (mutual non-dominance), and the
    cheapest-ever + latest-ever points always survive. Cell-exact vs
    the definitional quadratic NOT-EXISTS oracle."""
    from map_reduce_implementation_spark.suite.sql import SQL_PARETO_SKYLINE

    d = lambda s: pd.Timestamp(s).date()  # noqa: E731 — DATE, not ns-timestamp
    rows = [
        (1, 1, d("1997-03-10"), 100.0),  # frontier (cheapest)
        (2, 1, d("1997-03-20"), 200.0),  # frontier (mid)
        (3, 1, d("1997-03-15"), 250.0),  # dominated by 2 (later+cheaper)
        (4, 1, d("1997-03-25"), 300.0),  # frontier (latest)
        (5, 1, d("1997-03-25"), 300.0),  # duplicate of 4 — both kept
        (6, 1, d("1997-05-01"), 1.0),    # outside the slice
    ]
    p = _orders(tmp_path, rows)
    got = [
        r["o_orderkey"]
        for r in QS["pareto_skyline"].build(spark, str(tmp_path)).collect()
    ]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{p}'")
    want = con.execute(SQL_PARETO_SKYLINE).df()["o_orderkey"].tolist()
    assert got == want == [4, 5, 2, 1]


def test_fulfillment_latency_impossible_share(spark, tmp_path):
    """Planted ship-before-order rows land in impossible_share as an
    exact integer ratio; percentiles agree across engines."""
    from map_reduce_implementation_spark.suite.tpch import SQL_FULFILLMENT_LATENCY

    d = lambda s: pd.Timestamp(s).date()  # noqa: E731
    lip = str(tmp_path / "lineitem.parquet")
    pd.DataFrame(
        [(1, d("2020-01-05")), (2, d("2020-01-01")), (3, d("2020-01-11"))],
        columns=["l_orderkey", "l_shipdate"],
    ).to_parquet(lip)
    op = str(tmp_path / "orders.parquet")
    pd.DataFrame(
        [(1, d("2020-01-03"), "1-URGENT"), (2, d("2020-01-03"), "1-URGENT"),
         (3, d("2020-01-03"), "1-URGENT")],
        columns=["o_orderkey", "o_orderdate", "o_orderpriority"],
    ).to_parquet(op)
    r = QS["fulfillment_latency"].build(spark, str(tmp_path)).collect()[0]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{lip}'")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{op}'")
    o = con.execute(SQL_FULFILLMENT_LATENCY).df().iloc[0]
    # gaps: +2, -2, +8 days -> mean 8/3, one negative of three
    assert r["n_items"] == int(o["n_items"]) == 3
    assert r["mean_days"] == pytest.approx(8 / 3, abs=1e-6)
    assert r["impossible_share"] == pytest.approx(1 / 3, abs=1e-6)
    assert r["p50_days"] == float(o["p50_days"]) == 2.0


def test_seasonal_index_flat_year(spark, tmp_path):
    """Identical revenue every month -> every seasonal index is
    exactly 1.0 in both engines."""
    from map_reduce_implementation_spark.suite.tpch import SQL_ORDERS_SEASONAL_INDEX

    d = lambda s: pd.Timestamp(s).date()  # noqa: E731
    rows = [(m, 1, d(f"2020-{m:02d}-15"), 100.0) for m in range(1, 13)]
    p = _orders(tmp_path, rows)
    out = QS["orders_seasonal_index"].build(spark, str(tmp_path)).collect()
    assert len(out) == 12
    assert all(r["seasonal_index"] == 1.0 for r in out)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{p}'")
    odf = con.execute(SQL_ORDERS_SEASONAL_INDEX).df()
    assert (odf["seasonal_index"] == 1.0).all()
