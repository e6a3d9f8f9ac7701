"""Statistics queries (``suite.stats``): market-concentration bounds and
a Python replay."""

from __future__ import annotations

from map_reduce_implementation_spark.suite import all_queries

from .conftest import SF0001


QS = all_queries()


def test_hhi_bounds_and_replay(spark):
    """Decimal-exact pandas replay per nation; 1/n <= HHI <= 1 and
    top_share^2 <= HHI <= top_share (since shares sum to 1)."""
    from decimal import Decimal

    from map_reduce_implementation_spark.sources import table

    li = table(spark, SF0001, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    ).collect()
    sup = {
        r["s_suppkey"]: r["s_nationkey"]
        for r in table(spark, SF0001, "supplier").collect()
    }
    nations = {
        r["n_nationkey"]: r["n_name"]
        for r in table(spark, SF0001, "nation").collect()
    }
    rev: dict[tuple[int, int], Decimal] = {}
    for r in li:
        nk = sup[r["l_suppkey"]]
        d = Decimal(str(round(r["l_extendedprice"], 2))) * (
            Decimal(1) - Decimal(str(round(r["l_discount"], 2)))
        )
        rev[(nk, r["l_suppkey"])] = rev.get((nk, r["l_suppkey"]), Decimal(0)) + d

    got = {r["n_name"]: r for r in QS["market_concentration_hhi"].build(spark, SF0001).collect()}
    by_nation: dict[int, list[Decimal]] = {}
    for (nk, _), v in rev.items():
        by_nation.setdefault(nk, []).append(v)
    assert set(got) == {nations[nk] for nk in by_nation}
    for nk, revs in by_nation.items():
        r = got[nations[nk]]
        assert r["n_suppliers"] == len(revs)
        tot = float(sum(revs))
        shares = [float(v) / tot for v in revs]
        hhi = sum(s * s for s in shares)
        assert abs(r["hhi"] - hhi) < 1e-5
        assert abs(r["top_share"] - max(shares)) < 1e-5
        assert 1 / len(revs) - 1e-9 <= r["hhi"] <= 1.0 + 1e-9
        assert r["top_share"] ** 2 - 1e-6 <= r["hhi"] <= r["top_share"] + 1e-6
