"""Statistics and sketch queries (``suite.stats``, ``suite.corpus``): HLL,
CMS, MinHash and SimHash bounds and merge laws, concentration indices,
Benford, winsorization and moments, with their degenerate-input guards."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from map_reduce_implementation_spark.suite import all_queries

from .conftest import SF0001, _write


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


def test_gini_uniform_and_degenerate(spark, tmp_path):
    """Equal revenues → Gini 0 via the same formula; a whale-heavy
    ledger is strictly positive; both engines agree cell-for-cell."""
    from map_reduce_implementation_spark.suite.stats import SQL_REVENUE_GINI

    p = _write(
        tmp_path,
        "orders",
        pd.DataFrame(
            [(i, i % 4, 100.0) for i in range(8)],
            columns=["o_orderkey", "o_custkey", "o_totalprice"],
        ),
    )
    r = QS["revenue_gini"].build(spark, str(tmp_path)).collect()[0]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{p}'")
    o = con.execute(SQL_REVENUE_GINI).df().iloc[0]
    assert r["n_customers"] == int(o["n_customers"]) == 4
    assert r["gini"] == float(o["gini"]) == 0.0

    sub = tmp_path / "whale"
    sub.mkdir()
    p2 = _write(
        sub,
        "orders",
        pd.DataFrame(
            [(1, 1, 1.0), (2, 2, 1.0), (3, 3, 998.0)],
            columns=["o_orderkey", "o_custkey", "o_totalprice"],
        ),
    )
    r2 = QS["revenue_gini"].build(spark, str(sub)).collect()[0]
    con2 = duckdb.connect()
    con2.execute(f"CREATE VIEW orders AS SELECT * FROM '{p2}'")
    o2 = con2.execute(SQL_REVENUE_GINI).df().iloc[0]
    assert r2["gini"] == float(o2["gini"]) > 0.6


def test_benford_digits_complete(spark):
    """On the shipped corpus: 9 digit rows, shares sum to 1, and the
    synthetic totals FAIL Benford loudly (uniform 1-4) — the audit's
    reason to exist."""
    rows = QS["quality_benford_audit"].build(spark, "/root/testdata/sf0.001").collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    assert sum(r["obs_share"] for r in rows) == pytest.approx(1.0, abs=1e-4)
    chi2 = sum(r["chi2_term"] for r in rows)
    assert chi2 > 100.0  # far beyond the 15.5 critical value at df=8


def _docs(tmp_path, rows):
    return _write(
        tmp_path,
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"]),
    )


def test_winsorized_clip_counts(spark, tmp_path):
    """An outlier-heavy source: the tails are clipped (counts > 0) and
    the winsorized mean sits strictly inside the raw extremes; a
    single-doc source degenerates to p05 = p95 = value with zero
    clipping. Cell-exact across engines."""
    from map_reduce_implementation_spark.suite.corpus import SQL_QUALITY_WINSORIZED_STATS

    rows = [(i, "t", "en", "big", int(v)) for i, v in enumerate([1, *([100] * 20), 10000])]
    rows.append((99, "t", "en", "lone", 42))
    p = _docs(tmp_path, rows)
    out = {
        r["source"]: r
        for r in QS["quality_winsorized_stats"].build(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{p}'")
    odf = con.execute(SQL_QUALITY_WINSORIZED_STATS).df().set_index("source")
    big, lone = out["big"], out["lone"]
    assert big["n_clipped_low"] == int(odf.loc["big", "n_clipped_low"]) == 1
    assert big["n_clipped_high"] == int(odf.loc["big", "n_clipped_high"]) == 1
    assert 100.0 <= big["winsorized_mean"] < 10000.0
    assert big["winsorized_mean"] == pytest.approx(
        float(odf.loc["big", "winsorized_mean"])
    )
    assert lone["p05"] == lone["p95"] == 42.0
    assert lone["n_clipped_low"] == lone["n_clipped_high"] == 0
    assert lone["winsorized_mean"] == 42.0


def _events(tmp_path, rows):
    return _write(
        tmp_path,
        "events",
        pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        ),
    )


def test_value_moments_constant_and_skewed(spark, tmp_path):
    """A constant-value type -> zero variance -> guarded NULL moments
    in both engines; a planted skewed sample matches the numpy
    population moments."""
    import numpy as np

    from map_reduce_implementation_spark.suite.stats import SQL_EVENTS_VALUE_MOMENTS

    t = pd.Timestamp("2024-01-01")
    vals = [1.0, 1.0, 1.0, 1.0, 10.0]
    rows = [(i, t, 1, "flat", 5.0, "{}") for i in range(4)] + [
        (10 + i, t, 1, "skew", v, "{}") for i, v in enumerate(vals)
    ]
    p = _events(tmp_path, rows)
    out = {
        r["event_type"]: r
        for r in QS["events_value_moments"].build(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{p}'")
    odf = con.execute(SQL_EVENTS_VALUE_MOMENTS).df().set_index("event_type")
    assert out["flat"]["skewness"] is None and pd.isna(odf.loc["flat", "skewness"])
    q = np.array(vals) * 100
    m = q.mean()
    m2, m3, m4 = ((q - m) ** 2).mean(), ((q - m) ** 3).mean(), ((q - m) ** 4).mean()
    assert out["skew"]["skewness"] == pytest.approx(m3 / m2**1.5, abs=1e-5)
    assert out["skew"]["excess_kurtosis"] == pytest.approx(m4 / m2**2 - 3, abs=1e-5)
    assert out["skew"]["skewness"] == pytest.approx(
        float(odf.loc["skew", "skewness"])
    )


def test_minhash_graded_pairs_have_high_jaccard_bands(spark):
    """Every candidate pair collides on 1..4 bands, doc_a < doc_b, and
    no pair is duplicated."""
    rows = QS["dedup_minhash_graded"].build(spark, SF0001).collect()
    seen = set()
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert 1 <= r["n_bands"] <= 4
        key = (r["doc_a"], r["doc_b"])
        assert key not in seen
        seen.add(key)


def test_simhash_graded_hamming_bound(spark):
    """Every reported pair is within the hamming threshold and ordered."""
    from map_reduce_implementation_spark.suite.stats import SH_MAX_HAMMING

    rows = QS["dedup_simhash_graded"].build(spark, SF0001).collect()
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert 0 <= r["hamming"] <= SH_MAX_HAMMING


def test_hll_estimate_within_expected_error(spark):
    """HLL with m=256 registers has relative standard error
    1.04/sqrt(256) ~= 6.5%; assert every per-type estimate lands within
    4 sigma of the exact distinct count, and the register/bucket
    accounting stays inside the sketch's bounds."""
    rows = QS["hll_distinct_graded"].build(spark, SF0001).collect()
    assert rows, "no event types"
    for r in rows:
        assert 0 < r["observed_buckets"] <= 256, r
        assert r["hll_estimate"] > 0, r
        rel = abs(r["hll_estimate"] - r["exact_distinct"]) / r["exact_distinct"]
        assert rel < 4 * 1.04 / 16, r


def test_hll_registers_merge_by_max(spark):
    """The 100 TB mergeability claim, exercised: HLL registers built on
    two disjoint halves of the event stream, merged by bucket-wise MAX,
    must equal the registers built on the full stream in one pass."""
    from pyspark.sql import functions as F

    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.stats import hll_registers

    e = table(spark, SF0001, "events")
    full = hll_registers(e, "event_type", F.col("user_id"))
    half_a = hll_registers(
        e.filter(F.col("event_id") % 2 == 0), "event_type", F.col("user_id")
    )
    half_b = hll_registers(
        e.filter(F.col("event_id") % 2 == 1), "event_type", F.col("user_id")
    )
    merged = (
        half_a.unionByName(half_b)
        .groupBy("event_type", "bucket")
        .agg(F.max("mreg").alias("mreg"))
    )
    key = lambda rows: sorted((r["event_type"], r["bucket"], r["mreg"]) for r in rows)
    assert key(merged.collect()) == key(full.collect())


def test_minhash_jaccard_est_identity_invariants(spark):
    """MinHash identity checks: estimates are multiples of 1/16 in
    [0,1]; identical token sets (exact Jaccard 1.0) force identical
    signatures, so the estimate must be exactly 1.0 there."""
    rows = QS["dedup_minhash_jaccard_est"].build(spark, SF0001).collect()
    assert rows, "no candidate pairs"
    for r in rows:
        k = r["est_jaccard"] * 16
        assert abs(k - round(k)) < 1e-9 and 0.0 <= r["est_jaccard"] <= 1.0, r
        assert 0.0 <= r["exact_jaccard"] <= 1.0, r
        if r["exact_jaccard"] == 1.0:
            assert r["est_jaccard"] == 1.0, r


def test_cms_cells_merge_by_sum(spark):
    """CMS mergeability, exercised: cells built on two disjoint halves
    of the corpus, merged by cell-wise SUM, must equal the cells built
    on the full corpus in one pass."""
    from pyspark.sql import functions as F

    from map_reduce_implementation_spark.functions import tokens as _tokens
    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.stats import cms_cells

    d = table(spark, SF0001, "documents")

    def counts(df):
        return (
            df.select(F.explode(_tokens(F.col("text"))).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("exact_cnt"))
        )

    full = cms_cells(counts(d))
    merged = (
        cms_cells(counts(d.filter(F.col("doc_id") % 2 == 0)))
        .unionByName(cms_cells(counts(d.filter(F.col("doc_id") % 2 == 1))))
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    key = lambda rows: sorted((r["d"], r["bucket"], r["cnt"]) for r in rows)
    assert key(merged.collect()) == key(full.collect())
