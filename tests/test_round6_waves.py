"""Degenerate-corpus edge regressions (collapsible denominators must
yield the same guarded NULLs in both engines) plus value spot-checks on
closed forms the oracle suite alone can't falsify."""

from __future__ import annotations

import duckdb
import math

import pandas as pd
import pytest

from map_reduce_implementation_spark.suite import all_queries

QS = all_queries()


def _write(tmp_path, name, pdf):
    path = str(tmp_path / f"{name}.parquet")
    pdf.to_parquet(path)
    return path


def _docs(tmp_path, rows):
    return _write(
        tmp_path,
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"]),
    )


def _events(tmp_path, rows):
    return _write(
        tmp_path,
        "events",
        pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        ),
    )


def test_interarrival_zero_and_empty_gaps(spark, tmp_path):
    """All-same-second events → Σg = 0 → cv/rate/loglik NULL in BOTH
    engines (not a ln(0)=-inf vs NULL divergence); single-event users
    produce no gaps at all → NULL row, not a crash."""
    from map_reduce_implementation_spark.suite.events import SQL_EVENTS_INTERARRIVAL

    t = pd.Timestamp("2024-01-01 00:00:00.500000")
    p = _events(
        tmp_path,
        [(1, t, 7, "a", 0.0, "{}"), (2, t, 7, "a", 0.0, "{}"), (3, t, 9, "a", 0.0, "{}")],
    )
    r = QS["events_interarrival"].build(spark, str(tmp_path)).collect()[0]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{p}'")
    o = con.execute(SQL_EVENTS_INTERARRIVAL).df().iloc[0]
    assert r["n_gaps"] == int(o["n_gaps"]) == 1
    assert r["mean_gap_s"] == float(o["mean_gap_s"]) == 0.0
    for col in ("cv", "mle_rate", "exp_loglik"):
        assert r[col] is None and pd.isna(o[col]), col


def test_ema_single_hour_and_constant_series(spark, tmp_path):
    """One hour → EMA = y exactly (seed weight 1); a constant series →
    EMA = level and ema_minus_mean = 0 in both engines."""
    from map_reduce_implementation_spark.suite.events import SQL_EVENTS_EMA_HOURLY

    rows = [(1, pd.Timestamp("2024-01-01 05:10:00"), 1, "a", 0.0, "{}")]
    p = _events(tmp_path, rows)
    r = QS["events_ema_hourly"].build(spark, str(tmp_path)).collect()[0]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{p}'")
    o = con.execute(SQL_EVENTS_EMA_HOURLY).df().iloc[0]
    assert r["n_hours"] == int(o["n_hours"]) == 1
    assert r["ema"] == float(o["ema"]) == 1.0

    sub = tmp_path / "const"
    sub.mkdir()
    rows2 = [
        (i, pd.Timestamp(f"2024-01-01 {h:02d}:00:00"), 1, "a", 0.0, "{}")
        for i, h in enumerate(range(5))
    ]
    p2 = _events(sub, rows2)
    r2 = QS["events_ema_hourly"].build(spark, str(sub)).collect()[0]
    con2 = duckdb.connect()
    con2.execute(f"CREATE VIEW events AS SELECT * FROM '{p2}'")
    o2 = con2.execute(SQL_EVENTS_EMA_HOURLY).df().iloc[0]
    assert r2["ema"] == float(o2["ema"]) == 1.0
    assert r2["ema_minus_mean"] == float(o2["ema_minus_mean"]) == 0.0


def test_readability_no_tokens(spark, tmp_path):
    """A language whose only doc has zero [a-z0-9] tokens → flesch
    NULL in both engines (the Σw = 0 guard), other languages score."""
    from map_reduce_implementation_spark.suite.corpus import SQL_TEXT_READABILITY

    p = _docs(
        tmp_path,
        [
            (1, "!!! ???", "xx", "s0", 7),
            (2, "A plain sentence here. And one more!", "en", "s0", 36),
        ],
    )
    out = {
        r["lang"]: r
        for r in QS["text_readability"].build(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{p}'")
    odf = con.execute(SQL_TEXT_READABILITY).df().set_index("lang")
    assert out["xx"]["flesch_score"] is None
    assert pd.isna(odf.loc["xx", "flesch_score"])
    assert out["en"]["flesch_score"] == pytest.approx(
        float(odf.loc["en", "flesch_score"])
    )
    # closed-form spot check: 7 words, 2 sentences, syllable groups
    w, s, syl = (
        out["en"]["n_words"],
        out["en"]["n_sentences"],
        out["en"]["n_syllables"],
    )
    assert (w, s) == (7, 2)
    expected = 206.835 - 1.015 * (w / s) - 84.6 * (syl / w)
    assert out["en"]["flesch_score"] == pytest.approx(expected, abs=1e-6)


def test_good_turing_single_term(spark, tmp_path):
    """Single repeated term: N₁ = 0 → p0 = 0 and rstar_1 NULL in both
    engines (no 0/0); the N₂-backed rstar also guards."""
    from map_reduce_implementation_spark.suite.corpus import _gt_oracle

    p = _docs(tmp_path, [(1, "word word word", "en", "s0", 14)])
    r = QS["corpus_good_turing"].build(spark, str(tmp_path)).collect()[0]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{p}'")
    o = con.execute(_gt_oracle()).df().iloc[0]
    assert r["n_tokens"] == int(o["n_tokens"]) == 3
    assert r["vocab"] == int(o["vocab"]) == 1
    assert r["p0_unseen"] == float(o["p0_unseen"]) == 0.0
    for col in ("rstar_1", "rstar_2"):  # N1 = N2 = 0 -> guarded NULL
        assert r[col] is None and pd.isna(o[col]), col
    # N3 = 1 > 0 but N4 = 0 -> rstar_3 is a real 0, not NULL
    assert r["rstar_3"] == float(o["rstar_3"]) == 0.0


def test_jsd_bounds_and_identity(spark, tmp_path):
    """JSD(p, p) = 0 for identical sources; disjoint-vocabulary
    sources hit the ln 2 upper bound — in BOTH engines."""
    from map_reduce_implementation_spark.suite.corpus import SQL_CORPUS_JSD_SOURCES

    p = _docs(
        tmp_path,
        [
            (1, "alpha beta alpha", "en", "sA", 16),
            (2, "alpha beta alpha", "en", "sB", 16),
            (3, "gamma delta gamma", "en", "sC", 17),
        ],
    )
    rows = {
        (r["source_a"], r["source_b"]): r["jsd_nats"]
        for r in QS["corpus_jsd_sources"].build(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{p}'")
    odf = con.execute(SQL_CORPUS_JSD_SOURCES).df()
    orows = {
        (a, b): v
        for a, b, v in zip(odf["source_a"], odf["source_b"], odf["jsd_nats"])
    }
    assert rows == {k: pytest.approx(v) for k, v in orows.items()}
    assert rows[("sA", "sB")] == 0.0
    assert rows[("sA", "sC")] == pytest.approx(math.log(2), abs=1e-6)


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


def test_decontaminate_semantic_planted_leak(spark, tmp_path):
    """A training vector that IS an eval vector (cosine 1) is flagged;
    an orthogonal one is not — and the label rollup matches the
    oracle cell-for-cell."""
    from map_reduce_implementation_spark.suite.curation import (
        DECON_EVAL_N,
        SQL_DECONTAMINATE_SEMANTIC,
    )

    evs = [(i, [1.0, 0.0, 0.0, 0.0], 0) for i in range(DECON_EVAL_N)]
    train = [
        (DECON_EVAL_N, [1.0, 0.0, 0.0, 0.0], 1),  # exact leak
        (DECON_EVAL_N + 1, [0.0, 1.0, 0.0, 0.0], 1),  # orthogonal
    ]
    p = _write(
        tmp_path,
        "embeddings",
        pd.DataFrame(evs + train, columns=["vec_id", "embedding", "label"]),
    )
    rows = QS["decontaminate_semantic"].build(spark, str(tmp_path)).collect()
    assert len(rows) == 1 and rows[0]["label"] == 1
    assert rows[0]["n_train"] == 2 and rows[0]["n_flagged"] == 1
    assert rows[0]["hottest_sim"] == 1.0
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{p}'")
    o = con.execute(SQL_DECONTAMINATE_SEMANTIC).df().iloc[0]
    assert (int(o["n_train"]), int(o["n_flagged"])) == (2, 1)
    assert float(o["hottest_sim"]) == 1.0


def test_degree_stats_mass_conservation(spark):
    """The degree census conserves edge mass: Σ sum_deg over buckets =
    2 × |undirected pair set| = |directed edge list|."""
    from map_reduce_implementation_spark.suite.graph import _trade_edges

    sf = "/root/testdata/sf0.001"
    rows = QS["graph_degree_stats"].build(spark, sf).collect()
    total = sum(r["sum_deg"] for r in rows)
    assert total == _trade_edges(spark, sf).count()
    assert all(r["min_deg"] >= 10 ** (r["digits"] - 1) for r in rows)
    assert all(r["max_deg"] < 10 ** r["digits"] for r in rows)


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


def test_cluster_representatives_keep_best(spark, tmp_path):
    """Two near-dup docs of different lengths: the representative is
    the LONGER one (not the min id), singletons don't appear, and the
    Spark iterative CC matches the recursive-CTE oracle."""
    from map_reduce_implementation_spark.suite.dedup import SQL_DEDUP_CLUSTER_REPRESENTATIVES

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = a + " lambda"  # same 5-shingle prefix set, J >= 0.5, longer
    p = _docs(
        tmp_path,
        [(1, a, "en", "s0", len(a)), (2, b, "en", "s0", len(b)),
         (3, "totally unrelated content words here", "en", "s0", 36)],
    )
    rows = QS["dedup_cluster_representatives"].build(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["cluster_id"] == 1 and r["rep_doc_id"] == 2
    assert r["cluster_size"] == 2
    assert (r["min_n_chars"], r["max_n_chars"]) == (len(a), len(b))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{p}'")
    o = con.execute(SQL_DEDUP_CLUSTER_REPRESENTATIVES).df().iloc[0]
    assert int(o["rep_doc_id"]) == 2 and int(o["cluster_size"]) == 2


def test_burstiness_ratio_and_floor(spark, tmp_path):
    """cf/df orders bursty terms first; terms under the df floor are
    excluded entirely in both engines."""
    from map_reduce_implementation_spark.suite.corpus import SQL_TERM_BURSTINESS

    docs = [(i, "common bursty bursty bursty" if i == 0 else "common", "en", "s0", 20)
            for i in range(5)]
    p = _docs(tmp_path, docs)
    rows = QS["term_burstiness"].build(spark, str(tmp_path)).collect()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{p}'")
    odf = con.execute(SQL_TERM_BURSTINESS).df()
    # 'bursty' has df=1 < 5 -> excluded; only 'common' (df=5, cf=5) stays
    assert [r["term"] for r in rows] == odf["term"].tolist() == ["common"]
    assert rows[0]["burstiness"] == float(odf["burstiness"].iloc[0]) == 1.0


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


def test_conditional_entropy_degenerate(spark, tmp_path):
    """A language whose docs have <2 tokens drops from the output; a
    single-repeated-bigram language scores exactly 0 on every entropy
    column in both engines."""
    from map_reduce_implementation_spark.suite.corpus import SQL_TEXT_CONDITIONAL_ENTROPY

    p = _docs(
        tmp_path,
        [
            (1, "one", "xx", "s0", 3),           # no bigrams -> drops
            (2, "ab ab ab ab", "yy", "s0", 11),  # one bigram type
        ],
    )
    rows = {r["lang"]: r for r in QS["text_conditional_entropy"].build(spark, str(tmp_path)).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{p}'")
    odf = con.execute(SQL_TEXT_CONDITIONAL_ENTROPY).df().set_index("lang")
    assert set(rows) == set(odf.index) == {"yy"}
    r = rows["yy"]
    assert r["n_bigrams"] == 3
    assert r["h_joint"] == r["h_context"] == r["h_rate"] == 0.0
    assert r["perplexity"] == 1.0
    assert float(odf.loc["yy", "h_rate"]) == 0.0


def test_assortativity_star_graph(spark, tmp_path):
    """A star trade graph (one supplier, three customers) is perfectly
    disassortative: r = -1 in both engines."""
    from map_reduce_implementation_spark.suite.graph import SQL_GRAPH_ASSORTATIVITY

    li = _write(
        tmp_path,
        "lineitem",
        pd.DataFrame(
            [(k, 7) for k in range(3)], columns=["l_orderkey", "l_suppkey"]
        ),
    )
    po = _write(
        tmp_path,
        "orders",
        pd.DataFrame(
            [(k, k) for k in range(3)], columns=["o_orderkey", "o_custkey"]
        ),
    )
    r = QS["graph_assortativity"].build(spark, str(tmp_path)).collect()[0]
    assert r["n_directed_edges"] == 6 and r["n_nodes"] == 4
    assert r["assortativity"] == pytest.approx(-1.0, abs=1e-9)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{li}'")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{po}'")
    o = con.execute(SQL_GRAPH_ASSORTATIVITY).df().iloc[0]
    assert float(o["assortativity"]) == pytest.approx(-1.0, abs=1e-9)


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


def test_centroid_drift_planted_shift(spark, tmp_path):
    """A label whose odd half is shifted +1 on dim 0 reads exactly
    l2_shift 1.0; an identical-halves label reads 0 with cosine 1;
    a label present in one half only is excluded — in both engines."""
    from map_reduce_implementation_spark.suite.embeddings import SQL_EMBEDDING_CENTROID_DRIFT

    rows = []
    for i in range(4):  # label 0: even half [1,0], odd half [2,0]
        rows.append((i, [1.0 + (i % 2), 0.0], 0))
    for i in range(4, 8):  # label 1: identical halves [0,3]
        rows.append((i, [0.0, 3.0], 1))
    rows.append((8, [5.0, 5.0], 2))  # label 2: even half only
    p = _write(
        tmp_path,
        "embeddings",
        pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]),
    )
    out = {
        r["label"]: r
        for r in QS["embedding_centroid_drift"].build(spark, str(tmp_path)).collect()
    }
    assert set(out) == {0, 1}
    assert out[0]["centroid_l2_shift"] == 1.0
    assert out[1]["centroid_l2_shift"] == 0.0
    assert out[1]["centroid_cosine"] == 1.0
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{p}'")
    odf = con.execute(SQL_EMBEDDING_CENTROID_DRIFT).df().set_index("label")
    assert set(odf.index) == {0, 1}
    assert float(odf.loc[0, "centroid_l2_shift"]) == 1.0
    assert float(odf.loc[1, "centroid_cosine"]) == 1.0


def test_inflation_exact_copies(spark, tmp_path):
    """Three copies of a 4-token doc + one unique 2-token doc:
    inflation = (3*4 + 2) / (4 + 2) = 14/6 exactly, both engines."""
    from map_reduce_implementation_spark.suite.quality import SQL_DEDUP_INFLATION_REPORT

    p = _docs(
        tmp_path,
        [(i, "a b c d", "en", "s0", 7) for i in range(3)]
        + [(9, "x y", "en", "s0", 3)],
    )
    r = QS["dedup_inflation_report"].build(spark, str(tmp_path)).collect()[0]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{p}'")
    o = con.execute(SQL_DEDUP_INFLATION_REPORT).df().iloc[0]
    assert r["n_docs"] == int(o["n_docs"]) == 4
    assert r["n_unique"] == int(o["n_unique"]) == 2
    assert r["total_tokens"] == int(o["total_tokens"]) == 14
    assert r["unique_tokens"] == int(o["unique_tokens"]) == 6
    assert r["inflation"] == float(o["inflation"]) == 14 / 6


def test_churn_hazard_planted_gaps(spark, tmp_path):
    """Gaps of 30 min, 2 h, and 2 days: exceedance shares walk down
    the thresholds as exact integer ratios in both engines."""
    from map_reduce_implementation_spark.suite.events import _hazard_oracle

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    ts = [t0, t0 + pd.Timedelta(minutes=30), t0 + pd.Timedelta(minutes=30) + pd.Timedelta(hours=2),
          t0 + pd.Timedelta(minutes=30) + pd.Timedelta(hours=2) + pd.Timedelta(days=2)]
    p = _events(tmp_path, [(i, t, 1, "a", 0.0, "{}") for i, t in enumerate(ts)])
    rows = {r["threshold_s"]: r for r in QS["events_churn_hazard"].build(spark, str(tmp_path)).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{p}'")
    odf = con.execute(_hazard_oracle()).df().set_index("threshold_s")
    assert rows[3600]["n_exceed"] == int(odf.loc[3600, "n_exceed"]) == 2
    assert rows[86400]["n_exceed"] == int(odf.loc[86400, "n_exceed"]) == 1
    assert rows[259200]["n_exceed"] == 0
    assert rows[3600]["exceed_share"] == float(odf.loc[3600, "exceed_share"]) == 2 / 3
