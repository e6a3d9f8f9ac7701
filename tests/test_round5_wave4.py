"""Semantic invariants for the curation cascade, token-budget mixing,
boilerplate removal, LSH tuning, drift, calibration and vector-index
queries — properties the oracle equality check can't express (it proves
Spark == DuckDB, not that both compute the RIGHT thing)."""

from __future__ import annotations

import hashlib
import re

from map_reduce_implementation_spark.suite import all_queries

from .conftest import SF0001

QS = all_queries()


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _docs(spark):
    from map_reduce_implementation_spark.sources import table

    return sorted(
        table(spark, SF0001, "documents").select(
            "doc_id", "text", "lang", "source"
        ).collect(),
        key=lambda r: r["doc_id"],
    )


def test_cascade_waterfall_consistency_and_replay(spark):
    """The waterfall is internally consistent (n_out[i] == n_in[i+1],
    dropped+survivors == corpus) and a pure-Python first-fail replay
    reproduces every stage's drop count."""
    from map_reduce_implementation_spark.suite.curation import (
        MIN_TOKENS,
        MIN_TTR,
        WLEN_HI,
        WLEN_LO,
    )

    docs = _docs(spark)
    dropped = {1: 0, 2: 0, 3: 0}
    survivors = 0
    for r in docs:
        ts = _tokens(r["text"])
        n, nd = len(ts), len(set(ts))
        wl = sum(len(t) for t in ts) / n if n else 0.0
        if n < MIN_TOKENS:
            dropped[1] += 1
        elif nd / n < MIN_TTR:
            dropped[2] += 1
        elif wl < WLEN_LO or wl > WLEN_HI:
            dropped[3] += 1
        else:
            survivors += 1

    rows = sorted(
        QS["filter_cascade_report"].build(spark, SF0001).collect(),
        key=lambda r: r["stage"],
    )
    assert [r["stage"] for r in rows] == [1, 2, 3]
    assert rows[0]["n_in"] == len(docs)
    for i, r in enumerate(rows):
        assert r["n_dropped"] == dropped[r["stage"]]
        assert r["n_out"] == r["n_in"] - r["n_dropped"]
        if i + 1 < len(rows):
            assert r["n_out"] == rows[i + 1]["n_in"]
    assert rows[-1]["n_out"] == survivors
    # every stage discriminates at this SF (thresholds are calibrated)
    assert all(r["n_dropped"] > 0 for r in rows) and survivors > 0


def test_token_budget_mix_conserves_budget(spark):
    """The hierarchical split spends exactly the budget: cell targets
    sum to MIX_BUDGET (shares at each level sum to 1), epochs equals
    target/available per cell, and the upsampled flag matches."""
    import math

    from map_reduce_implementation_spark.suite.curation import MIX_BUDGET

    docs = _docs(spark)
    cell_tokens: dict[tuple[str, str], int] = {}
    for r in docs:
        k = (r["lang"], r["source"])
        cell_tokens[k] = cell_tokens.get(k, 0) + len(_tokens(r["text"]))
    lang_tokens: dict[str, int] = {}
    for (lang, _), n in cell_tokens.items():
        lang_tokens[lang] = lang_tokens.get(lang, 0) + n
    g_denom = sum(math.sqrt(v) for _, v in sorted(lang_tokens.items()))

    rows = QS["token_budget_mix"].build(spark, SF0001).collect()
    assert {(r["lang"], r["source"]) for r in rows} == set(cell_tokens)
    total_target = 0.0
    for r in rows:
        k = (r["lang"], r["source"])
        assert r["cell_tokens"] == cell_tokens[k]
        src_denom = sum(
            math.sqrt(v)
            for (lg, src), v in sorted(cell_tokens.items())
            if lg == r["lang"]
        )
        expect = (
            MIX_BUDGET
            * (math.sqrt(lang_tokens[r["lang"]]) / g_denom)
            * (math.sqrt(cell_tokens[k]) / src_denom)
        )
        assert abs(r["target_tokens"] - expect) < 0.5
        assert abs(r["epochs"] - expect / cell_tokens[k]) < 1e-5
        assert r["upsampled"] == (expect / cell_tokens[k] > 1.0)
        total_target += r["target_tokens"]
    assert abs(total_target - MIX_BUDGET) < 1.0


def test_boilerplate_removal_python_replay(spark):
    """A pure-Python within-source df count + reassembly reproduces
    every doc's removed count and kept hash, and removal is symmetric:
    EVERY occurrence of a boilerplate segment is gone (no keep-first)."""
    from map_reduce_implementation_spark.suite.curation import BOILER_MIN_DOCS, SEG_TOKENS

    docs = _docs(spark)
    seg_docs: dict[tuple[str, str], set[int]] = {}
    doc_segs: dict[int, tuple[str, list[str]]] = {}
    for r in docs:
        ts = _tokens(r["text"])
        segs = [
            " ".join(ts[i : i + SEG_TOKENS]) for i in range(0, len(ts), SEG_TOKENS)
        ]
        if segs:
            doc_segs[r["doc_id"]] = (r["source"], segs)
            for s in segs:
                seg_docs.setdefault((r["source"], s), set()).add(r["doc_id"])

    rows = QS["boilerplate_removal"].build(spark, SF0001).collect()
    assert {r["doc_id"] for r in rows} == set(doc_segs)
    for r in rows:
        source, segs = doc_segs[r["doc_id"]]
        kept = [s for s in segs if len(seg_docs[(source, s)]) < BOILER_MIN_DOCS]
        assert r["n_segments"] == len(segs)
        assert r["n_removed"] == len(segs) - len(kept)
        assert r["kept_hash"] == hashlib.md5(" ".join(kept).encode()).hexdigest()


def test_cluster_stats_census_totals(spark):
    """The census totals to the corpus: Σ n_docs == |documents|,
    Σ n_clusters == distinct texts, Σ excess == docs dedup would drop
    (cross-checked against dedup_exact), shares sum to 1."""
    docs = _docs(spark)
    from collections import Counter

    sizes = Counter(Counter(r["text"] for r in docs).values())
    rows = QS["dedup_cluster_stats"].build(spark, SF0001).collect()
    assert {r["cluster_size"]: r["n_clusters"] for r in rows} == dict(sizes)
    assert sum(r["n_docs"] for r in rows) == len(docs)
    n_texts = len({r["text"] for r in docs})
    assert sum(r["n_clusters"] for r in rows) == n_texts
    assert sum(r["excess_docs"] for r in rows) == len(docs) - n_texts
    assert abs(sum(r["corpus_share"] for r in rows) - 1.0) < 1e-4
    exact = QS["dedup_exact"].build(spark, SF0001).collect()
    assert sum(r["n_copies"] - 1 for r in exact) == sum(
        r["excess_docs"] for r in rows
    )


def test_threshold_sweep_monotone_and_matches_dedup(spark):
    """Pair/doc counts are monotone non-increasing in the threshold,
    and the 35% row prices EXACTLY what dedup_embedding_cosine commits
    (same blocked pairs, same keep rule)."""
    rows = sorted(
        QS["similarity_threshold_sweep"].build(spark, SF0001).collect(),
        key=lambda r: r["threshold_pct"],
    )
    assert [r["threshold_pct"] for r in rows] == [25, 30, 35, 40]
    for a, b in zip(rows, rows[1:]):
        assert a["n_pairs"] >= b["n_pairs"]
        assert a["n_dup_docs"] >= b["n_dup_docs"]
    assert rows[0]["n_pairs"] > 0  # loosest threshold sees candidates
    dedup = QS["dedup_embedding_cosine"].build(spark, SF0001).collect()
    at35 = next(r for r in rows if r["threshold_pct"] == 35)
    assert at35["n_dup_docs"] == len({r["dup_vec_id"] for r in dedup})


def test_classifier_apply_bucket_bounds_and_totals(spark):
    """Bucket populations cover the corpus exactly once, bucket ids
    are deciles, each bucket's mean sits inside its own bounds, and
    positives total the corpus positives."""
    from map_reduce_implementation_spark.sources import table

    emb = table(spark, SF0001, "embeddings").collect()
    rows = QS["quality_classifier_apply"].build(spark, SF0001).collect()
    assert sum(r["n"] for r in rows) == len(emb)
    assert sum(r["n_pos"] for r in rows) == sum(
        1 for r in emb if r["label"] % 2 == 1
    )
    for r in rows:
        assert 0 <= r["bucket"] <= 9
        assert r["bucket"] / 10 - 1e-6 <= r["mean_score"] <= (r["bucket"] + 1) / 10 + 1e-6
        assert 0 <= r["n_pos"] <= r["n"]


def test_band_analysis_python_replay_and_monotone(spark):
    """A pure-Python replay of the capped posting-list pair scan and
    the S-curve P = 1-(1-J^r)^b reproduces every config's expected
    counts; recall decreases as rows-per-band sharpens the curve."""
    from collections import defaultdict
    from itertools import combinations

    from map_reduce_implementation_spark.suite.dedup import (
        BAND_CONFIGS,
        TUNE_MAX_DF,
        TUNE_TARGET_J,
    )

    docs = _docs(spark)
    doc_sh: dict[int, set[str]] = {}
    posting = defaultdict(set)
    for r in docs:
        ts = _tokens(r["text"])
        sh = {" ".join(ts[i : i + 5]) for i in range(len(ts) - 4)}
        doc_sh[r["doc_id"]] = sh
        for s in sh:
            posting[s].add(r["doc_id"])
    inter: dict[tuple[int, int], int] = defaultdict(int)
    for s, ds in posting.items():
        if 2 <= len(ds) <= TUNE_MAX_DF:
            for a, b in combinations(sorted(ds), 2):
                inter[(a, b)] += 1
    js = [
        i / (len(doc_sh[a]) + len(doc_sh[b]) - i)
        for (a, b), i in inter.items()
    ]
    expect = {}
    for r_, b_ in BAND_CONFIGS:
        eh = sum(
            round(1 - (1 - j**r_) ** b_, 9) for j in js if j >= TUNE_TARGET_J
        )
        el = sum(
            round(1 - (1 - j**r_) ** b_, 9) for j in js if j < TUNE_TARGET_J
        )
        expect[(r_, b_)] = (
            sum(1 for j in js if j >= TUNE_TARGET_J),
            sum(1 for j in js if j < TUNE_TARGET_J),
            eh,
            el,
        )

    rows = sorted(
        QS["minhash_band_analysis"].build(spark, SF0001).collect(),
        key=lambda r: r["r"],
    )
    assert [(r["r"], r["bands"]) for r in rows] == sorted(BAND_CONFIGS)
    for r in rows:
        n_high, n_low, eh, el = expect[(r["r"], r["bands"])]
        assert (r["n_high"], r["n_low"]) == (n_high, n_low)
        assert abs(r["exp_found_high"] - eh) < 1e-4
        assert abs(r["exp_found_low"] - el) < 1e-4
        assert 0.0 <= r["expected_recall"] <= 1.0
        assert r["expected_false_rate"] <= r["expected_recall"]
    # sharper curves (more rows per band) trade recall down
    recalls = [r["expected_recall"] for r in rows]  # ordered by r asc
    assert recalls == sorted(recalls, reverse=True)
    assert recalls[0] > 0.99  # the loosest config should catch ~all


def test_drift_psi_python_replay(spark):
    """A numpy replay (median split, reference deciles, Laplace
    smoothing, term-by-term PSI) reproduces every type's PSI; PSI is
    non-negative by construction."""
    import numpy as np

    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.quality import PSI_BINS

    rows = table(spark, SF0001, "events").select(
        "event_type", "value", F_unix_micros_col()
    ).collect()
    us = np.array([r["us"] for r in rows], dtype=np.float64)
    m = np.percentile(us, 50, method="linear")
    by_type: dict[str, tuple[list, list]] = {}
    for r, u in zip(rows, us):
        ref, cur = by_type.setdefault(r["event_type"], ([], []))
        (ref if u < m else cur).append(r["value"])
    out = {r["event_type"]: r for r in QS["events_drift_psi"].build(spark, SF0001).collect()}
    assert set(out) == set(by_type)
    for t, (ref, cur) in by_type.items():
        cuts = np.percentile(
            np.array(ref), [100 * i / PSI_BINS for i in range(1, PSI_BINS)],
            method="linear",
        )
        def bins(vals):
            c = [0] * PSI_BINS
            for v in vals:
                c[int(np.sum(v >= cuts))] += 1
            return c
        br, bc = bins(ref), bins(cur)
        psi = 0.0
        for i in range(PSI_BINS):
            pr = (br[i] + 0.5) / (len(ref) + PSI_BINS * 0.5)
            pc = (bc[i] + 0.5) / (len(cur) + PSI_BINS * 0.5)
            psi += (pc - pr) * np.log(pc / pr)
        r = out[t]
        assert (r["n_ref"], r["n_cur"]) == (len(ref), len(cur))
        assert abs(r["psi"] - psi) < 1e-6
        assert r["psi"] >= 0.0
        assert r["drifted"] == (r["psi"] >= 0.1)


def test_drift_ks_python_replay(spark):
    """A pure-Python two-sample empirical-CDF max-difference reproduces
    every type's KS D; D is within [0, 1]."""
    import numpy as np

    from map_reduce_implementation_spark.sources import table

    rows = table(spark, SF0001, "events").select(
        "event_type", "value", F_unix_micros_col()
    ).collect()
    us = np.array([r["us"] for r in rows], dtype=np.float64)
    m = np.percentile(us, 50, method="linear")
    by_type: dict[str, tuple[list, list]] = {}
    for r, u in zip(rows, us):
        ref, cur = by_type.setdefault(r["event_type"], ([], []))
        (ref if u < m else cur).append(r["value"])
    out = {r["event_type"]: r for r in QS["events_drift_ks"].build(spark, SF0001).collect()}
    for t, (ref, cur) in by_type.items():
        vals = sorted(set(ref) | set(cur))
        ra, ca = np.array(sorted(ref)), np.array(sorted(cur))
        d = max(
            abs(
                np.searchsorted(ra, v, side="right") / len(ref)
                - np.searchsorted(ca, v, side="right") / len(cur)
            )
            for v in vals
        )
        r = out[t]
        assert (r["n_ref"], r["n_cur"]) == (len(ref), len(cur))
        assert abs(r["ks_d"] - d) < 1e-9
        assert 0.0 <= r["ks_d"] <= 1.0
        assert r["drifted"] == (r["ks_d"] >= 0.05)


def F_unix_micros_col():
    from pyspark.sql import functions as F

    return F.unix_micros("ts").alias("us")


def test_calibration_report_consistency(spark):
    """The calibration table is consistent with the apply half (same
    buckets, same populations), gaps equal mean_predicted −
    frac_positive, ECE contributions are |gap|-weighted populations,
    and the summed ECE is within [0, 1]."""
    rows = {r["bucket"]: r for r in
            QS["quality_calibration_report"].build(spark, SF0001).collect()}
    apply_rows = {r["bucket"]: r for r in
                  QS["quality_classifier_apply"].build(spark, SF0001).collect()}
    assert set(rows) == set(apply_rows)
    total = sum(r["n"] for r in rows.values())
    ece = 0.0
    for b, r in rows.items():
        assert r["n"] == apply_rows[b]["n"]
        assert abs(r["gap"] - (r["mean_predicted"] - r["frac_positive"])) < 2e-6
        assert abs(r["ece_contrib"] - abs(r["gap"]) * r["n"] / total) < 1e-5
        assert 0.0 <= r["frac_positive"] <= 1.0
        ece += r["ece_contrib"]
    assert 0.0 <= ece <= 1.0


def test_index_delta_python_replay(spark):
    """A numpy replay of the first-k quantizer and both assignments
    reproduces every cell's occupancy; the delta batch never moves a
    standing vector, totals tie out, and the split flag is the exact
    integer rule."""
    import numpy as np

    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.similarity import DELTA_CELLS, DELTA_MOD

    emb = sorted(
        table(spark, SF0001, "embeddings").collect(), key=lambda r: r["vec_id"]
    )
    standing = [r for r in emb if r["vec_id"] % DELTA_MOD != 0]
    delta = [r for r in emb if r["vec_id"] % DELTA_MOD == 0]
    cents = np.array(
        [[float(x) for x in r["embedding"]] for r in standing[:DELTA_CELLS]]
    )

    def assign(rows):
        counts = [0] * DELTA_CELLS
        for r in rows:
            v = np.array([float(x) for x in r["embedding"]])
            d2 = ((cents - v) ** 2).sum(axis=1)
            counts[int(np.argmin(d2))] += 1  # ties: lowest index (argmin)
        return counts

    n_old, n_new = assign(standing), assign(delta)
    rows = {r["cell"]: r for r in
            QS["similarity_index_delta"].build(spark, SF0001).collect()}
    total = sum(n_old) + sum(n_new)
    for c in range(DELTA_CELLS):
        if n_old[c] == 0 and n_new[c] == 0:
            assert c not in rows  # a cell nothing was ever assigned to
            continue
        r = rows[c]
        assert (r["n_old"], r["n_new"]) == (n_old[c], n_new[c])
        assert r["n_total"] == n_old[c] + n_new[c]
        if n_old[c] == 0:
            assert r["growth"] is None  # standing-empty cell: no ratio
        assert r["split_candidate"] == (
            (n_old[c] + n_new[c]) * DELTA_CELLS > 2 * total
        )
    # the full-outer report loses NO arrivals and NO standing members
    assert sum(r["n_old"] for r in rows.values()) == len(standing)
    assert sum(r["n_new"] for r in rows.values()) == len(delta)


def test_drift_nulls_and_new_types_match_oracle(spark, tmp_path):
    """Regression for the two drift edge cases the shipped data never
    exercises: NULL values must not move the median boundary (both
    engines filter BEFORE the percentile), and a type existing only in
    one half is excluded from BOTH monitors in BOTH engines (an
    existence change, not a drift statistic)."""
    import datetime as dt

    import duckdb
    import pandas as pd

    base = dt.datetime(2024, 1, 1)
    rows = []
    # type 'a': both halves, drifting values; plus NULLs scattered in
    for i in range(40):
        rows.append(("a", float(i % 7) + (10.0 if i >= 20 else 0.0),
                     base + dt.timedelta(hours=i)))
    for i in (3, 17, 33):
        rows.append(("a", None, base + dt.timedelta(hours=i, minutes=30)))
    # type 'newtype': second half only — must be absent from both reports
    for i in range(25, 35):
        rows.append(("newtype", float(i), base + dt.timedelta(hours=i)))
    pdf = pd.DataFrame(rows, columns=["event_type", "value", "ts"])
    pdf["event_id"] = range(len(pdf))
    pdf["user_id"] = 0
    pdf["props"] = "{}"
    path = str(tmp_path / "events.parquet")
    pdf.to_parquet(path)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    from map_reduce_implementation_spark.suite.quality import (
        SQL_EVENTS_DRIFT_KS,
        SQL_EVENTS_DRIFT_PSI,
    )

    for name in ("events_drift_psi", "events_drift_ks"):
        sdf = QS[name].build(spark, str(tmp_path)).toPandas()
        osql = SQL_EVENTS_DRIFT_PSI if name.endswith("psi") else SQL_EVENTS_DRIFT_KS
        odf = con.execute(osql).df()
        assert sorted(sdf["event_type"]) == sorted(odf["event_type"]) == ["a"]
        s = sdf.sort_values("event_type").reset_index(drop=True)
        o = odf.sort_values("event_type").reset_index(drop=True)
        for col in s.columns:
            for a, b in zip(s[col], o[col]):
                assert a == b, (name, col, a, b)
        # NULLs excluded from populations (25+15 = the 40 non-null 'a'
        # rows; the global median sits inside newtype's late cluster)
        assert int(s["n_ref"][0]) == 25 and int(s["n_cur"][0]) == 15
    # the engineered jump in 'a' is strong enough to alert on both
    psi = QS["events_drift_psi"].build(spark, str(tmp_path)).collect()[0]
    ks = QS["events_drift_ks"].build(spark, str(tmp_path)).collect()[0]
    assert psi["drifted"] and ks["drifted"]


def test_matryoshka_recall_numpy_replay(spark):
    """A numpy replay of the per-prefix truncated-cosine rankings
    reproduces every recall, and the full-dim row is exactly 1.0.
    (Recall is NOT monotone in prefix length on this random fixture —
    sf0.001 reads 0.2/0.1/0.0/1.0 — because untrained embeddings have
    no MRL structure; only the exact per-dim hit counts are asserted.)"""
    import numpy as np

    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.base import QUERY_VEC_ID
    from map_reduce_implementation_spark.suite.similarity import TOP_K
    from map_reduce_implementation_spark.suite.similarity import MRL_DIMS

    emb = sorted(
        table(spark, SF0001, "embeddings").collect(), key=lambda r: r["vec_id"]
    )
    vecs = {r["vec_id"]: np.array([float(x) for x in r["embedding"]])
            for r in emb}
    qv = vecs[QUERY_VEC_ID]

    def topk(d):
        sims = []
        for vid, v in vecs.items():
            if vid == QUERY_VEC_ID:
                continue
            a, b = v[:d], qv[:d]
            s = round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 9)
            sims.append((-s, vid))
        return {vid for _, vid in sorted(sims)[:TOP_K]}

    full = topk(max(MRL_DIMS))
    rows = {r["dim"]: r for r in
            QS["similarity_matryoshka_recall"].build(spark, SF0001).collect()}
    assert set(rows) == set(MRL_DIMS)
    for d in MRL_DIMS:
        expect = len(topk(d) & full)
        assert rows[d]["hits"] == expect
        assert abs(rows[d]["recall_at_k"] - expect / TOP_K) < 1e-9
    assert rows[max(MRL_DIMS)]["recall_at_k"] == 1.0
