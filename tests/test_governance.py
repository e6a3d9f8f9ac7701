"""Governance and drift audits (``suite.quality``, ``suite.curation``,
``suite.embeddings``): split leakage, k-anonymity, label noise,
classifier buckets, the linear probe, the Gopher gate on zero-token
docs, drift, calibration and duplication inflation — Python-replay
checks proving the audits compute the RIGHT thing (the oracle gate only
proves Spark == DuckDB)."""

from __future__ import annotations

import hashlib
import math
import re

import duckdb
import numpy as np
import pandas as pd

from map_reduce_implementation_spark.suite import all_queries

from .conftest import SF0001, _write


QS = all_queries()


def _split_bucket(vec_id: int) -> int:
    return int(hashlib.md5(f"split|{vec_id}".encode()).hexdigest()[:8], 16) % 100


def _embeddings(spark):
    from map_reduce_implementation_spark.sources import table

    rows = sorted(
        table(spark, SF0001, "embeddings").collect(), key=lambda r: r["vec_id"]
    )
    ids = np.asarray([r["vec_id"] for r in rows])
    labels = np.asarray([r["label"] for r in rows])
    X = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    return ids, labels, X


def test_split_leakage_python_replay(spark):
    """A numpy all-pairs replay of the blocked cosine threshold + md5
    split reproduces every per-label leakage count."""
    from map_reduce_implementation_spark.suite.quality import LEAK_THRESHOLD, TRAIN_PCT

    ids, labels, X = _embeddings(spark)
    Xn = X / np.sqrt((X * X).sum(axis=1))[:, None]
    is_train = np.asarray([_split_bucket(int(i)) < TRAIN_PCT for i in ids])
    want = {}
    for lab in np.unique(labels):
        sel = np.nonzero(labels == lab)[0]
        n_pairs = n_cross = 0
        leaked = set()
        for a in range(len(sel)):
            for b in range(a + 1, len(sel)):
                i, j = sel[a], sel[b]
                if float(Xn[i] @ Xn[j]) >= LEAK_THRESHOLD:
                    n_pairs += 1
                    if is_train[i] != is_train[j]:
                        n_cross += 1
                        leaked.add(int(ids[j] if is_train[i] else ids[i]))
        want[int(lab)] = (n_pairs, n_cross, len(leaked),
                          int((~is_train[sel]).sum()))

    got = QS["split_leakage_audit"].build(spark, SF0001).collect()
    assert len(got) == len(want)
    for r in got:
        n_pairs, n_cross, n_leaked, n_held = want[r["label"]]
        assert (r["n_pairs"], r["n_cross_pairs"]) == (n_pairs, n_cross)
        assert (r["n_leaked_heldout"], r["n_heldout"]) == (n_leaked, n_held)
        # leakage counts nest: leaked heldout docs <= cross pairs <= pairs
        assert r["n_leaked_heldout"] <= r["n_cross_pairs"] <= r["n_pairs"]
        if n_held:
            assert abs(r["leak_share"] - n_leaked / n_held) < 1e-9


def test_k_anonymity_monotone_and_replay(spark):
    """Risk counts are non-decreasing in k, and a pandas groupby replay
    reproduces the class-size census exactly."""
    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.quality import BAL_BAND, K_LEVELS

    pdf = table(spark, SF0001, "customer").select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    ).toPandas()
    pdf["band"] = np.floor(pdf["c_acctbal"] / BAL_BAND).astype("int64")
    sizes = pdf.groupby(
        ["c_nationkey", "c_mktsegment", "band"]
    ).size().to_numpy()

    rows = {r["k"]: r for r in
            QS["k_anonymity_audit"].build(spark, SF0001).collect()}
    assert sorted(rows) == sorted(K_LEVELS)
    prev_classes = prev_rows = -1
    for k in sorted(K_LEVELS):
        r = rows[k]
        assert r["n_classes"] == len(sizes)
        assert r["n_risky_classes"] == int((sizes < k).sum())
        assert r["n_risky_rows"] == int(sizes[sizes < k].sum())
        assert r["n_risky_classes"] >= prev_classes
        assert r["n_risky_rows"] >= prev_rows
        prev_classes, prev_rows = r["n_risky_classes"], r["n_risky_rows"]


def test_label_noise_planted_mislabel(spark, tmp_path):
    """Synthetic-parquet regression (the oracle-mirror-trap pattern):
    a planted mislabel — an audited vector sitting in another class's
    tight cluster — is flagged, a correctly-labeled audited vector is
    not, and the Spark result matches the DuckDB oracle cell-for-cell
    on data the shipped tables never exercise."""
    import duckdb
    import pandas as pd

    from map_reduce_implementation_spark.suite.embeddings import (
        NOISE_SAMPLE_MOD,
        SQL_EMBEDDING_LABEL_NOISE,
    )

    rows = []
    # cluster A around [1, 0] (label 0), cluster B around [0, 1]
    # (label 1); audited ids are multiples of NOISE_SAMPLE_MOD
    for i in range(8):
        rows.append((i + 1, [1.0, 0.01 * i], 0))
        rows.append((i + 101, [0.01 * i, 1.0], 1))
    rows.append((0, [0.0, 0.99], 0))  # audited, PLANTED mislabel
    rows.append((NOISE_SAMPLE_MOD, [0.99, 0.0], 0))  # audited, correct
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    path = str(tmp_path / "embeddings.parquet")
    pdf.to_parquet(path)

    got = {
        r["query_id"]: r
        for r in QS["embedding_label_noise"].build(spark, str(tmp_path)).collect()
    }
    assert sorted(got) == [0, NOISE_SAMPLE_MOD]
    assert got[0]["suspect"] and got[0]["knn_label"] == 1
    assert not got[NOISE_SAMPLE_MOD]["suspect"]
    assert got[NOISE_SAMPLE_MOD]["knn_label"] == 0

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    odf = con.execute(SQL_EMBEDDING_LABEL_NOISE).df()
    assert len(odf) == 2
    for _, o in odf.iterrows():
        r = got[o["query_id"]]
        for col in ("own_label", "knn_label", "n_agree", "suspect"):
            assert r[col] == o[col], (col, r[col], o[col])


def test_dsir_python_replay(spark):
    """A pure-Python DSIR replay (Laplace-smoothed unigram LMs over
    the shared raw vocabulary) reproduces the selected top-N and every
    selected doc's 6-dp average log importance ratio."""
    import math
    import re

    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.curation import DSIR_TARGET_LANG, DSIR_TOP_N

    docs = sorted(
        table(spark, SF0001, "documents").select(
            "doc_id", "lang", "text"
        ).collect(),
        key=lambda r: r["doc_id"],
    )
    raw_ctf: dict[str, int] = {}
    tgt_ctf: dict[str, int] = {}
    per_doc: dict[int, list[str]] = {}
    for r in docs:
        ts = [t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t]
        per_doc[r["doc_id"]] = ts
        for t in ts:
            raw_ctf[t] = raw_ctf.get(t, 0) + 1
            if r["lang"] == DSIR_TARGET_LANG:
                tgt_ctf[t] = tgt_ctf.get(t, 0) + 1
    raw_total = sum(raw_ctf.values())
    tgt_total = sum(tgt_ctf.values())
    vocab = len(raw_ctf)
    lr = {
        t: math.log((tgt_ctf.get(t, 0) + 1) / (tgt_total + vocab))
        - math.log((c + 1) / (raw_total + vocab))
        for t, c in raw_ctf.items()
    }
    scored = sorted(
        (
            (round(sum(lr[t] for t in ts) / len(ts), 6), did, len(ts))
            for did, ts in per_doc.items()
            if ts
        ),
        key=lambda x: (-x[0], x[1]),
    )[:DSIR_TOP_N]

    got = QS["dsir_importance_sample"].build(spark, SF0001).collect()
    assert len(got) == min(DSIR_TOP_N, len(scored))
    for r, (score, did, ntok) in zip(got, scored):
        assert r["doc_id"] == did and r["n_tokens"] == ntok
        assert abs(r["avg_log_ratio"] - score) < 1e-9
    # target-slice docs should dominate the selection (the method's
    # point: selected docs look like the target distribution)
    langs = {d["doc_id"]: d["lang"] for d in docs}
    n_target = sum(1 for r in got if langs[r["doc_id"]] == DSIR_TARGET_LANG)
    assert n_target > len(got) // 2


def test_label_noise_numpy_replay(spark):
    """A numpy brute-force kNN + plurality vote reproduces every
    audited vector's verdict (9-dp rounded sims, same tie-breaks)."""
    from map_reduce_implementation_spark.suite.embeddings import NOISE_K, NOISE_SAMPLE_MOD

    ids, labels, X = _embeddings(spark)
    Xn = X / np.sqrt((X * X).sum(axis=1))[:, None]
    got = {r["query_id"]: r for r in
           QS["embedding_label_noise"].build(spark, SF0001).collect()}
    qsel = np.nonzero(ids % NOISE_SAMPLE_MOD == 0)[0]
    csel = np.nonzero(ids % NOISE_SAMPLE_MOD != 0)[0]
    assert sorted(got) == sorted(int(ids[i]) for i in qsel)
    for qi in qsel:
        sims = np.round(Xn[csel] @ Xn[qi], 9)
        order = sorted(
            range(len(csel)), key=lambda j: (-sims[j], ids[csel[j]])
        )[:NOISE_K]
        votes: dict[int, int] = {}
        for j in order:
            votes[int(labels[csel[j]])] = votes.get(int(labels[csel[j]]), 0) + 1
        knn_label, n_agree = min(
            votes.items(), key=lambda kv: (-kv[1], kv[0])
        )
        r = got[int(ids[qi])]
        assert (r["knn_label"], r["n_agree"]) == (knn_label, n_agree)
        assert r["own_label"] == int(labels[qi])
        assert r["suspect"] == (knn_label != int(labels[qi]))


def test_cross_source_overlap_cap_bites(spark, tmp_path):
    """Synthetic-parquet regression (the oracle-mirror-trap pattern):
    a boilerplate shingle shared by 25 docs (df > max_df) must NOT
    create pairs, while a planted near-dup pair across two sources
    must — and Spark matches the DuckDB oracle cell-for-cell on data
    where the cap actually bites (the shipped corpus's hottest shingle
    stays under the cap)."""
    import duckdb
    import pandas as pd

    from map_reduce_implementation_spark.suite.quality import (
        OVERLAP_MAX_DF,
        SQL_CROSS_SOURCE_OVERLAP,
    )

    boiler = "alpha beta gamma delta epsilon"  # one 5-gram shingle
    rows = []
    # 25 docs (> max_df) sharing ONLY the boilerplate shingle
    for i in range(OVERLAP_MAX_DF + 5):
        rows.append((i, boiler + f" tail{i} x{i} y{i} z{i} w{i}", "en", f"src{i % 3}", 0))
    # one true near-dup pair across two sources (identical long text)
    near = "one two three four five six seven eight nine ten eleven"
    rows.append((100, near, "en", "srcA", 0))
    rows.append((101, near + " twelve", "en", "srcB", 0))
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    path = str(tmp_path / "documents.parquet")
    pdf.to_parquet(path)

    got = QS["cross_source_overlap"].build(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["source_a"], r["source_b"]) == ("srcA", "srcB")
    assert r["n_pairs"] == 1 and r["cross_source"] and r["pair_share"] == 1.0

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    odf = con.execute(SQL_CROSS_SOURCE_OVERLAP).df()
    assert len(odf) == 1
    o = odf.iloc[0]
    assert (o["source_a"], o["source_b"]) == ("srcA", "srcB")
    assert int(o["n_pairs"]) == 1 and bool(o["cross_source"])


def test_cross_source_overlap_shares_sum(spark):
    """pair_share is a distribution over cells (sums to 1 at 6 dp)."""
    got = QS["cross_source_overlap"].build(spark, SF0001).collect()
    assert got, "corpus must contain near-dup pairs"
    assert abs(sum(r["pair_share"] for r in got) - 1.0) < 1e-4


def test_l_diversity_monotone_and_replay(spark):
    """A pandas replay over (nation, band) classes reproduces every
    l row, and risk counts are monotone non-decreasing in l."""
    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.quality import BAL_BAND, L_LEVELS

    rows = table(spark, SF0001, "customer").select(
        "c_nationkey", "c_acctbal", "c_mktsegment"
    ).collect()
    classes: dict[tuple[int, int], tuple[int, set[str]]] = {}
    for r in rows:
        key = (r["c_nationkey"], int(np.floor(r["c_acctbal"] / BAL_BAND)))
        sz, segs = classes.get(key, (0, set()))
        segs = segs | {r["c_mktsegment"]}
        classes[key] = (sz + 1, segs)

    got = sorted(
        QS["l_diversity_audit"].build(spark, SF0001).collect(),
        key=lambda r: r["l"],
    )
    assert [r["l"] for r in got] == sorted(L_LEVELS)
    prev_classes = prev_rows = -1
    for r in got:
        risky = [
            (sz, segs) for sz, segs in classes.values() if len(segs) < r["l"]
        ]
        assert r["n_classes"] == len(classes)
        assert r["n_risky_classes"] == len(risky)
        assert r["n_risky_rows"] == sum(sz for sz, _ in risky)
        assert r["n_risky_classes"] >= prev_classes
        assert r["n_risky_rows"] >= prev_rows
        prev_classes, prev_rows = r["n_risky_classes"], r["n_risky_rows"]


def test_gate_agreement_python_replay(spark):
    """Replaying the 2×2 cells from the two collected gate outputs
    reproduces every count, the kept-set Jaccard, and binary kappa."""
    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.quality import STOP_GATE_DEN
    from map_reduce_implementation_spark.suite.base import STOPWORDS_EN

    keep_a = {
        r["doc_id"]: r["keep"]
        for r in QS["gopher_quality_gate"].build(spark, SF0001).collect()
    }
    docs = table(spark, SF0001, "documents").select("doc_id", "text").collect()
    sw = set(STOPWORDS_EN)
    keep_b = {}
    for r in docs:
        ts = [t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t]
        ns = sum(1 for t in ts if t in sw)
        keep_b[r["doc_id"]] = len(ts) > 0 and ns * STOP_GATE_DEN >= len(ts)

    n = len(docs)
    a = sum(keep_a.values())
    b = sum(keep_b.values())
    both = sum(1 for d in keep_a if keep_a[d] and keep_b[d])
    po = (both + (n - a - b + both)) / n
    pe = (a * b + (n - a) * (n - b)) / (n * n)

    r = QS["quality_gate_agreement"].build(spark, SF0001).collect()[0]
    assert (r["n_docs"], r["n_keep_gopher"], r["n_keep_stopword"], r["n_both"]) == (
        n, a, b, both,
    )
    assert abs(r["keep_jaccard"] - both / (a + b - both)) < 1e-6
    assert abs(r["kappa"] - (po - pe) / (1 - pe)) < 1e-6


def test_anomaly_mad_numpy_crosscheck(spark):
    """Median/MAD and the outlier count agree with a numpy replay
    (linear-interpolation quantile == Spark percentile)."""
    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.quality import MAD_K, MAD_SCALE

    rows = {
        r["event_type"]: r
        for r in QS["events_anomaly_mad"].build(spark, SF0001).collect()
    }
    ev = table(spark, SF0001, "events").select("event_type", "value").collect()
    by_type: dict[str, list[float]] = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(r["value"])
    assert set(rows) == set(by_type)
    for t, vals in by_type.items():
        a = np.asarray(vals)
        med = float(np.quantile(a, 0.5, method="linear"))
        mad = float(np.quantile(np.abs(a - med), 0.5, method="linear"))
        n_out = int((np.abs(a - med) > MAD_K * MAD_SCALE * mad).sum())
        r = rows[t]
        assert r["n_events"] == len(vals)
        assert abs(r["median_value"] - round(med, 9)) < 1e-12
        assert abs(r["mad"] - round(mad, 9)) < 1e-12
        assert r["n_outliers"] == n_out, t


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


def F_unix_micros_col():
    from pyspark.sql import functions as F

    return F.unix_micros("ts").alias("us")


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


def _docs(tmp_path, rows):
    return _write(
        tmp_path,
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"]),
    )


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


def test_linear_probe_output_sane(spark):
    """Probe returns one weight per dimension, finite values, and a
    single accuracy in [0, 1] (0.5 = chance for the balanced target)."""
    rows = QS["embedding_linear_probe"].build(spark, SF0001).collect()
    assert len(rows) == 64
    accs = {r["train_accuracy"] for r in rows}
    assert len(accs) == 1
    assert 0.0 <= accs.pop() <= 1.0
    assert all(abs(r["weight"]) < 1e3 for r in rows)


def test_gopher_gate_survives_zero_token_docs(spark, tmp_path):
    """A doc with no [a-z0-9] tokens (pure punctuation — exactly what a
    quality gate exists to drop) must yield NULL ratios and keep=false
    in BOTH engines, not an ANSI DIVIDE_BY_ZERO (latent: the generated
    corpora contain no such docs)."""
    import duckdb

    sf = str(tmp_path)
    spark.createDataFrame(
        [
            (1, "### !!! …", "en", "web", 9),
            (2, "the and for with that this are was has not one data", "en", "web", 52),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")
    from map_reduce_implementation_spark.sources import invalidate

    invalidate(spark, sf)
    rows = {r["doc_id"]: r for r in QS["gopher_quality_gate"].build(spark, sf).collect()}
    assert rows[1]["n_words"] == 0
    assert rows[1]["mean_word_len"] is None
    assert rows[1]["symbol_ratio"] is None
    assert rows[1]["keep"] is False

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'")
    orows = {
        r[0]: r
        for r in con.execute(QS["gopher_quality_gate"].oracle).fetchall()
    }
    cols = [d[0] for d in con.execute(QS["gopher_quality_gate"].oracle).description]
    o1 = dict(zip(cols, orows[1]))
    assert o1["mean_word_len"] is None and o1["symbol_ratio"] is None
    assert bool(o1["keep"]) is False
    invalidate(spark, sf)
