"""Semantic invariants for the round-5 governance wave — Python-replay
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

from .conftest import SF0001


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
