"""Embedding queries (``suite.embeddings``): int8 quantisation error,
Mahalanobis outliers, PCA power iteration, whitening and centroid drift."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

from map_reduce_implementation_spark.sources import table
from map_reduce_implementation_spark.suite import all_queries

from .conftest import SF0001, _write


QS = all_queries()


def test_int8_quantize_error_bounded_by_half_scale(spark):
    """Symmetric round-to-nearest int8: every dimension's max abs error
    is at most scale/2 (plus the clamp's one-code allowance at +max,
    which max-abs scaling never needs: |x| <= 127*scale by
    construction)."""
    rows = QS["embedding_quantize_int8"].build(spark, SF0001).collect()
    assert rows, "no dims"
    for r in rows:
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-9, r
        assert r["mean_abs_err"] <= r["max_abs_err"] + 1e-9, r


def test_mahalanobis_numpy_replay(spark):
    """An exact replay of the quantizer recipe (integer q-sums, the
    identical variance formula, quantized z²) reproduces the top-20
    ids, ranks, and 6-dp scores."""
    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.embeddings import MAHA_TOP_K

    rows = sorted(
        table(spark, SF0001, "embeddings").collect(),
        key=lambda r: r["vec_id"],
    )
    ids = [r["vec_id"] for r in rows]
    X = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    n, dim = X.shape
    Q = np.floor(X * 1e7 + 0.5).astype(np.int64)
    scores = []
    mus, vars_ = [], []
    for j in range(dim):
        s = int(Q[:, j].sum())
        ssq = int((Q[:, j].astype(object) ** 2).sum())
        mu = s / 1e7 / n
        var = (ssq / 1e14 - s / 1e7 * (s / 1e7) / n) / n
        mus.append(mu)
        vars_.append(var)
    for i in range(n):
        sq = 0
        for j in range(dim):
            if vars_[j] > 0:
                z = (X[i, j] - mus[j]) / math.sqrt(vars_[j])
                z2 = z * z
            else:
                z2 = 0.0
            sq += int(math.floor(z2 * 1e9 + 0.5))
        scores.append((sq, ids[i]))
    expect = sorted(scores, key=lambda t: (-t[0], t[1]))[:MAHA_TOP_K]

    got = sorted(
        QS["embedding_outlier_mahalanobis"].build(spark, SF0001).collect(),
        key=lambda r: r["outlier_rank"],
    )
    assert len(got) == MAHA_TOP_K
    for rank, (r, (sq, vid)) in enumerate(zip(got, expect), start=1):
        assert r["outlier_rank"] == rank
        assert r["vec_id"] == vid
        assert abs(r["maha_sq"] - round(sq / 1e9, 6)) < 1e-9


def test_whitening_standardizes(spark):
    """The whitened population must actually have ~zero mean and ~unit
    variance at the probe dimensions (the operator's entire point),
    checked by recomputing moments over the emitted columns."""
    rows = QS["embedding_whitening"].build(spark, SF0001).collect()
    assert rows
    for col in ["w0", "w5", "w10"]:
        a = np.asarray([r[col] for r in rows])
        assert abs(a.mean()) < 1e-6, col
        assert abs(a.var() - 1.0) < 1e-3, col
    norms = np.asarray([r["whitened_norm"] for r in rows])
    # E[||w||^2] == DIM by construction (sum of unit variances)
    assert abs((norms**2).mean() - 64.0) < 1.0


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


def test_pca_power_is_unit_vector(spark):
    """The returned component has unit L2 norm (it was normalized by
    the final iteration) and a positive eigenvalue estimate."""
    rows = QS["embedding_pca_power"].build(spark, SF0001).collect()
    assert len(rows) == 64
    norm2 = sum(r["pc1"] ** 2 for r in rows)
    assert abs(norm2 - 1.0) < 1e-6
    eigs = {r["eigenvalue"] for r in rows}
    assert len(eigs) == 1 and eigs.pop() > 0
