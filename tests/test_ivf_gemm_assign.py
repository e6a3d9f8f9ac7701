"""The round-7 gemm path of ``ivf_assign`` (k > gemm_threshold) must be
a faithful physical alternative to the literal-fold path: same cell for
every vector on real data (argmin can only differ where two centroids
are numerically equidistant — astronomically unlikely off synthetic
ties), same passthrough columns, and the forced-gemm two-stage retrieval
must return the identical result set as the literal-path default.

Why the path exists: the literal-fold quantizer builds a k × dim
aggregate-lambda expression tree — at k=800/dim=64 (the 100× scaling
arm's quantizer size) planning/eval never returned. Production IVF
assigns via BLAS; past ``gemm_threshold`` centroids, so do we."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_implementation_spark.operators.similarity import ivf_assign
from map_reduce_implementation_spark.sources import table

from .conftest import SF001


def _cents(e, k: int) -> list[list[float]]:
    return [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < k)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]


def test_gemm_assign_matches_literal_path(spark):
    e = table(spark, SF001, "embeddings")
    cents = _cents(e, 8)
    lit = {
        r.vec_id: r.cell
        for r in ivf_assign(e, cents).select("vec_id", "cell").collect()
    }
    gemm = {
        r.vec_id: r.cell
        for r in ivf_assign(e, cents, gemm_threshold=0)
        .select("vec_id", "cell")
        .collect()
    }
    assert lit == gemm
    # every cell used, ids preserved
    assert set(gemm.values()) == set(range(8))


def test_gemm_assign_preserves_input_columns(spark):
    e = table(spark, SF001, "embeddings")
    out = ivf_assign(e, _cents(e, 8), gemm_threshold=0)
    assert out.columns == e.columns + ["cell"]
    n = e.count()
    assert out.count() == n
    assert out.select("vec_id").distinct().count() == n


def test_gemm_assign_large_k_plans_and_runs(spark):
    """The motivating case: a quantizer size where the literal path is
    not plannable. k=200 on sf0.001 (500 vectors) must assign every
    vector to its true nearest centroid (checked against numpy)."""
    import numpy as np

    e = table(spark, SF001, "embeddings")
    cents = _cents(e, 200)
    rows = e.select("vec_id", "embedding").collect()
    C = np.asarray(cents, dtype=np.float64)
    got = {
        r.vec_id: r.cell
        for r in ivf_assign(e, cents, gemm_threshold=32)
        .select("vec_id", "cell")
        .collect()
    }
    for r in rows:
        m = np.asarray([float(x) for x in r.embedding])
        want = int(((C - m) ** 2).sum(axis=1).argmin())
        assert got[r.vec_id] == want


def test_gemm_assign_dirty_inputs_match_literal_nulls(spark):
    """Round-8 hardening (ADVICE r07): null / ragged / null-element
    vectors must yield a NULL cell on the gemm path — the literal path
    nulls the whole fold for them — instead of failing the task on
    np.stack; and a zero-row partition must pass through empty. Clean
    rows in the same dirty batch still get their true argmin."""
    import numpy as np

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    rows = [
        (0, [0.0, 0.0]),
        (1, [10.0, 10.0]),
        (2, None),  # null vector
        (3, [1.0]),  # ragged (wrong dim)
        (4, [1.0, None]),  # null element
    ]
    cents = [[0.0, 0.0], [10.0, 10.0]]
    # >2 partitions so at least one Arrow batch is empty after the
    # 5 rows land elsewhere — exercises the zero-row guard
    df = spark.createDataFrame(rows, schema).repartition(8)
    lit = {
        r.vec_id: r.cell
        for r in ivf_assign(df, cents).select("vec_id", "cell").collect()
    }
    gemm = {
        r.vec_id: r.cell
        for r in ivf_assign(df, cents, gemm_threshold=0)
        .select("vec_id", "cell")
        .collect()
    }
    assert gemm == {0: 0, 1: 1, 2: None, 3: None, 4: None}
    assert lit == gemm
    assert np is not None


def test_two_stage_retrieval_gemm_identical(spark):
    """Forcing gemm assignment through the retrieval pipeline (the
    scaling arm's configuration) returns the same (query, rank, id,
    sim) rows as the hash-graded literal-path default."""
    from map_reduce_implementation_spark.operators.similarity import _as_double
    from map_reduce_implementation_spark.suite.similarity import (
        TS_CELLS,
        TS_QMOD,
        TS_QREM,
        two_stage_retrieval,
    )

    e = table(spark, SF001, "embeddings")
    cents = _cents(e, TS_CELLS)
    qs = e.filter(F.col("vec_id") % TS_QMOD == TS_QREM).select(
        F.col("vec_id").alias("qid"), _as_double("embedding").alias("qv")
    )
    lit = sorted(
        map(tuple, two_stage_retrieval(spark, e, qs, cents).collect())
    )
    gem = sorted(
        map(
            tuple,
            two_stage_retrieval(
                spark, e, qs, cents, assign_gemm_threshold=0
            ).collect(),
        )
    )
    assert lit == gem and len(lit) > 0
