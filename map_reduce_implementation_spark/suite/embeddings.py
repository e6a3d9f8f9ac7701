"""Embedding statistics and models: norms, per-dimension stats,
whitening, int8 quantisation error, centroid outliers and drift,
Mahalanobis outliers, nearest-centroid confusion, neighbour-vote label
noise, PCA by power iteration, and per-label centroids through
``applyInPandas``.

Raw float32 cells are quantised with ``floor(x·1e7 + 0.5)`` before any
cross-row sum (dyadic float32 values can sit exactly on a decimal
rounding tie where the engines disagree); within-row reductions are
sequential left folds, bit-equal between ``F.aggregate`` and DuckDB's
``list_sum``. Iterative shapes run one uniform shuffle per step with
model state in a one-row broadcast, never collected to the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.similarity import _as_double
from ..operators.similarity import dot as _fold_dot
from ..sources import table
from .base import DIM, ITERS, Query


def q_nearest_centroid_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest-centroid classifier eval: per-label mean centroids from
    tie-safe integer-quantized component sums (posexplode →
    (label, dim)-keyed agg — uniform keys, map-side combinable),
    centroids collected driver-side (labels × dim scalars, the bounded
    IVF-style collect), every vector assigned to its nearest centroid
    by the literal-fold argmin, and the confusion matrix (true,
    predicted, n) reported. Ties break to the lowest label id on both
    engines.

    Means are double-divisions of exact floor(x·1e7+0.5) integer sums
    (base.py: a raw-float32 decimal cast can land on a rounding-
    boundary tie where the engines differ by one ulp), so both engines
    materialize bit-identical centroid literals — the whole pipeline
    stays hash-exact without a single approximate compare."""
    from ..operators.similarity import _as_double

    e = table(spark, sf, "embeddings")
    comp = e.select(
        "label", F.posexplode(_as_double("embedding")).alias("pos", "x")
    )
    # float32 cells are dyadic rationals that can land EXACTLY on a
    # decimal rounding boundary, where Spark's BigDecimal HALF_UP and
    # DuckDB's float path disagree by one ulp (base.py convention, and
    # observed: 0.1983642578125 in the shipped sf0.01 data) — so
    # quantize with the modeless floor(x·1e7 + 0.5) and sum exact longs
    cent = comp.groupBy("label", "pos").agg(
        F.sum(F.floor(F.col("x") * 1e7 + 0.5).cast("long")).alias("sq"),
        F.count(F.lit(1)).alias("n"),
    )
    cvec = (
        cent.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "pos",
                            (
                                F.col("sq").cast("double")
                                / (F.lit(1e7) * F.col("n"))
                            ).alias("m"),
                        )
                    )
                ),
                lambda s: s["m"],
            ).alias("cv")
        )
        .orderBy("label")
    )
    cents = [(r["label"], [float(x) for x in r["cv"]]) for r in cvec.collect()]
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    _as_double("embedding"),
                    F.array(*[F.lit(float(x)) for x in cv]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for _, cv in cents
        ]
    )
    labels = F.array(*[F.lit(int(lbl)) for lbl, _ in cents])
    pred = e.select(
        "label",
        labels[F.array_position(dists, F.array_min(dists)) - 1].alias("pred_label"),
    )
    return (
        pred.groupBy(F.col("label").alias("true_label"), "pred_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_NEAREST_CENTROID_CONFUSION = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
comp AS (
  SELECT label, i AS pos, v[i] AS x
  FROM e, range(1, 100000) r(i) WHERE i <= len(v)
),
cent AS (
  SELECT label, pos,
    CAST(SUM(CAST(FLOOR(x * 10000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
      / (10000000.0 * COUNT(*)) AS m
  FROM comp GROUP BY label, pos
),
cvec AS (
  SELECT label, list(m ORDER BY pos) AS cv FROM cent GROUP BY label
),
assign AS (
  SELECT vec_id, c_label AS pred_label FROM (
    SELECT e.vec_id, c.label AS c_label,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        list_sum(list_transform(list_zip(e.v, c.cv),
                 x -> (x[1]-x[2])*(x[1]-x[2]))) ASC, c.label ASC) AS rk
    FROM e, cvec c
  ) WHERE rk = 1
)
SELECT e.label AS true_label, a.pred_label, COUNT(*) AS n
FROM e JOIN assign a USING (vec_id)
GROUP BY e.label, a.pred_label
"""


def q_embedding_dim_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-dimension profile of the embedding matrix (the sanity pass
    a pipeline runs before trusting a new embedding export: dead dims,
    scale drift, outliers): n, mean, min, max, variance per dimension.

    Moments use a PURE-IEEE 1e-7 quantizer: q = floor(x·1e7 + 0.5) is
    the same double multiply/add/floor in every engine — including the
    tie cases where double→DECIMAL casts diverge (Spark's exact
    BigDecimal HALF_UP vs DuckDB's float path disagreed in the last
    ulp on exactly one of 32k cells here; floor() has no modes) — and
    the integer sums that follow are exact and order-independent. One
    posexplode + one (pos)-keyed agg: uniform keys, map-side
    combinable, output rows = dimensionality."""
    from ..operators.similarity import _as_double

    e = table(spark, sf, "embeddings")
    comp = e.select(F.posexplode(_as_double("embedding")).alias("pos", "x"))
    q = F.floor(F.col("x") * F.lit(1e7) + F.lit(0.5))
    comp = comp.select("pos", "x", q.alias("q"))
    s_d = F.sum("q").cast("double")
    ssq_d = F.sum(
        F.col("q").cast("decimal(18,0)") * F.col("q").cast("decimal(18,0)")
    ).cast("double")
    n_c = F.count(F.lit(1))
    return comp.groupBy("pos").agg(
        n_c.alias("n"),
        (s_d / F.lit(1e7) / n_c).alias("mean"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.round(
            (ssq_d / F.lit(1e14) - s_d / F.lit(1e7) * (s_d / F.lit(1e7)) / n_c)
            / n_c,
            9,
        ).alias("variance"),
    )


SQL_EMBEDDING_DIM_STATS = """
WITH comp AS (
  SELECT i - 1 AS pos, v[i] AS x,
    CAST(floor(v[i] * 1e7 + 0.5) AS BIGINT) AS q
  FROM (
    SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  ), range(1, 100000) r(i) WHERE i <= len(v)
)
SELECT CAST(pos AS INTEGER) AS pos, COUNT(*) AS n,
  CAST(SUM(q) AS DOUBLE) / 1e7 / COUNT(*) AS mean,
  MIN(x) AS min_x, MAX(x) AS max_x,
  ROUND((CAST(SUM(CAST(q AS DECIMAL(18,0)) * CAST(q AS DECIMAL(18,0))) AS DOUBLE) / 1e14
         - CAST(SUM(q) AS DOUBLE) / 1e7 * (CAST(SUM(q) AS DOUBLE) / 1e7) / COUNT(*))
        / COUNT(*), 9) AS variance
FROM comp GROUP BY pos
"""


OUTLIER_TOPK = 20


def q_embedding_centroid_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space outlier ranking: top-{OUTLIER_TOPK} vectors by
    squared distance to their LABEL's centroid — the mislabel/garbage
    detector run on an embedding export before training (a vector far
    from its own class centroid is a label error or junk content).

    Determinism recipe (the probe and PCA conventions): centroids are
    per-dimension means of 1e-7-QUANTIZED cells — integer sums are
    order-independent, the final division is one IEEE op — and each
    row's distance is a SEQUENTIAL fold over the 64 dims (F.aggregate
    == list_sum). Top-k is a TakeOrderedAndProject with vec_id
    tie-break, never a global sort.

    Scale shape: one 64-column map-side-combined groupBy per label for
    the centroids (labels are bounded → the centroid table broadcasts),
    one scan computing distances, one bounded top-k."""
    from ..operators.similarity import _as_double

    e = table(spark, sf, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    q = e.select(
        "vec_id",
        "label",
        F.transform("v", lambda x: F.floor(x * F.lit(1e7) + F.lit(0.5))).alias("vq"),
    )
    DIM = 64
    sums = q.groupBy("label").agg(
        F.count("*").alias("n"),
        *[F.sum(F.col("vq")[i]).alias(f"s{i}") for i in range(DIM)],
    )
    cents = sums.select(
        "label",
        F.array(
            *[
                (F.col(f"s{i}").cast("double") / F.lit(1e7) / F.col("n")).alias(
                    f"c{i}"
                )
                for i in range(DIM)
            ]
        ).alias("cent"),
    )
    joined = e.join(F.broadcast(cents), "label")
    dist2 = F.aggregate(
        F.zip_with("v", "cent", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        joined.select(
            "vec_id", "label", F.round(dist2, 9).alias("dist2_to_centroid")
        )
        .orderBy(F.col("dist2_to_centroid").desc(), "vec_id")
        .limit(OUTLIER_TOPK)
    )


SQL_EMBEDDING_CENTROID_OUTLIERS = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (
  SELECT vec_id, label,
    list_transform(v, x -> floor(x * 1e7 + 0.5)) AS vq, v
  FROM e
),
sums AS (
  SELECT label, i AS pos, SUM(vq[i]) AS s, COUNT(*) AS n
  FROM q, range(1, 65) r(i) GROUP BY label, i
),
cents AS (
  SELECT label,
    list(CAST(s AS DOUBLE) / 1e7 / n ORDER BY pos) AS cent
  FROM sums GROUP BY label
),
d AS (
  SELECT q.vec_id, q.label,
    ROUND(list_sum(list_transform(list_zip(q.v, c.cent),
          p -> (p[1] - p[2]) * (p[1] - p[2]))), 9) AS dist2_to_centroid
  FROM q JOIN cents c USING (label)
)
SELECT vec_id, label, dist2_to_centroid
FROM d ORDER BY dist2_to_centroid DESC, vec_id LIMIT {OUTLIER_TOPK}
"""


def q_embedding_centroid_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label drift between the vec_id-parity halves: half sizes,
    L2 shift of the centroid, and the cosine between the two
    centroids (1 = direction unchanged). Labels present in only one
    half are excluded by the same predicate in both engines.

    Plan: ONE posexplode pass to (label, pos) cells carrying both
    halves' exact quantized sums and counts (map-side combinable,
    |labels|·dim cells); the L2/cosine rollup is cell-space. At
    100 TB the halves are two exports and the split column is the
    export id — same plan."""
    e = table(spark, sf, "embeddings")
    comp = e.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("a"),
        F.posexplode(_as_double("embedding")).alias("pos", "x"),
    )
    q = F.floor(F.col("x") * F.lit(1e7) + F.lit(0.5))
    cells = comp.groupBy("label", "pos").agg(
        F.sum(F.when(F.col("a"), q)).alias("sa"),
        F.count(F.when(F.col("a"), 1)).alias("na"),
        F.sum(F.when(~F.col("a"), q)).alias("sb"),
        F.count(F.when(~F.col("a"), 1)).alias("nb"),
    )
    both = cells.filter((F.col("na") > 0) & (F.col("nb") > 0))
    ma = F.col("sa") / F.lit(1e7) / F.col("na")
    mb = F.col("sb") / F.lit(1e7) / F.col("nb")
    geo = both.groupBy("label").agg(
        F.max(F.col("na")).alias("n_half_a"),
        F.max(F.col("nb")).alias("n_half_b"),
        F.sum((ma - mb) * (ma - mb)).alias("d2"),
        F.sum(ma * mb).alias("dot"),
        F.sum(ma * ma).alias("n2a"),
        F.sum(mb * mb).alias("n2b"),
    )
    return geo.select(
        "label",
        "n_half_a",
        "n_half_b",
        F.round(F.sqrt(F.col("d2")), 6).alias("centroid_l2_shift"),
        F.round(
            F.when(
                (F.col("n2a") > 0) & (F.col("n2b") > 0),
                F.col("dot")
                / (F.sqrt(F.col("n2a")) * F.sqrt(F.col("n2b"))),
            ),
            9,
        ).alias("centroid_cosine"),
    ).orderBy("label")


SQL_EMBEDDING_CENTROID_DRIFT = """
WITH comp AS (
  SELECT label, a, i - 1 AS pos,
    CAST(floor(v[i] * 1e7 + 0.5) AS BIGINT) AS q
  FROM (
    SELECT label, vec_id % 2 = 0 AS a,
      CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings
  ), range(1, 100000) r(i) WHERE i <= len(v)
),
cells AS (
  SELECT label, pos,
    CAST(SUM(CASE WHEN a THEN q END) AS BIGINT) AS sa,
    COUNT(CASE WHEN a THEN 1 END) AS na,
    CAST(SUM(CASE WHEN NOT a THEN q END) AS BIGINT) AS sb,
    COUNT(CASE WHEN NOT a THEN 1 END) AS nb
  FROM comp GROUP BY 1, 2
),
geo AS (
  SELECT label, MAX(na) AS n_half_a, MAX(nb) AS n_half_b,
    SUM((sa / 1e7 / na - sb / 1e7 / nb) * (sa / 1e7 / na - sb / 1e7 / nb))
      AS d2,
    SUM((sa / 1e7 / na) * (sb / 1e7 / nb)) AS dot,
    SUM((sa / 1e7 / na) * (sa / 1e7 / na)) AS n2a,
    SUM((sb / 1e7 / nb) * (sb / 1e7 / nb)) AS n2b
  FROM cells WHERE na > 0 AND nb > 0 GROUP BY 1
)
SELECT label, n_half_a, n_half_b,
  ROUND(sqrt(d2), 6) AS centroid_l2_shift,
  ROUND(CASE WHEN n2a > 0 AND n2b > 0
    THEN dot / (sqrt(n2a) * sqrt(n2b)) END, 9) AS centroid_cosine
FROM geo ORDER BY label
"""


NOISE_SAMPLE_MOD = 50  # every 50th vector is audited (knn_join's rate)
NOISE_K = 5  # neighbors voting per audited vector


def q_embedding_label_noise(spark: SparkSession, sf: str) -> DataFrame:
    """Label-noise sweep (kNN Confident Learning): every
    {NOISE_SAMPLE_MOD}th vector is audited (`similarity_knn_join`'s
    sampling rate — a denser audit scales cost linearly in the sample,
    6.7 s vs 1.3 s at sf0.1 for mod 10 vs 50) — its {NOISE_K} nearest
    corpus neighbors vote, the plurality label (ties: votes DESC,
    label ASC) is compared to the vector's own label, and disagreement
    flags a suspected mislabel. The flagged subset is the relabeling
    queue a data-centric cleanup prioritizes.

    Plan: the audited sample is bounded and **broadcast** into
    `knn_join`'s single corpus scan (WindowGroupLimit keeps {NOISE_K}
    rows per query before the exchange); the vote aggregate is
    |sample| x |labels| cells and the plurality window sees <=
    |labels| rows per query. At 100 TB the sample swap-in is an ANN
    candidate set (`similarity_ann_*`), same vote downstream."""
    from ..operators.similarity import knn_join

    e = table(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") % NOISE_SAMPLE_MOD == 0)
    corpus = e.filter(F.col("vec_id") % NOISE_SAMPLE_MOD != 0)
    # 
    # both labels ride through knn_join's single score pass
    # (query_cols/corpus_cols passthrough) instead of TWO extra
    # embeddings scans + joins back onto the table (8 scans / 8
    # exchanges → 2 scans / 3 exchanges at sf0.01). own_label is
    # functionally dependent on query_id, so adding it to the vote
    # groupBy changes no group; the former inner joins dropped no rows
    # (top's query_ids ⊆ q's by construction). Votes, plurality
    # tie-break, and every output cell are identical.
    nn = knn_join(
        q, corpus, k=NOISE_K, query_cols=("label",), corpus_cols=("label",)
    )
    votes = (
        nn.withColumnRenamed("c_label", "n_label")
        .groupBy("query_id", "q_label", "n_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("n_label")
    )
    return (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "query_id",
            F.col("q_label").alias("own_label"),
            F.col("n_label").alias("knn_label"),
            F.col("n_votes").alias("n_agree"),
            (F.col("n_label") != F.col("q_label")).alias("suspect"),
        )
    )


SQL_EMBEDDING_LABEL_NOISE = f"""
WITH q AS (
  SELECT vec_id AS query_id, label, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % {NOISE_SAMPLE_MOD} = 0
),
c AS (
  SELECT vec_id AS neighbor_id, label AS n_label,
    CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id % {NOISE_SAMPLE_MOD} <> 0
),
scored AS (
  SELECT q.query_id, c.neighbor_id, c.n_label,
    ROUND(
      list_sum(list_transform(list_zip(c.cv, q.qv), x -> x[1] * x[2]))
      / (
        sqrt(list_sum(list_transform(c.cv, x -> x * x)))
        * sqrt(list_sum(list_transform(q.qv, x -> x * x)))
      ), 9) AS sim
  FROM c CROSS JOIN q
),
nn AS (
  SELECT query_id, n_label FROM (
    SELECT query_id, n_label, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
    FROM scored
  ) WHERE rk <= {NOISE_K}
),
votes AS (
  SELECT query_id, n_label, COUNT(*) AS n_votes
  FROM nn GROUP BY query_id, n_label
),
top AS (
  SELECT query_id, n_label, n_votes FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY n_votes DESC, n_label ASC) AS rk
    FROM votes
  ) WHERE rk = 1
)
SELECT q.query_id, q.label AS own_label, top.n_label AS knn_label,
  top.n_votes AS n_agree, top.n_label <> q.label AS suspect
FROM q JOIN top ON q.query_id = top.query_id
"""


def q_embedding_pca_power(spark: SparkSession, sf: str) -> DataFrame:
    """Top principal component of the (mean-centered) embedding matrix
    by {ITERS} power iterations from the uniform unit vector
    v0 = 1/sqrt({DIM}) (= 0.125, exactly representable): u = C^T(C v)/n,
    v <- u/||u||. Returns the component and the eigenvalue estimate
    ||u_last|| (the Rayleigh-quotient surrogate) — the anisotropy
    check run on embedding exports before ANN indexing.

    Same distributed shape as the probe: the mean vector and every
    iterate live in 1-row broadcast DataFrames (never collected), each
    iteration is one embedding scan + one 64-key map-side-combined
    groupBy. Exact-decimal sums + sequential-fold norms keep both
    engines bit-identical through all {ITERS} normalizations."""
    e = table(spark, sf, "embeddings").select(_as_double("embedding").alias("v"))
    n = float(e.count())

    # mean via the PURE-IEEE 1e-7 quantizer (embedding_dim_stats
    # recipe): raw float32 cells are dyadic and can land exactly on a
    # decimal-cast tie, where Spark's BigDecimal HALF_UP and DuckDB's
    # float path disagree by 1 ulp (verified on this table: 1 cell at
    # sf0.01, 5 at sf0.1). floor(x*1e7+0.5) has no rounding modes.
    comp = e.select(F.posexplode("v").alias("pos", "x"))
    mu_row = (
        comp.groupBy("pos")
        .agg(
            (
                F.sum(F.floor(F.col("x") * F.lit(1e7) + F.lit(0.5))).cast("double")
                / F.lit(1e7)
                / F.lit(n)
            ).alias("m")
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("mu")
        )
        .localCheckpoint(eager=True)  # 1 row — computed once, not per iteration
    )

    v0 = 1.0 / (DIM ** 0.5)
    v_row = spark.range(1).select(
        F.array_repeat(F.lit(v0), DIM).alias("vl")
    )
    assert ITERS >= 1  # the loop must bind v_row's norm column
    for _ in range(ITERS):
        centered = e.crossJoin(F.broadcast(mu_row)).crossJoin(F.broadcast(v_row)).select(
            F.zip_with("v", "mu", lambda a, b: a - b).alias("c"), "vl"
        )
        proj = centered.select(
            "c", F.round(_fold_dot(F.col("c"), F.col("vl")), 9).alias("yv")
        )
        u = (
            proj.select(
                F.col("yv").cast("decimal(18,9)").alias("y9"),
                F.posexplode("c").alias("pos", "cx"),
            )
            .groupBy("pos")
            .agg(
                (
                    F.sum(F.round(F.col("cx"), 9).cast("decimal(18,9)") * F.col("y9"))
                    .cast("double")
                    / F.lit(n)
                ).alias("u")
            )
        )
        u_row = u.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "u"))), lambda s: s["u"]
            ).alias("ul")
        ).select(
            "ul",
            F.sqrt(
                F.aggregate(
                    F.transform("ul", lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("norm"),
        )
        v_row = u_row.select(
            F.transform("ul", lambda x: x / F.col("norm")).alias("vl"), "norm"
        ).localCheckpoint(eager=True)  # 1 row — truncates the replay chain
    return v_row.select(
        F.posexplode("vl").alias("pos", "pc1_raw"), F.col("norm")
    ).select(
        "pos",
        F.round("pc1_raw", 9).alias("pc1"),
        F.round("norm", 6).alias("eigenvalue"),
    )


def _pca_oracle() -> str:
    v0 = f"1.0 / sqrt({DIM}.0)"
    ctes = [
        "e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM e)",
        f"mu0 AS (SELECT i-1 AS pos,"
        f" CAST(SUM(CAST(floor(v[i] * 1e7 + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / 1e7 / n.cnt AS m FROM e, n, range(1,{DIM + 1}) r(i)"
        f" GROUP BY i-1, n.cnt)",
        "mu AS (SELECT list(m ORDER BY pos) AS mu FROM mu0)",
        f"v0 AS (SELECT list_transform(range(1,{DIM + 1}), i -> {v0}) AS vl)",
    ]
    prev = "v0"
    for k in range(1, ITERS + 1):
        ctes += [
            f"c{k} AS (SELECT list_transform(list_zip(v, mu.mu), p -> p[1]-p[2]) AS c"
            f" FROM e, mu)",
            f"p{k} AS (SELECT c, ROUND(list_sum(list_transform(list_zip(c, {prev}.vl),"
            f" p -> p[1]*p[2])), 9) AS yv FROM c{k}, {prev})",
            f"u{k} AS (SELECT i-1 AS pos,"
            f" CAST(SUM(CAST(ROUND(c[i],9) AS DECIMAL(18,9))"
            f" * CAST(yv AS DECIMAL(18,9))) AS DOUBLE) / n.cnt AS u"
            f" FROM p{k}, n, range(1,{DIM + 1}) r(i) GROUP BY i-1, n.cnt)",
            f"ul{k} AS (SELECT list(u ORDER BY pos) AS ul FROM u{k})",
            f"nm{k} AS (SELECT ul, sqrt(list_sum(list_transform(ul, x -> x*x)))"
            f" AS norm FROM ul{k})",
            f"v{k} AS (SELECT list_transform(ul, x -> x / norm) AS vl, norm"
            f" FROM nm{k})",
        ]
        prev = f"v{k}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT CAST(i-1 AS INTEGER) AS pos, ROUND(vl[i], 9) AS pc1,"
        f" ROUND(norm, 6) AS eigenvalue FROM v{ITERS}, range(1,{DIM + 1}) r(i)"
    )


SQL_EMBEDDING_PCA_POWER = _pca_oracle()


def q_embedding_norms(spark: SparkSession, sf: str) -> DataFrame:
    """Vector norm + dimension audit — the sanity scan a pipeline runs
    before any ANN build."""
    e = table(spark, sf, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(
            F.sqrt(
                F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
            ),
            9,
        ).alias("l2_norm"),
    )


SQL_EMBEDDING_NORMS = """
SELECT vec_id, label,
  CAST(len(embedding) AS INTEGER) AS dim,
  ROUND(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 9) AS l2_norm
FROM embeddings
"""


CENTROID_SCHEMA = "label long, c_first double, c_last double, c_norm double, n_vectors long"


def q_grouped_map_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label embedding centroid via ``applyInPandas`` (grouped-map:
    one pandas frame per group, numpy mean over the stacked vectors).
    The custom-UDAF shape used when the aggregate is a whole ndarray,
    not a scalar. At scale: one shuffle on the group key, group state
    bounded by group size × dim. Output is scalar summaries of the
    centroid (first/last dim + L2 norm of the round-6 centroid) — the
    driver's canonicalizer requires scalar cells."""

    def centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64).mean(axis=0)
        m = np.round(m, 6)
        return pd.DataFrame(
            {
                "label": [pdf["label"].iloc[0]],
                "c_first": [float(m[0])],
                "c_last": [float(m[-1])],
                "c_norm": [round(float(np.sqrt((m * m).sum())), 6)],
                "n_vectors": [len(pdf)],
            }
        )

    e = table(spark, sf, "embeddings")
    return e.groupBy("label").applyInPandas(centroid, CENTROID_SCHEMA)


SQL_GROUPED_MAP_CENTROIDS = """
WITH ex AS (
  SELECT label, i, CAST(embedding[i] AS DOUBLE) AS v, len(embedding) AS dim
  FROM embeddings, range(1, 100000) r(i)
  WHERE i <= len(embedding)
),
av AS (
  SELECT label, i, ROUND(AVG(v), 6) AS m, MAX(dim) AS dim FROM ex GROUP BY label, i
),
n AS (
  SELECT label, COUNT(*) AS n_vectors FROM embeddings GROUP BY label
)
SELECT av.label,
  MAX(CASE WHEN av.i = 1 THEN av.m END) AS c_first,
  MAX(CASE WHEN av.i = av.dim THEN av.m END) AS c_last,
  ROUND(sqrt(SUM(av.m * av.m)), 6) AS c_norm,
  n.n_vectors
FROM av JOIN n ON av.label = n.label
GROUP BY av.label, n.n_vectors
"""


DIM = 64
WHITEN_EPS = 1e-12


def q_embedding_whitening(spark: SparkSession, sf: str) -> DataFrame:
    """Per-dimension whitening (zero mean, unit variance): the
    normalization pass an embedding export goes through before indexing
    or probe training. Emits per vector the whitened values at three
    probe dimensions plus the whitened L2 norm — scalar columns the
    driver can hash (the full whitened array feeds downstream
    operators; ``multimodal_features`` set the probe-dims precedent).

    Determinism: means come from exact integer sums of 1e-7-quantized
    cells; variance is E[x²] − mean² from exact integer power sums
    (never engine-native STDDEV — its streaming update is
    order-dependent); the per-vector fold is sequential. All cross-row
    math is order-independent, all per-row math order-fixed.

    100 TB shape: one posexplode → (pos)-keyed 64-row moment aggregate
    (uniform keys, map-side combined — the ``embedding_dim_stats``
    recipe) folded into a 1-row broadcast stats frame → a zero-shuffle
    map over the corpus. A single 129-column wide aggregate over array
    extractions computes the identical stats but measured ~10× slower
    at sf0.1 (11.4 s vs 1.2 s end-to-end): 128 per-row array indexings
    + 128 decimal(38,0) accumulators in one codegen stage degrade far
    past the exploded long stream, so the narrow-agg shape wins despite
    touching 64× more (tiny) rows."""
    e = table(spark, sf, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    comp = e.select(F.posexplode("v").alias("pos", "x")).select(
        "pos", F.floor(F.col("x") * F.lit(1e7) + F.lit(0.5)).alias("q")
    )
    st = comp.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
        F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("t"),
    )
    mean_c = F.col("s").cast("double") / F.lit(1e7) / F.col("n")
    var_c = F.greatest(
        F.col("t").cast("double") / F.lit(1e14) / F.col("n") - mean_c * mean_c,
        F.lit(0.0),
    )
    per_dim = st.select(
        "pos",
        mean_c.alias("m"),
        F.sqrt(var_c + F.lit(WHITEN_EPS)).alias("sd"),
    )
    stat_row = per_dim.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("mean"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", F.col("sd").alias("m2")))),
            lambda s: s["m2"],
        ).alias("std"),
    )
    joined = e.crossJoin(F.broadcast(stat_row))
    centered = F.zip_with("v", "mean", lambda a, b: a - b)
    whitened = F.zip_with(centered, F.col("std"), lambda a, b: a / b)
    bound = joined.select("vec_id", "v", "mean", "std", whitened.alias("w"))
    wnorm = F.sqrt(
        F.aggregate(F.col("w"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return bound.select(
        "vec_id",
        F.round(F.col("w")[0], 9).alias("w0"),
        F.round(F.col("w")[5], 9).alias("w5"),
        F.round(F.col("w")[10], 9).alias("w10"),
        F.round(wnorm, 6).alias("whitened_norm"),
    )


SQL_EMBEDDING_WHITENING = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (
  SELECT vec_id, v,
    list_transform(v, x -> CAST(floor(x * 1e7 + 0.5) AS BIGINT)) AS vq
  FROM e
),
st AS (
  SELECT i AS pos, SUM(vq[i]) AS s, SUM(vq[i] * vq[i]) AS t, COUNT(*) AS n
  FROM q, range(1, {DIM + 1}) r(i) GROUP BY i
),
ms AS (
  SELECT
    list(CAST(s AS DOUBLE) / 1e7 / n ORDER BY pos) AS mean,
    list(sqrt(greatest(CAST(t AS DOUBLE) / 1e14 / n
         - (CAST(s AS DOUBLE) / 1e7 / n) * (CAST(s AS DOUBLE) / 1e7 / n), 0.0)
         + {WHITEN_EPS}) ORDER BY pos) AS std
  FROM st
),
w AS (
  SELECT e.vec_id,
    list_transform(list_zip(e.v, ms.mean, ms.std),
                   x -> (x[1] - x[2]) / x[3]) AS wl
  FROM e, ms
)
SELECT vec_id,
  ROUND(wl[1], 9) AS w0,
  ROUND(wl[6], 9) AS w5,
  ROUND(wl[11], 9) AS w10,
  ROUND(sqrt(list_sum(list_transform(wl, x -> x * x))), 6) AS whitened_norm
FROM w
"""


MAHA_TOP_K = 20


def q_embedding_outlier_mahalanobis(spark: SparkSession, sf: str) -> DataFrame:
    """Top-{MAHA_TOP_K} embedding outliers by DIAGONAL Mahalanobis
    distance — Σⱼ ((xⱼ−μⱼ)/σⱼ)², the scale-aware upgrade of the
    cosine-to-centroid outlier arm (a dimension with tiny variance
    contributes heavily when it deviates; raw L2 can't see that).

    Plan: per-dim μ/σ² come from ONE posexplode + (pos)-keyed
    aggregate using ``embedding_dim_stats``' exact quantizer recipe
    (floor(x·1e7+0.5) integer sums — order-independent, tie-mode
    free); the 64-row stats frame broadcasts back into a second
    posexplode pass; per-vector z² are quantized (floor(·1e9+0.5))
    before the vec-keyed sum so the score is an exact integer — the
    TakeOrderedAndProject top-k and its tie-break (score DESC, vec_id
    ASC) compare integers, never floats. Zero-variance dims contribute
    0 by an identical CASE guard in both engines."""
    from ..operators.similarity import _as_double

    e = table(spark, sf, "embeddings")
    comp = e.select(
        "vec_id", F.posexplode(_as_double("embedding")).alias("pos", "x")
    )
    q = F.floor(F.col("x") * F.lit(1e7) + F.lit(0.5))
    qc = comp.select("vec_id", "pos", "x", q.alias("q"))
    s_d = F.sum("q").cast("double")
    ssq_d = F.sum(
        F.col("q").cast("decimal(18,0)") * F.col("q").cast("decimal(18,0)")
    ).cast("double")
    n_c = F.count(F.lit(1))
    stats = qc.groupBy("pos").agg(
        (s_d / F.lit(1e7) / n_c).alias("mu"),
        (
            (ssq_d / F.lit(1e14) - s_d / F.lit(1e7) * (s_d / F.lit(1e7)) / n_c)
            / n_c
        ).alias("var"),
    )
    z2 = F.when(
        F.col("var") > 0,
        ((F.col("x") - F.col("mu")) / F.sqrt(F.col("var")))
        * ((F.col("x") - F.col("mu")) / F.sqrt(F.col("var"))),
    ).otherwise(F.lit(0.0))
    scored = (
        qc.join(F.broadcast(stats), "pos")
        .select(
            "vec_id",
            F.floor(z2 * F.lit(1e9) + F.lit(0.5)).cast("long").alias("z2q"),
        )
        .groupBy("vec_id")
        .agg(F.sum("z2q").alias("score_q"))
    )
    top = scored.orderBy(F.desc("score_q"), F.asc("vec_id")).limit(
        MAHA_TOP_K
    )
    w = Window.orderBy(F.desc("score_q"), F.asc("vec_id"))
    return top.select(
        F.row_number().over(w).alias("outlier_rank"),
        "vec_id",
        F.round(F.col("score_q") / F.lit(1e9), 6).alias("maha_sq"),
    )


SQL_EMBEDDING_OUTLIER_MAHALANOBIS = f"""
WITH comp AS (
  SELECT vec_id, i - 1 AS pos, v[i] AS x,
    CAST(floor(v[i] * 1e7 + 0.5) AS BIGINT) AS q
  FROM (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  ), range(1, 100000) r(i) WHERE i <= len(v)
),
stats AS (
  SELECT pos,
    CAST(SUM(q) AS DOUBLE) / 1e7 / COUNT(*) AS mu,
    (CAST(SUM(CAST(q AS DECIMAL(18,0)) * CAST(q AS DECIMAL(18,0))) AS DOUBLE) / 1e14
     - CAST(SUM(q) AS DOUBLE) / 1e7 * (CAST(SUM(q) AS DOUBLE) / 1e7) / COUNT(*))
    / COUNT(*) AS var
  FROM comp GROUP BY pos
),
scored AS (
  SELECT vec_id,
    CAST(SUM(CAST(floor(
      (CASE WHEN var > 0
        THEN ((x - mu) / sqrt(var)) * ((x - mu) / sqrt(var))
        ELSE 0.0 END) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS score_q
  FROM comp JOIN stats ON comp.pos = stats.pos
  GROUP BY vec_id
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_q DESC, vec_id ASC) AS INTEGER)
    AS outlier_rank,
  vec_id, ROUND(score_q / 1e9, 6) AS maha_sq
FROM scored
ORDER BY score_q DESC, vec_id ASC LIMIT {MAHA_TOP_K}
"""


# error quantizer for exact integer summation (base.py convention: the
# per-value error is a full-mantissa double — no float32 tie exposure —
# but SUMMING doubles is order-dependent, so sum exact ints instead)
_ERR_Q = 1_000_000_000  # 1e9: errors are < 0.5·scale ≈ 1e-2, 9 dp kept


def q_embedding_quantize_int8(spark: SparkSession, sf: str) -> DataFrame:
    """Per-dimension symmetric int8 quantization audit.

    scale_d = max|x_d| / 127; code = clamp(round-half-up(x/scale));
    reconstruction error |code·scale − x| is summed EXACTLY (1e-9
    integer quantizer, base.py convention) so the mean is partition-
    order independent. Two dim-keyed aggregates (64 cells each, fully
    map-side combinable) with a broadcast scale join between them — at
    100 TB this is two linear scans and two 64-row shuffles; the int8
    write itself (not materialized here) would be a pure map using the
    same broadcast scales. Dead dims (scale 0) encode to 0 with zero
    error rather than dividing by zero."""
    e = table(spark, sf, "embeddings")
    dims = e.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("dim", "x"),
    )
    scales = dims.groupBy("dim").agg(
        (F.max(F.abs("x")) / F.lit(127.0)).alias("scale"),
        F.count(F.lit(1)).alias("n"),
    )
    q = (
        dims.join(F.broadcast(scales), "dim")
        .select(
            "dim",
            "x",
            "scale",
            F.when(F.col("scale") == 0.0, F.lit(0))
            .otherwise(
                F.greatest(
                    F.lit(-127),
                    F.least(
                        F.lit(127),
                        F.floor(F.col("x") / F.col("scale") + 0.5).cast("int"),
                    ),
                )
            )
            .alias("code"),
        )
        .select(
            "dim",
            "scale",
            F.floor(
                F.abs(F.col("code") * F.col("scale") - F.col("x")) * _ERR_Q + 0.5
            )
            .cast("long")
            .alias("ei"),
            F.abs(F.col("code") * F.col("scale") - F.col("x")).alias("err"),
        )
    )
    # scale is constant per dim, so max() re-emits it through the final
    # aggregate — no second broadcast join needed
    return (
        q.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.round(F.max("scale"), 9).alias("scale"),
            F.round(F.max("err"), 9).alias("max_abs_err"),
            F.sum("ei").alias("esum"),
        )
        .select(
            "dim",
            "n_values",
            "scale",
            "max_abs_err",
            F.round(
                F.col("esum").cast("double")
                / F.col("n_values")
                / F.lit(float(_ERR_Q)),
                9,
            ).alias("mean_abs_err"),
        )
    )


SQL_EMBEDDING_QUANTIZE_INT8 = f"""
WITH dims AS (
  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN range(1, 4097) r(i)
  WHERE i <= len(embedding)
),
scales AS (
  SELECT dim, MAX(ABS(x)) / 127.0 AS scale, COUNT(*) AS n FROM dims GROUP BY dim
),
q AS (
  SELECT d.dim,
    CASE WHEN s.scale = 0.0 THEN 0
         ELSE GREATEST(-127, LEAST(127, CAST(FLOOR(d.x / s.scale + 0.5) AS INTEGER)))
    END AS code,
    s.scale, d.x
  FROM dims d JOIN scales s USING (dim)
),
err AS (
  SELECT dim, scale,
    CAST(FLOOR(ABS(code * scale - x) * {_ERR_Q} + 0.5) AS BIGINT) AS ei,
    ABS(code * scale - x) AS err
  FROM q
)
SELECT dim, COUNT(*) AS n_values,
  ROUND(MAX(scale), 9) AS scale,
  ROUND(MAX(err), 9) AS max_abs_err,
  ROUND(CAST(SUM(ei) AS DOUBLE) / COUNT(*) / {_ERR_Q}.0, 9) AS mean_abs_err
FROM err
GROUP BY dim
"""


QUERIES: dict[str, Query] = {
    "embedding_dim_stats": Query(q_embedding_dim_stats, SQL_EMBEDDING_DIM_STATS),
    "nearest_centroid_confusion": Query(
        q_nearest_centroid_confusion, SQL_NEAREST_CENTROID_CONFUSION
    ),
    "embedding_centroid_outliers": Query(
        q_embedding_centroid_outliers, SQL_EMBEDDING_CENTROID_OUTLIERS
    ),
    "embedding_centroid_drift": Query(
        q_embedding_centroid_drift, SQL_EMBEDDING_CENTROID_DRIFT
    ),
    "embedding_label_noise": Query(
        q_embedding_label_noise, SQL_EMBEDDING_LABEL_NOISE
    ),
    "embedding_pca_power": Query(q_embedding_pca_power, SQL_EMBEDDING_PCA_POWER),
    "embedding_norms": Query(q_embedding_norms, SQL_EMBEDDING_NORMS),
    "grouped_map_centroids": Query(q_grouped_map_centroids, SQL_GROUPED_MAP_CENTROIDS),
    "embedding_whitening": Query(q_embedding_whitening, SQL_EMBEDDING_WHITENING),
    "embedding_outlier_mahalanobis": Query(
        q_embedding_outlier_mahalanobis, SQL_EMBEDDING_OUTLIER_MAHALANOBIS
    ),
    "embedding_quantize_int8": Query(
        q_embedding_quantize_int8, SQL_EMBEDDING_QUANTIZE_INT8
    ),
}
