"""Vector search over the ``embeddings`` table (vec_id, embedding:
array<float>, label): exact cosine top-k, kNN joins, pair thresholds,
LSH / IVF / PQ recall, two-stage retrieval, Matryoshka truncation,
MaxSim late interaction, hard negatives, core-set selection and index
deltas.

The oracle computes the same double-precision sequential fold (DuckDB
list ops run in element order like Spark's ``aggregate``); similarities
are rounded to 9 dp on both sides. Codebooks and probe choices are
engine-reproducible (first-k rows, unique tie-break keys), so the
assignment, the ordering and the recall number are all hash-graded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.similarity import (
    _as_double,
    ann_lsh_topk,
    cosine,
    cosine_pairs,
    cosine_topk,
    ivf_assign,
    ivf_topk,
    knn_join,
)
from ..sources import table
from .base import QUERY_VEC_ID, Query, query_vec

SWEEP_PCTS = (25, 30, 35, 40)  # candidate cosine thresholds, in percent


def q_similarity_threshold_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup threshold sweep: generate the label-blocked cosine
    candidate pairs ONCE at the loosest candidate threshold
    ({min(SWEEP_PCTS)}%), then price every candidate threshold from
    that single pair set — pair count and DISTINCT docs that would be
    dropped (a doc drops when some lower-id partner reaches the
    threshold, ``dedup_embedding_cosine``'s keep rule). This is how a
    threshold is actually chosen: sweep first, run the committed dedup
    (the single-threshold siblings) after.

    Scale shape: the pair scan is the blocked O(pairs-within-block)
    pass the dedup entry already pays — amortized over ALL thresholds
    instead of re-run per candidate value, and traversed ONCE: pair
    counts and the per-doc max sims ride ONE (id2)-keyed groupBy
    (never a pairs×thresholds stream; #{{docs : max_sim ≥ τ}} ==
    COUNT(DISTINCT doc | sim ≥ τ), so no distinct-expand either) —
    measured within noise of the SINGLE-threshold dedup pass itself
    at sf0.1, i.e. all four thresholds for the price of one (the bench
    HEADLINE carries ``dedup_embedding_cosine`` alongside this entry
    so the committed run records show the pair).
    Thresholds are integer percents; each compare divides
    the SAME int literal by 100.0 in both engines, so the cutoffs are
    bit-identical doubles against the 9-dp-rounded sims."""
    from ..operators.similarity import cosine_pairs

    lo = min(SWEEP_PCTS) / 100.0
    pairs = cosine_pairs(
        table(spark, sf, "embeddings"), threshold=lo, block_col="label"
    )
    cut = lambda p: F.col("sim") >= F.lit(p) / F.lit(100.0)
    # ONE traversal of the pair stream: per-doc partial rows carry both
    # the per-threshold pair counts and the max partner sim, so the
    # expensive blocked join is never evaluated twice
    per_doc = pairs.groupBy("id2").agg(
        *[F.sum(cut(p).cast("long")).alias(f"cp{p}") for p in SWEEP_PCTS],
        F.max("sim").alias("msim"),
    )
    wide = per_doc.agg(
        *[
            F.coalesce(F.sum(f"cp{p}"), F.lit(0)).alias(f"np{p}")
            for p in SWEEP_PCTS
        ],
        *[
            F.coalesce(
                F.sum(
                    (F.col("msim") >= F.lit(p) / F.lit(100.0)).cast("long")
                ),
                F.lit(0),
            ).alias(f"nd{p}")
            for p in SWEEP_PCTS
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(p).cast("int").alias("threshold_pct"),
                F.col(f"np{p}").alias("n_pairs"),
                F.col(f"nd{p}").alias("n_dup_docs"),
            )
            for p in SWEEP_PCTS
        ]
    )
    return wide.select(F.explode(rows).alias("r")).select(
        "r.threshold_pct", "r.n_pairs", "r.n_dup_docs"
    )


_SWEEP_CP = ", ".join(
    f"SUM(CASE WHEN sim >= {p} / 100.0 THEN 1 ELSE 0 END) AS cp{p}"
    for p in SWEEP_PCTS
)
_SWEEP_NP = ", ".join(
    f"CAST(coalesce(SUM(cp{p}), 0) AS BIGINT) AS np{p}" for p in SWEEP_PCTS
)
_SWEEP_ND = ", ".join(
    f"CAST(coalesce(SUM(CASE WHEN msim >= {p} / 100.0 THEN 1 ELSE 0 END), 0)"
    f" AS BIGINT) AS nd{p}"
    for p in SWEEP_PCTS
)
_SWEEP_ROWS = " UNION ALL ".join(
    f"SELECT CAST({p} AS INTEGER) AS threshold_pct, np{p} AS n_pairs,"
    f" nd{p} AS n_dup_docs FROM wide"
    for p in SWEEP_PCTS
)

SQL_SIMILARITY_THRESHOLD_SWEEP = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
    ROUND(
      list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]))
      / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
         * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 9) AS sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id AND a.label = b.label
  WHERE ROUND(
      list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]))
      / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
         * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 9)
    >= {min(SWEEP_PCTS)} / 100.0
),
per_doc AS (
  SELECT id2, {_SWEEP_CP}, MAX(sim) AS msim FROM pairs GROUP BY id2
),
wide AS (SELECT {_SWEEP_NP}, {_SWEEP_ND} FROM per_doc)
{_SWEEP_ROWS}
"""


TOP_K = 10


def q_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force exact top-10 neighbors of vec_id=0 by cosine."""
    qv = query_vec(spark, sf)
    return cosine_topk(
        table(spark, sf, "embeddings"), qv, k=TOP_K, exclude_id=QUERY_VEC_ID
    )


# The oracle reproduces the same sequential fold in double precision.
SQL_COSINE_TOPK = f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
),
scored AS (
  SELECT e.vec_id,
    ROUND(
      list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), q.qv), x -> x[1] * x[2]))
      / (
        sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x)))
        * sqrt(list_sum(list_transform(q.qv, x -> x * x)))
      ), 9) AS sim
  FROM embeddings e, q
  WHERE e.vec_id <> {QUERY_VEC_ID}
)
SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id ASC LIMIT {TOP_K}
"""


def q_cosine_pairs_blocked(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup pairs: blocked on ``label`` so the self-join is
    per-block, never a cross product (at scale the block key is an LSH
    bucket). Threshold 0.25 — the synthetic vectors are near-orthogonal."""
    return cosine_pairs(
        table(spark, sf, "embeddings"), threshold=0.25, block_col="label"
    )


SQL_COSINE_PAIRS_BLOCKED = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT a.vec_id AS id1, b.vec_id AS id2,
  ROUND(
    list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]))
    / (
      sqrt(list_sum(list_transform(a.v, x -> x * x)))
      * sqrt(list_sum(list_transform(b.v, x -> x * x)))
    ), 9) AS sim
FROM e a JOIN e b ON a.vec_id < b.vec_id AND a.label = b.label
WHERE
  list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]))
    / (
      sqrt(list_sum(list_transform(a.v, x -> x * x)))
      * sqrt(list_sum(list_transform(b.v, x -> x * x)))
    ) >= 0.25
"""


def q_ann_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed approximate top-k (scale path). Spark-only plan
    (seeded hyperplane literals) → rows-only check; recall vs brute
    force is asserted in tests/test_similarity.py."""
    qv = query_vec(spark, sf)
    return ann_lsh_topk(
        table(spark, sf, "embeddings"), qv, k=TOP_K, n_planes=4
    ).filter(F.col("vec_id") != QUERY_VEC_ID)


def q_ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-bucketed approximate top-k (scale path #2): coarse-quantize,
    probe nprobe cells. Deterministic centroid pick → rows-only check;
    recall vs brute force asserted in tests/test_dedup_similarity.py."""
    qv = query_vec(spark, sf)
    return ivf_topk(
        table(spark, sf, "embeddings"), qv, k=TOP_K, n_cells=8, nprobe=3
    ).filter(F.col("vec_id") != QUERY_VEC_ID)


def q_knn_join(spark: SparkSession, sf: str) -> DataFrame:
    """Exact k-NN JOIN: every 50th vector is a query; each gets its
    top-3 cosine neighbors from the rest of the corpus. Queries are
    broadcast; WindowGroupLimit keeps k rows per query before the
    exchange (see operators/similarity.py::knn_join)."""
    e = table(spark, sf, "embeddings")
    return knn_join(
        e.filter(F.col("vec_id") % 50 == 0),
        e.filter(F.col("vec_id") % 50 != 0),
        k=3,
    )


SQL_KNN_JOIN = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 50 = 0
),
c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id % 50 <> 0
),
scored AS (
  SELECT q.query_id, c.neighbor_id,
    ROUND(
      list_sum(list_transform(list_zip(c.cv, q.qv), x -> x[1] * x[2]))
      / (
        sqrt(list_sum(list_transform(c.cv, x -> x * x)))
        * sqrt(list_sum(list_transform(q.qv, x -> x * x)))
      ), 9) AS sim
  FROM c CROSS JOIN q
)
SELECT query_id, neighbor_id, sim, CAST(rk AS INTEGER) AS knn_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
  FROM scored
) WHERE rk <= 3
"""


# --- ANN recall@k entries: both approximate arms graded semantically ---
#
# The production LSH/IVF arms (seeded gaussian hyperplanes, Lloyd-iterated
# centroids) are engine-specific and stay rows-only. These twins re-express
# each arm with parameters BOTH engines can derive exactly — integer-valued
# hyperplanes from a closed-form formula, first-k vectors as centroids with
# zero Lloyd iterations — so bucketing, probing, candidate scoring, AND the
# recall@k number against the exact top-k are all DuckDB-hash-verified.
# Same plan shapes and same physics as the production arms; only the
# parameter source differs.
N_PLANES = 4  # 16 buckets over 500 vectors at sf0.01
IVF_CELLS = 8
IVF_PROBE = 2


def _int_plane(i: int, dim: int) -> list[float]:
    """Hyperplane i: integer components ((i·37 + j·101) mod 19) − 9 —
    exactly representable doubles, so sign(dot) is bit-identical across
    engines (no gaussian literals to ship into the SQL)."""
    return [float(((i * 37 + j * 101) % 19) - 9) for j in range(dim)]


def q_ann_lsh_recall(spark: SparkSession, sf: str) -> DataFrame:
    """LSH recall@k, end-to-end driver-gradable: bucket every vector by
    hyperplane sign bits, keep the query's bucket, exact-score the
    candidates, and report |ANN∩exact| / k against the brute-force
    top-k. One row: (k, n_candidates, hits, recall_at_k)."""
    from ..operators.similarity import _as_double, cosine, dot, lit_vector

    e = table(spark, sf, "embeddings")
    qv = query_vec(spark, sf)
    dim = len(qv)

    def bucket_col(v):
        b = F.lit(0)
        for i in range(N_PLANES):
            p = _as_double(lit_vector(_int_plane(i, dim)))
            b = b + F.when(dot(v, p) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        return b

    emb = e.select("vec_id", _as_double("embedding").alias("v"))
    wb = emb.select("vec_id", "v", bucket_col(F.col("v")).alias("bucket"))
    # the query's bucket is N_PLANES sign bits of dots of the
    # ALREADY-collected query vector — fold them in Python (the identical
    # left-to-right IEEE fold the Catalyst `dot` runs, so the sign decisions
    # are bit-equal) instead of re-scanning the corpus for one row and
    # broadcast-joining it back; and the candidate set feeds TWO consumers
    # (the top-k sort and n_candidates), so it is checkpointed once instead
    # of replaying the bucket-assignment scan per consumer. 5 scans → 2.
    qbucket = 0
    for i in range(N_PLANES):
        acc = 0.0
        for a, b in zip(qv, _int_plane(i, dim)):
            acc = acc + a * b
        if acc >= 0:
            qbucket += 1 << i
    cand = wb.filter(
        (F.col("bucket") == F.lit(qbucket))
        & (F.col("vec_id") != QUERY_VEC_ID)
    ).localCheckpoint(eager=True)
    qlit = _as_double(lit_vector(qv))
    ann = (
        cand.select("vec_id", F.round(cosine(F.col("v"), qlit), 9).alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id")
    )
    exact = cosine_topk(e, qv, k=TOP_K, exclude_id=QUERY_VEC_ID).select("vec_id")
    hits = ann.join(exact, "vec_id").agg(F.count("*").alias("hits"))
    ncand = cand.agg(F.count("*").alias("n_candidates"))
    return ncand.crossJoin(hits).select(
        F.lit(TOP_K).alias("k"),
        "n_candidates",
        "hits",
        (F.col("hits").cast("double") / TOP_K).alias("recall_at_k"),
    )


def _sql_ann_lsh_recall() -> str:
    def plane(i: int) -> str:
        return (
            "list_transform(range(0, len(embedding)), "
            f"j -> CAST((({i}*37 + j*101) % 19) - 9 AS DOUBLE))"
        )

    terms = " + ".join(
        "(CASE WHEN list_sum(list_transform(list_zip(CAST(embedding AS DOUBLE[]), "
        f"{plane(i)}), x -> x[1] * x[2])) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(N_PLANES)
    )
    return f"""
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {terms} AS bucket FROM embeddings
),
q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = {QUERY_VEC_ID}),
cand AS (
  SELECT b.vec_id, b.v FROM b, q WHERE b.bucket = q.qbucket AND b.vec_id <> {QUERY_VEC_ID}
),
scored AS (
  SELECT c.vec_id,
    ROUND(list_sum(list_transform(list_zip(c.v, q.qv), x -> x[1] * x[2]))
      / (sqrt(list_sum(list_transform(c.v, x -> x * x)))
         * sqrt(list_sum(list_transform(q.qv, x -> x * x)))), 9) AS sim
  FROM cand c, q
),
ann AS (SELECT vec_id FROM scored ORDER BY sim DESC, vec_id ASC LIMIT {TOP_K}),
exact AS (
  SELECT e.vec_id,
    ROUND(list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), q.qv), x -> x[1] * x[2]))
      / (sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x)))
         * sqrt(list_sum(list_transform(q.qv, x -> x * x)))), 9) AS sim
  FROM embeddings e, q WHERE e.vec_id <> {QUERY_VEC_ID}
  ORDER BY sim DESC, vec_id ASC LIMIT {TOP_K}
),
h AS (SELECT COUNT(*) AS hits FROM ann JOIN exact USING (vec_id)),
nc AS (SELECT COUNT(*) AS n_candidates FROM cand)
SELECT {TOP_K} AS k, n_candidates, hits, CAST(hits AS DOUBLE) / {TOP_K} AS recall_at_k
FROM nc, h
"""


def q_ann_ivf_recall(spark: SparkSession, sf: str) -> DataFrame:
    """IVF recall@k, end-to-end driver-gradable: coarse-quantize onto
    the first-{IVF_CELLS} vectors as centroids (deterministic init,
    zero Lloyd iterations — SQL-reproducible), probe the query's
    {IVF_PROBE} nearest cells, exact-score the candidates, report
    recall vs brute force. Probe-cell choice happens driver-side from
    the same sequential-fold arithmetic both engines use (a k×dim
    scalar computation — not a collect of data rows)."""
    from ..operators.similarity import _as_double, cosine, ivf_assign, lit_vector

    e = table(spark, sf, "embeddings")
    qv = query_vec(spark, sf)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < IVF_CELLS)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]
    d2 = []
    for c in cents:
        s = 0.0
        for a, b in zip(qv, c):
            s += (a - b) * (a - b)
        d2.append(s)
    probe = [i for _, i in sorted((d, i) for i, d in enumerate(d2))[:IVF_PROBE]]
    # cand feeds two consumers (the top-k sort and n_candidates) —
    # checkpoint the probed subset once instead of replaying the corpus-wide
    # cell assignment per consumer
    cand = ivf_assign(e, cents).filter(
        F.col("cell").isin(probe) & (F.col("vec_id") != QUERY_VEC_ID)
    ).localCheckpoint(eager=True)
    qlit = _as_double(lit_vector(qv))
    ann = (
        cand.select(
            "vec_id",
            F.round(cosine(_as_double("embedding"), qlit), 9).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id")
    )
    exact = cosine_topk(e, qv, k=TOP_K, exclude_id=QUERY_VEC_ID).select("vec_id")
    hits = ann.join(exact, "vec_id").agg(F.count("*").alias("hits"))
    ncand = cand.agg(F.count("*").alias("n_candidates"))
    return ncand.crossJoin(hits).select(
        F.lit(TOP_K).alias("k"),
        "n_candidates",
        "hits",
        (F.col("hits").cast("double") / TOP_K).alias("recall_at_k"),
    )


SQL_ANN_IVF_RECALL = f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
),
cents AS (
  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < {IVF_CELLS}
),
probe AS (
  SELECT c_id FROM (
    SELECT c.c_id,
      list_sum(list_transform(list_zip(q.qv, c.cv), x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2
    FROM cents c, q
  ) ORDER BY d2 ASC, c_id ASC LIMIT {IVF_PROBE}
),
assign AS (
  SELECT vec_id, c_id AS cell FROM (
    SELECT e.vec_id, c.c_id,
      list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), c.cv),
               x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), c.cv),
                 x -> (x[1]-x[2])*(x[1]-x[2]))) ASC, c.c_id ASC) AS rk
    FROM embeddings e, cents c
  ) WHERE rk = 1
),
cand AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v
  FROM embeddings e JOIN assign a USING (vec_id)
  WHERE a.cell IN (SELECT c_id FROM probe) AND e.vec_id <> {QUERY_VEC_ID}
),
scored AS (
  SELECT c.vec_id,
    ROUND(list_sum(list_transform(list_zip(c.v, q.qv), x -> x[1] * x[2]))
      / (sqrt(list_sum(list_transform(c.v, x -> x * x)))
         * sqrt(list_sum(list_transform(q.qv, x -> x * x)))), 9) AS sim
  FROM cand c, q
),
ann AS (SELECT vec_id FROM scored ORDER BY sim DESC, vec_id ASC LIMIT {TOP_K}),
exact AS (
  SELECT e.vec_id,
    ROUND(list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), q.qv), x -> x[1] * x[2]))
      / (sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x)))
         * sqrt(list_sum(list_transform(q.qv, x -> x * x)))), 9) AS sim
  FROM embeddings e, q WHERE e.vec_id <> {QUERY_VEC_ID}
  ORDER BY sim DESC, vec_id ASC LIMIT {TOP_K}
),
h AS (SELECT COUNT(*) AS hits FROM ann JOIN exact USING (vec_id)),
nc AS (SELECT COUNT(*) AS n_candidates FROM cand)
SELECT {TOP_K} AS k, n_candidates, hits, CAST(hits AS DOUBLE) / {TOP_K} AS recall_at_k
FROM nc, h
"""


TS_CELLS = 8
TS_PROBE = 2
TS_K = 3
TS_QMOD = 100  # query batch = vec_id % 100 == 7 (bounded, scattered)
TS_QREM = 7


def two_stage_retrieval(
    spark: SparkSession,
    corpus: DataFrame,
    queries: DataFrame,
    cents: list[list[float]],
    probe: int = TS_PROBE,
    k: int = TS_K,
    assign_gemm_threshold: int = 32,
) -> DataFrame:
    """Parameterized core of ``similarity_two_stage_retrieval``.

    ``corpus`` must expose (vec_id, embedding); ``queries`` (qid, qv as
    double array). Split out so the bench's retrieval scaling
    row can hold the query batch FIXED while the corpus grows 10× —
    the production shape whose n·probe/cells candidate-volume contract
    the scaling row measures. ``assign_gemm_threshold`` passes through
    to ``ivf_assign``: the scaling arm forces the gemm
    quantizer at every point (the literal-fold expression is
    k×dim-bounded and never plans at the 100× arm's k=800), while the
    hash-graded suite query keeps the default literal path at k=8."""
    cent_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "c_id int, cv array<double>"
    )
    d2 = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wp = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("c_id"))
    probes = (
        queries.crossJoin(F.broadcast(cent_df))
        .select("qid", "qv", "c_id", d2.alias("d2"))
        .withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= probe)
        .select("qid", "qv", F.col("c_id").alias("cell"))
    )
    assign = ivf_assign(corpus, cents, gemm_threshold=assign_gemm_threshold).select(
        "vec_id", "cell", _as_double("embedding").alias("v")
    )
    scored = (
        assign.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine(F.col("v"), F.col("qv")), 9).alias("sim"),
        )
    )
    wr = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), "rank", "vec_id", "sim")
    )


def q_similarity_two_stage(spark: SparkSession, sf: str) -> DataFrame:
    """Batched two-stage retrieval: IVF candidate generation → exact
    rerank → top-{TS_K} per query, for a whole query BATCH in one plan.

    Stage 1: coarse-quantize the corpus onto the first-{TS_CELLS}
    vectors (the engine-reproducible quantizer the recall arms
    established); each query's {TS_PROBE} nearest cells are picked by a
    ROW_NUMBER over the (queries × centroids) grid — bounded rows, all
    in-plan (the single-query recall arms choose probes driver-side;
    a production batch can't afford that round trip).
    Stage 2: candidates = cell-assignment ⋈ broadcast probe table
    (each vector lives in ONE cell, so a (query, vector) pair appears
    at most once), exact cosine rerank, per-query top-{TS_K} via a
    rank window that only ever sees one query's candidates.

    100 TB shape: the corpus is scanned once for assignment (zero
    shuffles — centroids are plan literals); the only exchange is the
    rank window keyed by query id; the probe table is queries×probe
    rows, always broadcastable. Candidate volume per query is
    n·probe/cells — the IVF contract."""
    e = table(spark, sf, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < TS_CELLS)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]
    qs = e.filter(F.col("vec_id") % TS_QMOD == TS_QREM).select(
        F.col("vec_id").alias("qid"), _as_double("embedding").alias("qv")
    )
    return two_stage_retrieval(spark, e, qs, cents)


SQL_SIMILARITY_TWO_STAGE = f"""
WITH cents AS (
  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < {TS_CELLS}
),
qs AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % {TS_QMOD} = {TS_QREM}
),
probes AS (
  SELECT qid, qv, c_id AS cell FROM (
    SELECT q.qid, q.qv, c.c_id,
      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
        list_sum(list_transform(list_zip(q.qv, c.cv),
                 x -> (x[1]-x[2])*(x[1]-x[2]))) ASC, c.c_id ASC) AS rk
    FROM qs q, cents c
  ) WHERE rk <= {TS_PROBE}
),
assign AS (
  SELECT vec_id, c_id AS cell, v FROM (
    SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.c_id,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), c.cv),
                 x -> (x[1]-x[2])*(x[1]-x[2]))) ASC, c.c_id ASC) AS rk
    FROM embeddings e, cents c
  ) WHERE rk = 1
),
scored AS (
  SELECT p.qid, a.vec_id,
    ROUND(list_sum(list_transform(list_zip(a.v, p.qv), x -> x[1] * x[2]))
      / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
         * sqrt(list_sum(list_transform(p.qv, x -> x * x)))), 9) AS sim
  FROM assign a JOIN probes p USING (cell)
  WHERE a.vec_id <> p.qid
)
SELECT qid AS query_id, CAST(rk AS INTEGER) AS rank, vec_id, sim FROM (
  SELECT qid, vec_id, sim,
    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rk
  FROM scored
) WHERE rk <= {TS_K}
"""


# 64-dim embeddings → 8 subspaces × 8 dims, 16 codewords per subspace
# (codebook = sub-vectors of the first 16 vec_ids: deterministic "init
# from data" — the same SQL-reproducible trick the IVF arm uses for
# centroids, so the oracle derives the identical codebook in-query).
PQ_M = 8
PQ_SUB = 8
PQ_K = 16


def _ssd(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance (deterministic order →
    bit-identical to DuckDB's left-to-right list_sum)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def q_ann_pq_recall(spark: SparkSession, sf: str) -> DataFrame:
    """PQ-ADC recall@k, end-to-end driver-gradable.

    Plan (the 100 TB shape): the codebook is {PQ_K}×{PQ_M} sub-vectors
    derived IN-PLAN from the first {PQ_K} rows and broadcast — never a
    data-sized structure. Encoding explodes each vector into M
    sub-vectors (map-side), scores them against the broadcast codebook
    and argmins with ONE (vec_id, m)-keyed aggregate; the ADC lookup
    table (query-side distances to every codeword) is another broadcast
    of M·K rows, so scoring the whole corpus is a broadcast join + one
    vec_id-keyed fold — cost linear in vectors, and at scale the codes
    (M bytes) replace the raw floats (4·dim bytes) on disk: a 32×
    scan-volume reduction, which is the entire point of PQ. The final
    top-k is TakeOrderedAndProject. Argmin ties break to the lower
    codeword id in BOTH engines (min(struct) vs ROW_NUMBER); ADC sums
    fold in subspace order in both engines."""
    e = table(spark, sf, "embeddings")
    qv = query_vec(spark, sf)
    # loud guard: the PQ layout assumes dim == M·SUB; a silent mismatch
    # would null-pad sub-vectors on the Spark side but clamp slices on
    # the DuckDB side — fail here instead of diverging downstream
    if len(qv) != PQ_M * PQ_SUB:
        raise ValueError(
            f"PQ layout expects dim {PQ_M * PQ_SUB}, embeddings have {len(qv)}"
        )

    base = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    sub = base.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                lambda m: F.slice("v", m * PQ_SUB + 1, PQ_SUB),
            )
        ).alias("m", "sv"),
    )
    # the {PQ_K}×{PQ_M}-row codebook feeds TWO broadcasts (assignment + the
    # ADC LUT) — materialize the tiny frame once instead of replaying its
    # corpus scan per consumer
    cb = (
        sub.filter(F.col("vec_id") < PQ_K)
        .select(
            F.col("vec_id").alias("c_id"),
            F.col("m").alias("cm"),
            F.col("sv").alias("cw"),
        )
        .localCheckpoint(eager=True)
    )
    assign = (
        sub.join(F.broadcast(cb), F.col("m") == F.col("cm"))
        .select("vec_id", "m", "c_id", _ssd(F.col("sv"), F.col("cw")).alias("d2"))
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "c_id")).alias("best"))
        .select("vec_id", "m", F.col("best.c_id").alias("code"))
    )
    # ADC LUT: distance from each query SUB-vector to each codeword —
    # M·K rows, broadcast. The query arrives as a plan literal (array of
    # per-subspace arrays), indexed by the codebook's cm.
    qsubs = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in qv[m * PQ_SUB : (m + 1) * PQ_SUB]])
            for m in range(PQ_M)
        ]
    )
    lut = cb.select(
        "cm",
        "c_id",
        _ssd(F.element_at(qsubs, F.col("cm") + 1), F.col("cw")).alias("qd"),
    )
    adc = (
        assign.join(
            F.broadcast(lut),
            (F.col("m") == F.col("cm")) & (F.col("code") == F.col("c_id")),
        )
        .groupBy("vec_id")
        .agg(F.collect_list(F.struct("m", "qd")).alias("parts"))
        .select(
            "vec_id",
            F.round(
                F.aggregate(
                    F.array_sort("parts"),
                    F.lit(0.0),
                    lambda acc, s: acc + s["qd"],
                ),
                9,
            ).alias("adist"),
        )
    )
    ann = (
        adc.filter(F.col("vec_id") != QUERY_VEC_ID)
        .orderBy(F.asc("adist"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id")
    )
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    exact = (
        base.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", F.round(_ssd(F.col("v"), qlit), 9).alias("d2"))
        .orderBy(F.asc("d2"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id")
    )
    hits = ann.join(exact, "vec_id").agg(F.count("*").alias("hits"))
    return hits.select(
        F.lit(TOP_K).alias("k"),
        F.lit(PQ_M).alias("m_subspaces"),
        F.lit(PQ_K).alias("n_codewords"),
        "hits",
        (F.col("hits").cast("double") / TOP_K).alias("recall_at_k"),
    )


SQL_ANN_PQ_RECALL = f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
),
sub AS (
  SELECT vec_id, m,
    list_slice(CAST(embedding AS DOUBLE[]), m*{PQ_SUB}+1, m*{PQ_SUB}+{PQ_SUB}) AS sv
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m)
),
cb AS (SELECT vec_id AS c_id, m AS cm, sv AS cw FROM sub WHERE vec_id < {PQ_K}),
assign AS (
  SELECT vec_id, m, c_id AS code FROM (
    SELECT s.vec_id, s.m, c.c_id,
      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
        list_sum(list_transform(list_zip(s.sv, c.cw), x -> (x[1]-x[2])*(x[1]-x[2]))) ASC,
        c.c_id ASC) AS rk
    FROM sub s JOIN cb c ON s.m = c.cm
  ) WHERE rk = 1
),
lut AS (
  SELECT cm, c_id,
    list_sum(list_transform(
      list_zip(list_slice(q.qv, cm*{PQ_SUB}+1, cm*{PQ_SUB}+{PQ_SUB}), cw),
      x -> (x[1]-x[2])*(x[1]-x[2]))) AS qd
  FROM cb, q
),
adc AS (
  SELECT vec_id, ROUND(list_sum(parts), 9) AS adist FROM (
    SELECT a.vec_id, list(l.qd ORDER BY a.m) AS parts
    FROM assign a JOIN lut l ON a.m = l.cm AND a.code = l.c_id
    GROUP BY a.vec_id
  )
),
ann AS (
  SELECT vec_id FROM adc WHERE vec_id <> {QUERY_VEC_ID}
  ORDER BY adist ASC, vec_id ASC LIMIT {TOP_K}
),
exact AS (
  SELECT e.vec_id,
    ROUND(list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), q.qv),
      x -> (x[1]-x[2])*(x[1]-x[2]))), 9) AS d2
  FROM embeddings e, q WHERE e.vec_id <> {QUERY_VEC_ID}
  ORDER BY d2 ASC, vec_id ASC LIMIT {TOP_K}
),
h AS (SELECT COUNT(*) AS hits FROM ann JOIN exact USING (vec_id))
SELECT {TOP_K} AS k, {PQ_M} AS m_subspaces, {PQ_K} AS n_codewords,
  hits, CAST(hits AS DOUBLE) / {TOP_K} AS recall_at_k
FROM h
"""


# --- MaxSim late-interaction retrieval (ColBERT, Khattab & Zaharia
# 2020): multi-vector documents scored by sum-of-max token similarity.
MS_GROUP = 4  # token vectors per multi-vector doc
MS_QUERY_DOCS = 3  # first 3 mdocs (vec_id < 12) are the query set


def q_similarity_maxsim_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Late-interaction retrieval (ColBERT): documents and queries are
    BAGS of vectors (here: consecutive groups of MS_GROUP=4 embedding
    rows form one multi-vector doc, mdoc = vec_id div 4), and the
    relevance of candidate C to query Q is
    MaxSim = sum over qv in Q of max over cv in C of cos(qv, cv) —
    each query token matches its best candidate token. Completes the
    retrieval family: single-vector exact/LSH/IVF/PQ arms score
    doc-level vectors; this is the multi-vector scoring those arms
    re-rank with in a modern two-stage stack.

    Determinism recipe (the suite's graded-similarity conventions):
    cosines are sequential-fold dot products rounded to 9 dp; the
    per-query-token MAX is order-free; the sum over the 4 query
    tokens runs on floor(·1e9+0.5)-quantized LONGS (exact in any
    order) and the final score is one double division; top-5 ranks
    order by the integer sum with mdoc tie-break — every compare the
    hash sees is integer-backed.

    Scale: the query side is a broadcast (Q_docs × 4 vectors);
    the corpus side is ONE scan joined broadcast-wise (rows scored =
    corpus_vectors × query_tokens, the canonical late-interaction
    cost, cut upstream by an ANN candidate filter at production scale);
    the max/sum aggregates shuffle uniform (candidate, token) keys with
    map-side combine; the rank window sees candidate-doc counts per
    query, capped pre-exchange by WindowGroupLimit. No all-pairs term,
    no collect. Reference has no similarity ops (SURVEY §2 — EXT).
    """
    from ..operators.similarity import _as_double, cosine

    e = table(spark, sf, "embeddings").select(
        "vec_id",
        F.expr(f"vec_id div {MS_GROUP}").alias("mdoc"),
        _as_double("embedding").alias("v"),
    )
    nq = MS_GROUP * MS_QUERY_DOCS
    q = e.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("q_id"),
        F.col("mdoc").alias("q_mdoc"),
        F.col("v").alias("qv"),
    )
    c = e.filter(F.col("vec_id") >= nq)
    # the per-token max and the per-doc sum were two stacked aggregates —
    # the first shuffled on (q_mdoc, q_id, c_mdoc), whose partitioning the
    # second cannot reuse, so the (candidate × token) stream crossed TWO
    # exchanges. q_id is determined by (q_mdoc, token-slot) — q_id =
    # q_mdoc·4 + k — so one (q_mdoc, c_mdoc) aggregate with {MS_GROUP}
    # conditional maxes computes the identical cells in ONE
    # map-side-combined pass: per slot k, floor(MAX(s | tok=k)·1e9+0.5) is
    # the same b the inner groupBy produced, and SUM(b)-ignores-NULLs is
    # reproduced by summing COALESCE(b_k, 0) with an all-NULL guard (SUM
    # over an all-NULL group is NULL, not 0).
    sims = c.join(F.broadcast(q)).select(
        "q_mdoc",
        (F.col("q_id") - F.col("q_mdoc") * MS_GROUP).alias("tok"),
        F.col("mdoc").alias("c_mdoc"),
        F.round(cosine(F.col("qv"), F.col("v")), 9).alias("s"),
    )
    bs = [
        F.floor(
            F.max(F.when(F.col("tok") == k, F.col("s"))) * 1e9 + 0.5
        ).cast("long")
        for k in range(MS_GROUP)
    ]
    all_null = bs[0].isNull() & bs[1].isNull()
    for b in bs[2:]:
        all_null = all_null & b.isNull()
    total = F.coalesce(bs[0], F.lit(0))
    for b in bs[1:]:
        total = total + F.coalesce(b, F.lit(0))
    score = sims.groupBy("q_mdoc", "c_mdoc").agg(
        F.when(all_null, F.lit(None).cast("long")).otherwise(total).alias("sq")
    )
    w = Window.partitionBy("q_mdoc").orderBy(F.col("sq").desc(), F.col("c_mdoc"))
    return (
        score.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "q_mdoc",
            "c_mdoc",
            (F.col("sq").cast("double") / F.lit(1e9)).alias("maxsim_score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


SQL_SIMILARITY_MAXSIM_TOPK = f"""
WITH e AS (
  SELECT vec_id, vec_id // {MS_GROUP} AS mdoc,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
q AS (
  SELECT vec_id AS q_id, mdoc AS q_mdoc, v AS qv
  FROM e WHERE vec_id < {MS_GROUP * MS_QUERY_DOCS}
),
c AS (SELECT mdoc AS c_mdoc, v FROM e WHERE vec_id >= {MS_GROUP * MS_QUERY_DOCS}),
sims AS (
  SELECT q.q_mdoc, q.q_id, c.c_mdoc,
    ROUND(
      list_sum(list_transform(list_zip(q.qv, c.v), x -> x[1] * x[2]))
      / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
         * sqrt(list_sum(list_transform(c.v, x -> x * x)))), 9) AS s
  FROM q, c
),
best AS (
  SELECT q_mdoc, q_id, c_mdoc,
         CAST(floor(MAX(s) * 1e9 + 0.5) AS BIGINT) AS b
  FROM sims GROUP BY q_mdoc, q_id, c_mdoc
),
score AS (
  SELECT q_mdoc, c_mdoc, SUM(b) AS sq FROM best GROUP BY q_mdoc, c_mdoc
),
rk AS (
  SELECT q_mdoc, c_mdoc, sq,
    ROW_NUMBER() OVER (PARTITION BY q_mdoc ORDER BY sq DESC, c_mdoc ASC) AS rank
  FROM score
)
SELECT q_mdoc, c_mdoc,
  CAST(sq AS DOUBLE) / 1e9 AS maxsim_score,
  CAST(rank AS INTEGER) AS rank
FROM rk WHERE rank <= 5
"""


MRL_DIMS = (8, 16, 32, 64)  # nested prefix lengths, full dim last


def q_similarity_matryoshka_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka truncation evaluation (Kusupati et al. 2022, MRL):
    rank the corpus against the query using only the FIRST d dims of
    every embedding, for each nested prefix d in {MRL_DIMS}, and
    report recall@{TOP_K} against the full-dimension exact ranking —
    the table that decides how small the stored/search-time prefix can
    go before retrieval quality pays. The full-dim row is the built-in
    sanity check (recall 1.0 by construction).

    Determinism: truncated cosines are sequential folds over sliced
    arrays, ROUND(·, 9), ties broken by vec_id — the proven ANN-recall
    recipe per prefix; hit counts are exact integers.

    Scale shape: one TakeOrderedAndProject top-{TOP_K} branch per
    prefix over a column-pruned scan (the ``hybrid_rrf_topk``
    two-branch pattern, 4 branches here) — per-partition heaps, never
    a global sort; the intersections join {TOP_K}-row sets. Cost is
    |dims| pruned scans, each reading ONLY the prefix it ranks with
    once the store is truncation-laid-out."""
    from ..operators.similarity import _as_double, dot, lit_vector, norm

    e = table(spark, sf, "embeddings")
    qv = query_vec(spark, sf)

    # ALL prefix similarities come from ONE column-pruned corpus scan — each
    # row emits a (dim, sim) struct per prefix and the per-dim top-{TOP_K}
    # is a dim-partitioned rank window (WindowGroupLimit keeps ≤ K rows per
    # dim per map task before the exchange). Replaces |dims| separate scan +
    # TakeOrderedAndProject branches (4 scans → 1). The sets are IDENTICAL:
    # same per-prefix fold/ROUND(·,9) sims, and row_number over (sim DESC,
    # vec_id ASC) ≤ K selects exactly what the deterministic orderBy+limit
    # did (vec_id is unique, so the order is total).
    from pyspark.sql import Window

    def sim_at(d: int):
        v = F.slice(_as_double("embedding"), 1, d)
        q = F.slice(_as_double(lit_vector(qv)), 1, d)
        return F.round(dot(v, q) / (norm(v) * norm(q)), 9)

    sims = e.filter(F.col("vec_id") != QUERY_VEC_ID).select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("int").alias("dim"),
                        sim_at(d).alias("sim"),
                    )
                    for d in MRL_DIMS
                ]
            )
        ).alias("s"),
    ).select("vec_id", "s.dim", "s.sim")
    w = Window.partitionBy("dim").orderBy(F.desc("sim"), F.asc("vec_id"))
    ranked = (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("dim", "vec_id")
        .localCheckpoint(eager=True)  # |dims|·TOP_K rows, read twice
    )
    full = ranked.filter(F.col("dim") == max(MRL_DIMS)).select("vec_id")
    return (
        ranked.join(full.withColumn("hit", F.lit(1)), "vec_id", "left")
        .groupBy("dim")
        .agg(F.count("hit").alias("hits"))
        .select(
            "dim",
            "hits",
            (F.col("hits").cast("double") / TOP_K).alias("recall_at_k"),
        )
    )


def _mrl_oracle() -> str:

    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID})",
    ]
    sels = []
    for d in MRL_DIMS:
        sim = (
            f"ROUND(list_sum(list_transform(list_zip(e.v[1:{d}], q.qv[1:{d}]),"
            f" x -> x[1]*x[2]))"
            f" / (sqrt(list_sum(list_transform(e.v[1:{d}], x -> x*x)))"
            f" * sqrt(list_sum(list_transform(q.qv[1:{d}], x -> x*x)))), 9)"
        )
        ctes.append(
            f"t{d} AS (SELECT vec_id FROM ("
            f"SELECT e.vec_id, {sim} AS sim FROM e, q"
            f" WHERE e.vec_id <> {QUERY_VEC_ID})"
            f" ORDER BY sim DESC, vec_id ASC LIMIT {TOP_K})"
        )
    fd = max(MRL_DIMS)
    for d in MRL_DIMS:
        hit = (
            f"(SELECT COUNT(*) FROM t{d} a JOIN t{fd} b"
            f" ON a.vec_id = b.vec_id)"
        )
        sels.append(
            f"SELECT CAST({d} AS INTEGER) AS dim, {hit} AS hits,"
            f" {hit} * 1.0 / {TOP_K} AS recall_at_k"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + " UNION ALL ".join(sels)


SQL_SIMILARITY_MATRYOSHKA_RECALL = _mrl_oracle()


DELTA_MOD = 10  # vec_id % 10 == 0 is the newly-arrived batch (~10%)
DELTA_CELLS = 8  # coarse cells, first-k-of-standing-corpus centroids


def q_similarity_index_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental IVF index maintenance — the ASYMMETRIC shape a
    production vector store runs when a new embedding batch arrives:
    assign ONLY the delta (vec_id % {DELTA_MOD} == 0, ~10%) to the
    EXISTING cells (centroids = first-{DELTA_CELLS} standing-corpus
    vectors, never re-clustered), and report per cell the old
    occupancy, the arrivals, the growth, and a split-candidate flag
    (post-delta occupancy > 2× the mean — the signal that triggers
    cell re-training). The vector-side twin of ``dedup_incremental``:
    per-batch cost is O(delta × cells), the standing corpus is never
    re-assigned per batch (its occupancy is index metadata in
    production; recomputed once here so the entry is self-contained
    and the oracle exact).

    Determinism: assignment is the proven IVF recipe — sequential-fold
    squared-L2 against plan-literal centroids, ROW_NUMBER ties to the
    lowest cell id; every reported number is an integer count or one
    integer-ratio division; the split flag is a PURE INTEGER compare
    (occupancy·cells > 2·total) — no float boundary to disagree on."""
    from ..operators.similarity import ivf_assign

    e = table(spark, sf, "embeddings")
    standing = e.filter(F.col("vec_id") % DELTA_MOD != 0)
    delta = e.filter(F.col("vec_id") % DELTA_MOD == 0)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in standing.orderBy("vec_id")
        .select("embedding")
        .limit(DELTA_CELLS)
        .collect()
    ]
    # assignment is per-vector independent and standing ∪ delta = the whole
    # table, so ONE ivf_assign pass + one aggregate with conditional sums
    # replaces the two passes + full-outer join (2 embeddings scans + 2 cell
    # shuffles + 1 join → 1 scan + 1 shuffle). Equivalence: each vector
    # lands in the same cell either way; the full outer over (cells with ≥1
    # standing) / (cells with ≥1 arrival) enumerates exactly the cells with
    # ≥1 member of either kind — the groupBy's key set — and the coalesced
    # counts are the conditional sums. (A duplicate among the first-k
    # centroids still reports its standing-empty cell when arrivals route
    # there, as before. The only divergence would be SQL-null cells —
    # impossible here: ivf_assign nulls a cell only for null/null-element
    # vectors and the embeddings generator emits none at any SF.)
    is_new = (F.col("vec_id") % DELTA_MOD == 0).cast("long")
    j = (
        ivf_assign(e, cents)
        .groupBy("cell")
        .agg(
            (F.count("*") - F.sum(is_new)).alias("n_old"),
            F.sum(is_new).alias("n_new"),
        )
    )
    tot = j.agg(
        F.sum(F.col("n_old") + F.col("n_new")).alias("n_total_all")
    )
    n_total = F.col("n_old") + F.col("n_new")
    return j.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_old",
        "n_new",
        n_total.alias("n_total"),
        F.when(
            F.col("n_old") > 0, F.round(F.col("n_new") / F.col("n_old"), 6)
        ).alias("growth"),  # NULL growth for a standing-empty cell
        (n_total * DELTA_CELLS > 2 * F.col("n_total_all")).alias(
            "split_candidate"
        ),
    )


SQL_SIMILARITY_INDEX_DELTA = f"""
WITH standing AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id % {DELTA_MOD} <> 0
),
delta AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id % {DELTA_MOD} = 0
),
cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c_id, v AS cv
  FROM standing ORDER BY vec_id LIMIT {DELTA_CELLS}
),
assign_old AS (
  SELECT vec_id, c_id AS cell FROM (
    SELECT s.vec_id, c.c_id,
      ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
        list_sum(list_transform(list_zip(s.v, c.cv), x -> (x[1]-x[2])*(x[1]-x[2])))
        ASC, c.c_id ASC) AS rk
    FROM standing s, cents c
  ) WHERE rk = 1
),
assign_new AS (
  SELECT vec_id, c_id AS cell FROM (
    SELECT d.vec_id, c.c_id,
      ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
        list_sum(list_transform(list_zip(d.v, c.cv), x -> (x[1]-x[2])*(x[1]-x[2])))
        ASC, c.c_id ASC) AS rk
    FROM delta d, cents c
  ) WHERE rk = 1
),
old AS (SELECT cell, COUNT(*) AS n_old FROM assign_old GROUP BY cell),
new_ AS (SELECT cell, COUNT(*) AS n_new FROM assign_new GROUP BY cell),
j AS (
  SELECT coalesce(o.cell, n.cell) AS cell,
    CAST(coalesce(o.n_old, 0) AS BIGINT) AS n_old,
    CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new
  FROM old o FULL OUTER JOIN new_ n ON o.cell = n.cell
),
tot AS (SELECT CAST(SUM(n_old + n_new) AS BIGINT) AS n_total_all FROM j)
SELECT CAST(j.cell AS INTEGER) AS cell, j.n_old, j.n_new,
  CAST(j.n_old + j.n_new AS BIGINT) AS n_total,
  CASE WHEN j.n_old > 0 THEN ROUND(j.n_new * 1.0 / j.n_old, 6) END AS growth,
  (j.n_old + j.n_new) * {DELTA_CELLS} > 2 * tot.n_total_all AS split_candidate
FROM j, tot
"""


CORESET_K = 8  # greedy k-center selections


def q_coreset_kcenter(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985; the coreset
    active-learning selector of Sener & Savarese 2018): start from the
    lowest vec_id, then {CORESET_K}−1 times pick the vector FARTHEST
    (squared L2, vec_id tie-break) from everything already selected —
    the classic 2-approximation cover whose radius column IS the
    coverage guarantee. The diversity-first data-selection method next
    to DSIR's distribution-matching: DSIR picks lookalikes, k-center
    picks the spanning skeleton.

    Plan: the min-distance frame (vec_id, v, d) stays distributed; per
    round a TakeOrderedAndProject(1) finds the argmax, the 1-row
    winner broadcasts back, and d updates via least() — one bounded
    shuffle + one corpus map per round, localCheckpoint per round (the
    BFS/CC cadence — the frame is referenced twice per round). Nothing
    but 1-row winners ever leaves the executors. Distances are the
    proven sequential-fold ``_ssd`` (bit-identical to the oracle's
    left-to-right list_sum), so argmax compares run on identical
    doubles and ROUND 9 is display-only; the oracle unrolls the
    identical {CORESET_K} rounds as a CTE chain. (Degenerate corpora
    smaller than k re-select the lowest-id covered point at radius 0
    — identically in both engines; callers wanting distinct centers
    cap k at the corpus size.)"""
    e = table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    c0 = e.orderBy(F.asc("vec_id")).limit(1)
    sel = c0.select(
        F.lit(1).alias("sel_rank"),
        "vec_id",
        F.lit(None).cast("double").alias("radius"),
    )
    mind = (
        e.crossJoin(F.broadcast(c0.select(F.col("v").alias("cv"))))
        .select("vec_id", "v", _ssd(F.col("v"), F.col("cv")).alias("d"))
        .localCheckpoint(eager=True)
    )
    for i in range(2, CORESET_K + 1):
        nxt = mind.orderBy(F.desc("d"), F.asc("vec_id")).limit(1)
        sel = sel.unionAll(
            nxt.select(
                F.lit(i).alias("sel_rank"),
                "vec_id",
                F.round("d", 9).alias("radius"),
            )
        )
        if i < CORESET_K:
            mind = (
                mind.crossJoin(F.broadcast(nxt.select(F.col("v").alias("cv"))))
                .select(
                    "vec_id",
                    "v",
                    F.least(
                        F.col("d"), _ssd(F.col("v"), F.col("cv"))
                    ).alias("d"),
                )
                .localCheckpoint(eager=True)
            )
    return sel


def _coreset_oracle(k: int = CORESET_K) -> str:
    ssd = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " x -> (x[1] - x[2]) * (x[1] - x[2])))"
    )
    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id ASC LIMIT 1)",
        "m1 AS (SELECT e.vec_id, e.v, "
        + ssd.format(a="e.v", b="c.v")
        + " AS d FROM e CROSS JOIN c1 c)",
    ]
    for i in range(2, k + 1):
        ctes.append(
            f"c{i} AS (SELECT vec_id, v, d FROM m{i - 1}"
            " ORDER BY d DESC, vec_id ASC LIMIT 1)"
        )
        if i < k:
            ctes.append(
                f"m{i} AS (SELECT m.vec_id, m.v, least(m.d, "
                + ssd.format(a="m.v", b="c.v")
                + f") AS d FROM m{i - 1} m CROSS JOIN c{i} c)"
            )
    selects = [
        "SELECT 1 AS sel_rank, vec_id, CAST(NULL AS DOUBLE) AS radius FROM c1"
    ] + [
        f"SELECT {i} AS sel_rank, vec_id, ROUND(d, 9) AS radius FROM c{i}"
        for i in range(2, k + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


HN_SAMPLE_MOD = 50  # anchor sampling rate (similarity_knn_join's)
HN_K = 5  # hard negatives mined per anchor


def q_similarity_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR /
    SimCSE recipe, Karpukhin et al. 2020 §3.2): every
    {HN_SAMPLE_MOD}th vector is an anchor, and its {HN_K} most-similar
    corpus vectors with a DIFFERENT label are its hard negatives —
    the near-misses that make a contrastive loss learn boundaries
    instead of memorizing easy negatives.

    Plan: ``knn_join``'s score pass (``operators/similarity.py::
    exact_scores``): the anchor batch is broadcast into one corpus scan,
    each vector's norm is computed once per row rather than per pair,
    and a corpus that would stream on fewer partitions than cores (the
    embeddings table is one small file, one split) is round-robin spread
    to one partition per core so the pass runs on every core. A corpus
    that already has a partition per core, or is at least
    ``spark.sql.files.maxPartitionBytes`` × parallelism, is never
    reshuffled. The label-mismatch filter runs BEFORE the
    per-anchor rank window, so WindowGroupLimit keeps only {HN_K} rows
    per anchor per map task ahead of the exchange — the shuffle
    carries O(|anchors|·k·partitions) rows, never |anchors|×|corpus|.
    Sims follow the proven sequential-fold + ROUND 9 + vec_id
    tie-break recipe, so the mined set is deterministic and the whole
    pipeline hash-grades."""
    from ..operators.similarity import exact_scores

    e = table(spark, sf, "embeddings")
    scored = exact_scores(
        e.filter(f"vec_id % {HN_SAMPLE_MOD} = 0"),
        e.filter(f"vec_id % {HN_SAMPLE_MOD} <> 0"),
        query_cols=("label",),
        corpus_cols=("label",),
        keep="c_label <> q_label",
    ).selectExpr(
        "query_id",
        "q_label AS anchor_label",
        "neighbor_id",
        "c_label AS neighbor_label",
        "sim",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("neg_rank", F.row_number().over(w)).filter(
        F.col("neg_rank") <= HN_K
    )


SQL_SIMILARITY_HARD_NEGATIVES = f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS anchor_label,
    CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % {HN_SAMPLE_MOD} = 0
),
c AS (
  SELECT vec_id AS neighbor_id, label AS neighbor_label,
    CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id % {HN_SAMPLE_MOD} <> 0
),
scored AS (
  SELECT q.query_id, q.anchor_label, c.neighbor_id, c.neighbor_label,
    ROUND(
      list_sum(list_transform(list_zip(c.cv, q.qv), x -> x[1] * x[2]))
      / (
        sqrt(list_sum(list_transform(c.cv, x -> x * x)))
        * sqrt(list_sum(list_transform(q.qv, x -> x * x)))
      ), 9) AS sim
  FROM c CROSS JOIN q
  WHERE c.neighbor_label <> q.anchor_label
)
SELECT query_id, anchor_label, neighbor_id, neighbor_label, sim,
  CAST(rk AS INTEGER) AS neg_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
  FROM scored
) WHERE rk <= {HN_K}
"""


QUERIES: dict[str, Query] = {
    "similarity_threshold_sweep": Query(
        q_similarity_threshold_sweep, SQL_SIMILARITY_THRESHOLD_SWEEP
    ),
    "similarity_cosine_topk": Query(q_cosine_topk, SQL_COSINE_TOPK),
    "similarity_ann_recall": Query(q_ann_lsh_recall, _sql_ann_lsh_recall()),
    "similarity_ann_ivf_recall": Query(q_ann_ivf_recall, SQL_ANN_IVF_RECALL),
    "similarity_knn_join": Query(q_knn_join, SQL_KNN_JOIN),
    "similarity_cosine_pairs": Query(q_cosine_pairs_blocked, SQL_COSINE_PAIRS_BLOCKED),
    "similarity_ann_lsh": Query(q_ann_lsh_topk, None),
    "similarity_ann_ivf": Query(q_ann_ivf_topk, None),
    "similarity_two_stage_retrieval": Query(
        q_similarity_two_stage, SQL_SIMILARITY_TWO_STAGE
    ),
    "similarity_ann_pq_recall": Query(q_ann_pq_recall, SQL_ANN_PQ_RECALL),
    "similarity_hard_negatives": Query(
        q_similarity_hard_negatives, SQL_SIMILARITY_HARD_NEGATIVES
    ),
    "coreset_kcenter": Query(q_coreset_kcenter, _coreset_oracle()),
    "similarity_index_delta": Query(
        q_similarity_index_delta, SQL_SIMILARITY_INDEX_DELTA
    ),
    "similarity_matryoshka_recall": Query(
        q_similarity_matryoshka_recall, SQL_SIMILARITY_MATRYOSHKA_RECALL
    ),
    "similarity_maxsim_topk": Query(
        q_similarity_maxsim_topk, SQL_SIMILARITY_MAXSIM_TOPK
    ),
}
