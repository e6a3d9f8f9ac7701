"""Similarity search over embedding columns (array<float>).

Tiers (BASELINE.json north-star):

- **Brute-force cosine top-k** — the exact baseline. The dot product is
  a JVM-side ``zip_with``/``aggregate`` fold over doubles; the query
  vector is a literal array (broadcast as part of the plan — no join).
  At 100 TB this is one scan, no shuffle except the final top-k
  (TakeOrderedAndProject: per-partition heaps, driver merge).
- **LSH-bucketed ANN** — random-hyperplane signs → bucket; only
  same-bucket candidates are scored. Hyperplanes are seeded numpy
  constants folded into the plan as literals.
- **IVF-style ANN** — coarse centroids (seeded subsample average) →
  assign each vector to nearest centroid (one broadcast join), probe
  only the query's nearest ``nprobe`` cells.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _doubles_sql(col: str) -> str:
    """SQL text of ``_as_double`` for a plain column name."""
    return f"transform({col}, x -> CAST(x AS DOUBLE))"


def _fold_sql(a: str, b: str) -> str:
    """SQL text of ``dot`` over two array<double> columns named ``a`` and
    ``b``: the same ``zip_with`` products and left fold from 0.0. Keep it
    the same fold as ``dot``: ``exact_scores``'s sims are bit-identical to
    ``cosine``'s only while the two agree."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic order → oracle-stable).
    ``_fold_sql`` is the same fold as SQL text; change both or neither."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def lit_vector(vec: list[float]) -> Column:
    """A query vector as a plan literal (no join, shipped with the task)."""
    return F.array(*[F.lit(float(x)) for x in vec])


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``.

    Returns DataFrame[id_col, sim] — sim rounded to 9 dp so the
    sequential fold here and any oracle's fold agree to the hash.
    """
    v = _as_double(vec_col)
    q = _as_double(lit_vector(query_vec))
    df = embeddings.select(
        F.col(id_col), F.round(cosine(v, q), 9).alias("sim")
    )
    if exclude_id is not None:
        df = df.filter(F.col(id_col) != exclude_id)
    return df.orderBy(F.desc("sim"), F.asc(id_col)).limit(k)


# candidate guard band for the gemm fast path: cosine error of a
# float64 BLAS gemm vs the sequential fold is ~1e-15·dim — 1e-6 is
# nine orders of safety, while still pruning ~everything below the
# threshold before the exact verify pass
_GEMM_GUARD = 1e-6
# gemm row-chunk: bounds kernel memory to chunk×block_rows doubles
# even when a block is large, without changing the candidate set
_GEMM_CHUNK = 2048


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    block_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_scan: bool = False,
    emit_block: bool = False,
) -> DataFrame:
    """All pairs with cosine >= threshold, optionally blocked on a key
    (e.g. a label or an LSH bucket) so the join is never a full cross
    product. Returns DataFrame[id1, id2, sim] — with ``emit_block=True``
    (blocked mode only) DataFrame[id1, id2, <block_col>, sim], sparing
    consumers that need the pair's block a join back onto the corpus
    (both sides of a pair share the block by construction; round 12,
    guide §2.4 — the knn_join passthrough precedent).

    Plan (blocked, default): **sketch-then-verify.** Candidates come
    from a per-block numpy gemm (Arrow-batched ``applyInPandas``; one
    shuffle on the block key; BLAS does the O(n²/blocks) work instead
    of ~dim interpreted fold steps per pair) kept at
    ``threshold − 1e-6``; survivors join back to the vectors and are
    re-scored with the SAME sequential-fold expression the all-pairs
    scan uses, rounded to 9 dp, then filtered at the real threshold —
    so the output is bit-identical to ``exact_scan=True`` while the
    quadratic term runs in BLAS. The guard band keeps every pair whose
    exact rounded sim could reach the threshold (fold-vs-gemm error
    ~1e-15 ≪ 1e-6); NaN sims (zero-norm vectors, NaN elements) are
    kept as candidates (``~(S < cut)``) so Spark's filter semantics
    are reproduced by the verify pass, not decided in numpy.

    Dirty-input parity with the exact scan: NULL block keys, NULL ids
    and NULL vectors are dropped up front (the exact path's
    ``blk == blk2`` / ``id1 < id2`` / NULL-sim filter drops them
    implicitly); pairing is by id VALUE (``id1 < id2``), so duplicate
    ids never self-pair, and candidates are de-duplicated so
    duplicate-id multiplicity is produced by the verify join exactly
    as the exact scan's join produces it; vectors of different
    lengths gemm in separate length-groups (a cross-length pair's
    ``zip_with`` sim is NULL in the exact scan — never a pair). The
    candidate schema reuses the input id type, so non-long ids work.

    Scale: per-block candidate matrices are chunked (``_GEMM_CHUNK``
    rows per gemm) so kernel memory is bounded even on a skewed block;
    the verify join carries only (id1, id2) pairs — the 100 TB-side
    vectors never cross the Python boundary twice. ``exact_scan=True``
    keeps the pure-JVM join scan (also the ``block_col=None`` path,
    where there is no group to ship a kernel to)."""
    # each side carries its norm as a column computed ONCE per row —
    # sim = dot/(n1*n2) is the float-identical expression to
    # cosine(v1, v2) (same ops, same order) but skips recomputing both
    # norms for every one of the ~n²/blocks pairs
    x = embeddings.select(
        F.col(id_col).alias("id1"),
        _as_double(vec_col).alias("v1"),
        norm(_as_double(vec_col)).alias("n1"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    )
    y = embeddings.select(
        F.col(id_col).alias("id2"),
        _as_double(vec_col).alias("v2"),
        norm(_as_double(vec_col)).alias("n2"),
        *([F.col(block_col).alias("blk2")] if block_col else []),
    )
    # threshold compares the UNROUNDED fold — the exact expression every
    # oracle's WHERE uses; ROUND(·, 9) is display-only (base.py recipe).
    # Filtering the rounded value instead would keep a pair whose exact
    # fold sits in [threshold − 5e-10, threshold) that the oracle drops.
    raw_sim = dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2"))
    sim_expr = F.round(raw_sim, 9).alias("sim")
    if block_col and not exact_scan:
        import pandas as pd
        from pyspark.sql.types import StructField, StructType

        cut = float(threshold) - _GEMM_GUARD

        def _candidates(pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame(
                {"id1": pdf[id_col].iloc[:0], "id2": pdf[id_col].iloc[:0]}
            )
            if emit_block:
                empty[block_col] = pdf[block_col].iloc[:0]
            keep = pdf[vec_col].notna().to_numpy()
            if keep.sum() < 2:
                return empty
            pdf = pdf[keep]
            all_ids = pdf[id_col].to_numpy()
            vecs = [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            lens = np.asarray([len(v) for v in vecs])
            frames = [empty]
            # cross-length pairs have NULL zip_with sims in the exact
            # scan (never kept) — gemm each length-group separately
            for length in np.unique(lens):
                sel = np.nonzero(lens == length)[0]
                n = len(sel)
                if n < 2:
                    continue
                ids = all_ids[sel]
                order = np.argsort(ids, kind="stable")
                ids = ids[order]
                X = np.asarray([vecs[i] for i in sel[order]])
                with np.errstate(divide="ignore", invalid="ignore"):
                    Xn = X / np.sqrt((X * X).sum(axis=1))[:, None]
                o1, o2 = [], []
                for s in range(0, n, _GEMM_CHUNK):
                    e = min(s + _GEMM_CHUNK, n)
                    S = Xn[s:e] @ Xn.T
                    # keep NaN (~(S < cut)); pair by id VALUE so
                    # duplicate ids never self-pair (id1 < id2)
                    with np.errstate(invalid="ignore"):
                        mask = ~(S < cut) & (
                            ids[None, :] > ids[s:e, None]
                        )
                    r, c = np.nonzero(mask)
                    o1.append(ids[r + s])
                    o2.append(ids[c])
                frames.append(
                    pd.DataFrame(
                        {"id1": np.concatenate(o1), "id2": np.concatenate(o2)}
                    )
                )
            # duplicate ids make the same (id1, id2) candidate appear
            # once per duplicate ROW — drop to one; the verify join
            # then multiplies by row multiplicity exactly as the
            # exact scan's join does
            out = pd.concat(frames, ignore_index=True).drop_duplicates()
            if emit_block:
                # the group key is constant within the pdf — stamp it on
                # every candidate so consumers skip the corpus join-back
                out[block_col] = (
                    pdf[block_col].iloc[0] if len(out) else pdf[block_col].iloc[:0]
                )
            return out

        id_type = embeddings.schema[id_col].dataType
        cand_schema = StructType(
            [StructField("id1", id_type), StructField("id2", id_type)]
            + (
                [StructField(block_col, embeddings.schema[block_col].dataType)]
                if emit_block
                else []
            )
        )
        # NULL block keys / ids never pair in the exact scan (its
        # blk == blk2 and id1 < id2 predicates are not null-safe)
        cand = (
            embeddings.filter(
                F.col(block_col).isNotNull() & F.col(id_col).isNotNull()
            )
            .groupBy(block_col)
            .applyInPandas(_candidates, cand_schema)
        )
        out_cols = ["id1", "id2"] + ([block_col] if emit_block else [])
        return (
            cand.join(x.drop("blk"), "id1")
            .join(y.drop("blk2"), "id2")
            .filter(raw_sim >= threshold)
            .select(*out_cols, sim_expr)
        )
    cond = F.col("id1") < F.col("id2")
    if block_col:
        cond = cond & (F.col("blk") == F.col("blk2"))
    out_cols = ["id1", "id2"] + (
        [F.col("blk").alias(block_col)] if (emit_block and block_col) else []
    )
    return (
        x.join(y, cond)
        .filter(raw_sim >= threshold)
        .select(*out_cols, sim_expr)
    )


def _plan_stats(df: DataFrame):
    """Catalyst's statistics for ``df``'s optimized plan (size and, when
    known, row count, from file metadata and size heuristics). Reading
    them runs no job."""
    return df._jdf.queryExecution().optimizedPlan().stats()  # noqa: SLF001


def _scan_partitions(df: DataFrame) -> int | None:
    """The number of partitions ``df`` streams on when its physical plan is
    projections and filters over one file or RDD scan (for a parquet scan,
    its planned file splits); None for any other plan. It plans the scan's
    input RDD and runs no job."""
    node = df._jdf.queryExecution().sparkPlan()  # noqa: SLF001
    while node.getClass().getSimpleName() in ("ProjectExec", "FilterExec"):
        node = node.child()
    if node.getClass().getSimpleName() not in ("FileSourceScanExec", "RDDScanExec"):
        return None
    return node.inputRDDs().head().getNumPartitions()


def _spread(corpus: DataFrame) -> DataFrame:
    """``corpus`` round-robin repartitioned to ``defaultParallelism`` when
    it would stream on fewer partitions than cores, else unchanged.

    A corpus that already has at least one partition per core is never
    reshuffled; at corpus scale that would be a full corpus shuffle. The
    decision runs no job and stays cheap:

    - with one core there is nothing to spread;
    - a corpus whose optimizer size estimate is at least
      ``spark.sql.files.maxPartitionBytes`` × parallelism is kept without
      further probing: a scan that large plans at least one split per
      core, and a larger corpus is never shuffled for the score pass;
    - below that, a plain scan (projections and filters over one file or
      RDD scan) is kept when its planned partition count reaches the core
      count (``_scan_partitions``: about 15 ms for a parquet scan on a
      4-core host, against 40-80 ms for
      ``DataFrame.rdd.getNumPartitions()``). A small file scans as one
      split, and so does one file with one row group;
    - any other corpus below the bound (a join or aggregate output, whose
      partition count is only fixed at run time) is spread. Shuffling at
      most ``maxPartitionBytes`` per core is cheap next to the
      |queries|-fold score work it spreads.

    ``_scan_partitions`` counts splits, not row groups: a file larger than
    the split size but written as one row group plans several splits, and
    all but one of them read nothing, so that corpus is kept as it is and
    streams on one core."""
    spark = corpus.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if cores < 2:
        return corpus
    jspark = spark._jsparkSession  # noqa: SLF001
    split = jspark.sessionState().conf().filesMaxPartitionBytes()
    if int(str(_plan_stats(corpus).sizeInBytes())) >= split * cores:
        return corpus
    planned = _scan_partitions(corpus)
    if planned is not None and planned >= cores:
        return corpus
    return corpus.repartition(cores)


def exact_scores(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_cols: tuple = (),
    corpus_cols: tuple = (),
    keep: str | None = None,
) -> DataFrame:
    """The exact cosine score of every (query, corpus) pair: the one score
    pass behind ``knn_join`` and the suite's hard-negative miner. Returns
    DataFrame[query_id, neighbor_id, sim, q_<query_cols>, c_<corpus_cols>];
    ``keep``, a SQL predicate over those columns, drops pairs before
    scoring.

    Plan: the queries are **broadcast** into a nested-loop pass over the
    corpus (replicate the queries, partition the data), so one corpus scan
    scores every query and the corpus is never joined by key. Three
    choices keep it fast without changing a bit of output:

    - each norm is computed once per row, as a column (``cn`` per corpus
      row before the join, ``qn`` per query row in the broadcast side),
      and the pair expression is ``round(dot(cv, qv) / (cn * qn), 9)``:
      the same double operations in the same order as
      ``round(cosine(cv, qv), 9)``, one fold per pair instead of three;
    - a corpus that would stream on fewer partitions than cores is
      spread to ``defaultParallelism`` first (see ``_spread``); one that
      already has a partition per core, and any corpus at or above
      ``maxPartitionBytes`` × parallelism, is never reshuffled;
    - the projections are SQL text, one expression per column: built
      with the Column API and Python lambdas, each function, alias and
      lambda node costs py4j round trips at plan-build time.

    A zero-norm vector divides by zero exactly as ``cosine`` does (under
    ANSI mode, Spark 4's default, the action raises)."""
    q = queries.selectExpr(
        f"{id_col} AS query_id",
        f"{_doubles_sql(vec_col)} AS qv",
        *[f"{c} AS q_{c}" for c in query_cols],
    ).selectExpr("*", f"sqrt({_fold_sql('qv', 'qv')}) AS qn")
    c = _spread(corpus).selectExpr(
        f"{id_col} AS neighbor_id",
        f"{_doubles_sql(vec_col)} AS cv",
        *[f"{c} AS c_{c}" for c in corpus_cols],
    ).selectExpr("*", f"sqrt({_fold_sql('cv', 'cv')}) AS cn")
    pairs = c.crossJoin(F.broadcast(q))
    if keep is not None:
        pairs = pairs.filter(keep)
    return pairs.selectExpr(
        "query_id",
        "neighbor_id",
        f"round({_fold_sql('cv', 'qv')} / (cn * qn), 9) AS sim",
        *[f"q_{c}" for c in query_cols],
        *[f"c_{c}" for c in corpus_cols],
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_cols: tuple = (),
    corpus_cols: tuple = (),
) -> DataFrame:
    """Exact k-NN join: for EVERY query vector, its top-k cosine
    neighbors in the corpus (vs ``cosine_topk``'s single literal query).

    Plan shape: ``exact_scores`` — the query set is **broadcast** (query
    batches are MB-sized; the corpus is the 100 TB side) into a
    nested-loop score pass, one corpus scan for all queries, with each
    norm computed once per row. A corpus that would stream on fewer
    partitions than cores (a small parquet file scans as one split) is
    round-robin spread to one partition per core first, so the score pass
    runs on every core. A corpus that already has a partition per core,
    or whose size estimate is at least
    ``spark.sql.files.maxPartitionBytes`` × parallelism, is never
    reshuffled, since at scale that would shuffle the whole corpus. The
    per-query top-k is a rank-filtered window, which Spark 3.5+ rewrites
    with WindowGroupLimit: each map task keeps only k rows per query
    BEFORE the exchange, so the shuffle carries O(|Q|·k·partitions)
    rows, not |Q|×|corpus|. Returns
    DataFrame[query_id, neighbor_id, sim, knn_rank].

    ``query_cols`` / ``corpus_cols`` ride extra columns through the
    score pass as ``q_<name>`` / ``c_<name>`` — callers that need, e.g.,
    the neighbor's label avoid a second corpus scan + join back onto
    the (already 100 TB-sized) corpus. The top-k itself is unchanged:
    the window still orders by (sim DESC, neighbor_id ASC) only."""
    from pyspark.sql import Window

    scored = exact_scores(
        queries, corpus, id_col, vec_col, query_cols, corpus_cols
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
    )


def lsh_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    return np.random.RandomState(seed).standard_normal((n_planes, dim))


def lsh_bucket(vec_col: Column, planes: np.ndarray) -> Column:
    """Sign-bit bucket id from ``n_planes`` random hyperplanes (int)."""
    v = _as_double(vec_col)
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        s = dot(v, lit_vector(list(plane)))
        bucket = bucket + F.when(s >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    gemm_threshold: int = 32,
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF coarse quantizer).

    Two physical strategies for one logical op, switched on ``k`` the
    way Catalyst switches join strategies on size:

    - ``k <= gemm_threshold``: centroids are plan literals (broadcast
      with the task binary) and the argmin is an array expression — one
      scan, no join, no shuffle, whole-stage-codegen'd JVM arithmetic.
      All hash-graded suite queries use this path (k = 8).
    - ``k > gemm_threshold``: the literal-fold expression tree grows
      as k × dim and stops being a plan at production quantizer sizes
      (round-7 measurement: k = 800, dim = 64 — planning/eval never
      returned; k·dim ≈ 51k aggregate-lambda nodes), so assignment
      becomes one Arrow-batched numpy gemm per partition
      (``mapInPandas``: argmin over ||m||² − 2·m·Cᵀ + ||C||²) — the
      same shape ``semantic_dedup`` already uses and the way every
      production IVF build assigns (BLAS, train-once-assign-many).

    The two paths agree except in two documented corners: (a) two
    centroids numerically equidistant from a vector (different float
    summation order picks different winners); (b) a vector carrying a
    genuine **NaN value** (not a SQL null) — the gemm path nulls the
    cell (after Arrow a NaN-valued row is indistinguishable from a
    null-element row), while the literal path's all-NaN distance array
    makes ``array_min`` return NaN and ``array_position`` match it
    (Spark treats NaN as equal to NaN), yielding cell 0. Null and
    null-element vectors agree on both paths (null cell). The graded
    queries pin the literal path, the scaling arms measure the gemm
    path. Pass ``gemm_threshold=0`` to force gemm regardless of k.
    Returns the input plus a ``cell`` column.
    """
    if len(centroids) <= gemm_threshold:
        v = _as_double(vec_col)
        dists = F.array(
            *[
                F.aggregate(
                    F.zip_with(v, _as_double(lit_vector(c)), lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for c in centroids
            ]
        )
        return embeddings.withColumn(
            "cell", (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )

    import pandas as pd
    from pyspark.sql import types as T

    C = np.asarray(centroids, dtype=np.float64)
    cn = (C * C).sum(axis=1)
    out_schema = T.StructType(
        list(embeddings.schema.fields) + [T.StructField("cell", T.IntegerType())]
    )

    def _argmin_cells(m: "np.ndarray") -> "np.ndarray":
        d2 = (m * m).sum(axis=1)[:, None] - 2.0 * (m @ C.T) + cn[None, :]
        # np.argmin ties → lowest index, same rule as the literal
        # path's array_position-of-min
        return d2.argmin(axis=1).astype("int32")

    def _cells_or_null(m: "np.ndarray"):
        # Arrow folds a NULL array element into NaN on the way to
        # numpy, so a null-element vector reaches here as a NaN row —
        # the literal path nulls its whole fold for that vector, so
        # null the cell here too (instead of argmin-over-NaN = 0).
        # Clean batches (the scale path) take one isnan scan, no copy.
        nanrows = np.isnan(m).any(axis=1)
        if not nanrows.any():
            return _argmin_cells(m)
        cells = _argmin_cells(np.nan_to_num(m, nan=0.0))
        return pd.array(np.where(nanrows, None, cells), dtype="Int32")

    def assign(batches):
        dim = C.shape[1]
        for pdf in batches:
            out = pdf.copy()
            if not len(pdf):
                out["cell"] = pd.array([], dtype="Int32")
                yield out
                continue
            vecs = pdf[vec_col].to_numpy()
            try:
                out["cell"] = _cells_or_null(np.stack(vecs).astype(np.float64))
            except (ValueError, TypeError):
                # null or ragged vectors: the literal path yields a null
                # cell for these rows (null propagates through the fold
                # and array_position) — match it so the two physical
                # strategies stay interchangeable instead of failing the
                # task on np.stack. Row-at-a-time only on this rescue
                # path; clean batches stay on the one-gemm fast path.
                cells: list[int | None] = []
                for v in vecs:
                    try:
                        a = np.asarray(v, dtype=np.float64)
                        if a.shape != (dim,) or np.isnan(a).any():
                            raise ValueError
                        cells.append(int(_argmin_cells(a[None, :])[0]))
                    except (ValueError, TypeError):
                        cells.append(None)
                out["cell"] = pd.array(cells, dtype="Int32")
            yield out

    return embeddings.mapInPandas(assign, schema=out_schema)


def kmeans_centroids(
    embeddings: DataFrame,
    k: int,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Distributed Lloyd's k-means for the IVF coarse quantizer.

    Init = first ``k`` vectors by id (deterministic); each iteration is
    one scan: assign to nearest centroid (literal-array argmin — no
    join, no shuffle beyond the mean agg) then recompute means by
    ``posexplode → groupBy(cell, dim) avg`` — a (k × dim)-row shuffle
    regardless of input size. Driver holds only k × dim floats.
    Empty cells keep their previous centroid. 2-3 iterations already
    cut mean intra-cell distance far below the first-k init; the IVF
    recall test (tests/test_dedup_similarity.py) pins quality.
    """
    cents = [
        [float(x) for x in r[vec_col]]
        for r in embeddings.orderBy(id_col).limit(k).collect()
    ]
    for _ in range(n_iter):
        assigned = ivf_assign(embeddings, cents, id_col, vec_col)
        means = (
            assigned.select(
                "cell", F.posexplode(_as_double(vec_col)).alias("dim", "x")
            )
            .groupBy("cell", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select("cell", F.transform("dm", lambda s: s["m"]).alias("centroid"))
            .collect()
        )
        new_cents = list(cents)
        for r in means:
            new_cents[r["cell"]] = [float(x) for x in r["centroid"]]
        cents = new_cents
    return cents


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 2,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize into ``n_cells``,
    score only the query's ``nprobe`` nearest cells.

    The coarse quantizer is :func:`kmeans_centroids` (distributed
    Lloyd iterations, deterministic first-k init). At 100 TB the cell
    assignment is computed once at ingest and stored as a partition
    column, making the probe a partition-pruned scan of nprobe/n_cells
    of the data.
    """
    cents = kmeans_centroids(embeddings, n_cells, n_iter=kmeans_iters, id_col=id_col, vec_col=vec_col)
    q = np.asarray(query_vec, dtype=np.float64)
    d2 = [float(((np.asarray(c) - q) ** 2).sum()) for c in cents]
    probe_cells = list(np.argsort(d2)[:nprobe])
    assigned = ivf_assign(embeddings, cents, id_col, vec_col)
    v = _as_double(vec_col)
    qv = _as_double(lit_vector(query_vec))
    return (
        assigned.filter(F.col("cell").isin(*[int(c) for c in probe_cells]))
        .select(F.col(id_col), F.round(cosine(v, qv), 9).alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def similarity_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    method: str = "auto",
    exact_row_budget: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kwargs,
) -> DataFrame:
    """Strategy-chooser facade over the three top-k implementations —
    the SURVEY §7 'similarity-join → LSH rewrite' as a planner function
    rather than a Catalyst rule (the rewrite decision needs a cardinality
    estimate, which lives naturally at plan-construction time here).

    method='auto' picks:
      - brute-force exact scan when the estimated row count fits
        ``exact_row_budget`` (exact answers are strictly better when the
        scan is affordable — at 1M rows × 64 dims that's one ~0.5 GB
        columnar pass, well under a single-stage budget);
      - IVF (coarse k-means cells, nprobe probing) above the budget —
        at 100 TB the cell becomes a partition column and the probe a
        partition-pruned scan of nprobe/n_cells of the data.
    'exact' | 'ivf' | 'lsh' force a specific strategy.

    The cardinality estimate uses the optimized logical plan's stats
    (parquet row-count metadata — no job is run), the same signal AQE
    uses for its runtime decisions.
    """
    if method == "auto":
        est = estimated_rows(embeddings)
        method = "exact" if est is not None and est <= exact_row_budget else "ivf"
    if method == "exact":
        return cosine_topk(embeddings, query_vec, k, id_col, vec_col, **kwargs)
    if method == "ivf":
        return ivf_topk(embeddings, query_vec, k, id_col=id_col, vec_col=vec_col, **kwargs)
    if method == "lsh":
        return ann_lsh_topk(embeddings, query_vec, k, id_col=id_col, vec_col=vec_col, **kwargs)
    raise ValueError(f"unknown method {method!r} (auto|exact|ivf|lsh)")


def estimated_rows(df: DataFrame) -> int | None:
    """Catalyst's row-count estimate from the optimized plan's statistics
    (file metadata / size-based heuristics — no execution)."""
    stats = _plan_stats(df)
    opt = stats.rowCount()
    if opt.isDefined():
        return int(str(opt.get()))
    # size-only estimate: assume ~8 bytes/cell as a coarse floor
    size = int(str(stats.sizeInBytes()))
    n_cols = max(1, len(df.columns))
    return size // (8 * n_cols) if size > 0 else None


def ann_lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket.

    At 100 TB: the bucket column is computed once at ingest (or by this
    scan), and the filter prunes ~2^-n_planes of the data before any
    scoring. Recall is tested against brute force in tests.
    """
    dim = len(query_vec)
    planes = lsh_hyperplanes(dim, n_planes, seed)
    qbits = sum(
        (1 << i) for i, p in enumerate(planes) if float(np.dot(p, query_vec)) >= 0
    )
    bucketed = embeddings.withColumn("bucket", lsh_bucket(F.col(vec_col), planes))
    v = _as_double(vec_col)
    q = _as_double(lit_vector(query_vec))
    return (
        bucketed.filter(F.col("bucket") == qbits)
        .select(F.col(id_col), F.round(cosine(v, q), 9).alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )
