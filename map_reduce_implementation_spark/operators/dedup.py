"""Fuzzy-dedup primitives: MinHash+LSH and SimHash — pure DataFrame ops.

Everything stays JVM-side (murmur3 ``F.hash`` / ``F.xxhash64``; no Python
in the hot path). Shapes chosen for 100 TB:

- MinHash signatures are one groupBy(doc_id) carrying ``num_perm``
  MIN aggregates — partial/final two-phase, shuffling num_perm ints per
  doc per partition; no row blow-up, keyed uniformly → no skew.
- LSH banding turns the O(n²) pair space into per-bucket joins; bucket
  sizes are bounded in practice by signature entropy; ultra-hot buckets
  (near-identical boilerplate docs) are exactly the pairs we want.
- SimHash bit-aggregation is a (doc, bit) partial-SUM shuffle; pair
  generation joins on 16-bit bands of the fingerprint, then verifies
  with ``bit_count(xor) <= k`` — never a cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def minhash_signatures(shingles: DataFrame, num_perm: int = 128) -> DataFrame:
    """DataFrame[doc_id, sig: array<bigint>] — minhash signature per doc.

    ``shingles``: DataFrame[doc_id, shingle] (distinct per doc).

    Permutations use Kirsch-Mitzenmacher double hashing: two independent
    32-bit murmurs ``h1, h2`` of the shingle, permutation p =
    ``(h1 + p·h2) mod 2^32``. Hashing the (string) shingle only twice
    instead of ``num_perm`` times cut signature build ~4× at sf0.1; the
    arithmetic stays < 2^40 so it is ANSI-overflow-safe. KM double
    hashing preserves the MinHash estimate quality (standard for Bloom/
    MinHash families); the LSH-vs-exact-Jaccard test pins it.
    """
    mask = F.lit(0xFFFFFFFF)
    h1 = F.hash("shingle").cast("long").bitwiseAND(mask)
    h2 = F.hash("shingle", F.lit(1)).cast("long").bitwiseAND(mask)
    hashed = shingles.select(
        "doc_id", h1.alias("h1"), h2.alias("h2")
    )
    mins = [
        F.min((F.col("h1") + F.lit(p) * F.col("h2")).bitwiseAND(mask)).alias(f"m{p}")
        for p in range(num_perm)
    ]
    return (
        hashed.groupBy("doc_id")
        .agg(*mins)
        .select(
            "doc_id", F.array(*[F.col(f"m{p}") for p in range(num_perm)]).alias("sig")
        )
    )


def _np_murmur3_long(x, h1):
    """Bit-exact numpy port of Spark's ``Murmur3_x86_32.hashLong``
    (the kernel behind ``F.hash`` on BIGINT): the long is mixed as two
    32-bit halves, then finalized with ``fmix(h1, 8)``. ``x`` is a
    uint64 array, ``h1`` a uint32 array/scalar seed; returns uint32.
    All arithmetic wraps in uint32 exactly as the JVM int ops do.
    Pinned bit-equal to ``F.hash`` in tests/test_dedup_similarity.py.
    """
    import numpy as np

    C1 = np.uint32(0xCC9E2D51)
    C2 = np.uint32(0x1B873593)

    def mix_k1(k1):
        k1 = (k1 * C1).astype(np.uint32)
        k1 = ((k1 << np.uint32(15)) | (k1 >> np.uint32(17))).astype(np.uint32)
        return (k1 * C2).astype(np.uint32)

    def mix_h1(h1, k1):
        h1 = (h1 ^ k1).astype(np.uint32)
        h1 = ((h1 << np.uint32(13)) | (h1 >> np.uint32(19))).astype(np.uint32)
        return (h1 * np.uint32(5) + np.uint32(0xE6546B64)).astype(np.uint32)

    lo = (x & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    hi = (x >> np.uint64(32)).astype(np.uint32)
    h1 = mix_h1(mix_h1(np.asarray(h1, np.uint32), mix_k1(lo)), mix_k1(hi))
    # fmix(h1, 8): 8 bytes were hashed
    h1 = (h1 ^ np.uint32(8)).astype(np.uint32)
    h1 = (h1 ^ (h1 >> np.uint32(16))).astype(np.uint32)
    h1 = (h1 * np.uint32(0x85EBCA6B)).astype(np.uint32)
    h1 = (h1 ^ (h1 >> np.uint32(13))).astype(np.uint32)
    h1 = (h1 * np.uint32(0xC2B2AE35)).astype(np.uint32)
    return (h1 ^ (h1 >> np.uint32(16))).astype(np.uint32)


def _list_offsets(n: int, width: int):
    """Arrow ``ListArray`` offsets ``0, width, …, n·width``, built in int64.
    The cast to Arrow's int32 list offsets is checked, so a batch past
    2**31 values raises ``ArrowInvalid`` instead of wrapping."""
    import numpy as np
    import pyarrow as pa

    return pa.array(np.arange(0, (n + 1) * width, width, dtype=np.int64)).cast(pa.int32())


def minhash_signatures_arrow(
    shingles: DataFrame, num_perm: int = 128, bands: int | None = None
) -> DataFrame:
    """Bit-identical to :func:`minhash_signatures` (same murmur h1/h2 +
    KM permutations) but the 128 per-doc minima are computed vectorized
    in numpy instead of 128 JVM aggregate buffers — measured ~4× faster
    at sf0.1 (Spark's hash-agg update loop degrades past ~100 agg
    columns).

    Shape: murmurs stay JVM-side; one shuffle partitions by doc_id so
    every doc's shingles land in one partition; ``mapInArrow`` computes
    per-batch group minima via sort + ``np.minimum.reduceat`` (round 13
    — the previous per-batch 65k×129 pandas frame + groupby allocated
    and sorted twice per batch; the reduceat fold works in place on the
    permutation matrix) and folds batch partials the same way. Output
    rows = one per doc — no further aggregation needed.

    ``bands`` (round 13): when set, also emit ``bands: array<int>`` —
    the per-band LSH bucket ids, bit-equal to
    ``F.hash(F.slice("sig", b*rows+1, rows))`` (the exact numpy port of
    Spark's Murmur3 long fold, seed 42), computed vectorized while the
    signature matrix is already in hand. The JVM evaluation of those 32
    slice+hash expressions is interpreted (no codegen for HOF-style
    array work) and measured 0.95 s per pass at the 10× bench point —
    and the LSH self-join evaluates it TWICE. At 100 TB the banding
    pass is corpus-sized, so removing 2× interpreted array hashing per
    doc matters as much as it does locally.
    """
    import numpy as np
    import pyarrow as pa

    if bands is not None and bands <= 0:
        raise ValueError(f"bands must be positive, got {bands}")
    if bands is not None and num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    rows_per_band = num_perm // bands if bands else 0

    mask = F.lit(0xFFFFFFFF)
    hashed = shingles.select(
        "doc_id",
        F.hash("shingle").cast("long").bitwiseAND(mask).alias("h1"),
        F.hash("shingle", F.lit(1)).cast("long").bitwiseAND(mask).alias("h2"),
    ).repartition("doc_id")

    schema = "doc_id long, sig array<bigint>" + (
        ", bands array<int>" if bands else ""
    )

    def _group_minima(doc, perms):
        """(doc ids, per-doc minima) via sort + reduceat — one group
        row per distinct doc, min over the group's permutation rows."""
        order = np.argsort(doc, kind="stable")
        d_s = doc[order]
        starts = np.flatnonzero(np.r_[True, d_s[1:] != d_s[:-1]])
        return d_s[starts], np.minimum.reduceat(perms[order], starts, axis=0)

    def part_minima(it):
        P = np.arange(num_perm, dtype=np.int64)
        docs_parts: list[np.ndarray] = []
        mins_parts: list[np.ndarray] = []
        for batch in it:
            if batch.num_rows == 0:
                continue
            doc = batch.column(0).to_numpy(zero_copy_only=False)
            h1 = batch.column(1).to_numpy(zero_copy_only=False)
            h2 = batch.column(2).to_numpy(zero_copy_only=False)
            perms = (h1[:, None] + P[None, :] * h2[:, None]) & 0xFFFFFFFF
            d, m = _group_minima(doc, perms)
            docs_parts.append(d)
            mins_parts.append(m)
        if not docs_parts:
            return
        doc_all, mins_all = _group_minima(
            np.concatenate(docs_parts), np.vstack(mins_parts)
        )
        n = len(doc_all)
        arrays = [
            pa.array(doc_all),
            pa.ListArray.from_arrays(
                _list_offsets(n, num_perm), pa.array(mins_all.ravel())
            ),
        ]
        names = ["doc_id", "sig"]
        if bands:
            vals = mins_all.view(np.uint64)
            buckets = np.empty((n, bands), dtype=np.uint32)
            for b in range(bands):
                h = np.full(n, 42, dtype=np.uint32)  # F.hash seed
                for j in range(rows_per_band):
                    h = _np_murmur3_long(vals[:, b * rows_per_band + j], h)
                buckets[:, b] = h
            arrays.append(
                pa.ListArray.from_arrays(
                    _list_offsets(n, bands), pa.array(buckets.view(np.int32).ravel())
                )
            )
            names.append("bands")
        yield pa.RecordBatch.from_arrays(arrays, names)

    return hashed.mapInArrow(part_minima, schema)


def minhash_lsh_pairs(
    shingles: DataFrame,
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup candidate pairs via LSH banding, scored by the signature
    Jaccard estimate (fraction of agreeing minhashes).

    Returns DataFrame[d1, d2, est_jaccard] with est_jaccard >= threshold.
    With 32 bands × 4 rows the S-curve crosses ~50% capture at J≈0.42 —
    tuned for a 0.5 threshold.

    Cache lifetime: the signature table is ``.cache()``d because three
    plan branches consume it (banding + the two est re-joins) and
    recomputing the Arrow signature pass per branch measured 2.3×
    slower warm at sf0.1. The cache is scoped to THIS call: the pair
    set (tiny — candidates above threshold) is materialized eagerly via
    ``localCheckpoint`` and the signature storage is released before
    returning, so long-lived sessions interleaving many suite/bench
    runs see no storage-memory growth.

    Rejected alternative (measured): carrying ``sig`` through the band
    self-join to skip both est re-joins is 1.15 s vs 1.59 s warm at
    sf0.1 — but it pushes the full 1 KB signature into the band
    exchange ×bands copies per doc (~43× the shuffle bytes of the
    narrow banding). At 100 TB the exchange volume dominates, so the
    narrow shape wins despite the extra local joins.
    """
    sig = minhash_signatures_arrow(shingles, num_perm, bands=bands).cache()

    # band bucket = murmur3 over the band's signature slice hashed AS AN
    # ARRAY — no string materialization (measured 2.3× vs concat_ws).
    # Round 13: the 32 slice+hash expressions are computed ONCE inside
    # the Arrow signature kernel (bit-equal numpy murmur3 port — see
    # minhash_signatures_arrow) instead of interpreted JVM evaluation
    # per join side: 0.95 s/pass × 2 sides at the 10× point, and a
    # corpus-sized double pass at 100 TB.
    banded = sig.select("doc_id", F.posexplode("bands").alias("band", "bucket"))
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .distinct()
    )
    # est re-joins carry only (doc_id, sig) — the bands column stays out
    # of the pair-keyed exchanges (guide §2.3: project before the join)
    sx = sig.select("doc_id", "sig").alias("sx")
    sy = sig.select("doc_id", "sig").alias("sy")
    est = (
        cand.join(sx, F.col("d1") == F.col("sx.doc_id"))
        .join(sy, F.col("d2") == F.col("sy.doc_id"))
        .select(
            "d1",
            "d2",
            (
                F.aggregate(
                    F.zip_with(
                        F.col("sx.sig"),
                        F.col("sy.sig"),
                        lambda a, b: F.when(a == b, 1).otherwise(0),
                    ),
                    F.lit(0),
                    lambda acc, x: acc + x,
                )
                / F.lit(float(len(range(num_perm))))
            ).alias("est_jaccard"),
        )
    )
    # Materialize the (small) pair set so the signature cache can be
    # dropped now rather than leaking until session end.
    pairs = est.filter(F.col("est_jaccard") >= threshold).localCheckpoint(eager=True)
    sig.unpersist()
    return pairs


def jaccard_pairs(
    shingles: DataFrame,
    threshold: float = 0.5,
    max_df: int | None = None,
    id_col: str = "doc_id",
    shingle_col: str = "shingle",
) -> DataFrame:
    """Posting-list Jaccard near-dup pairs with an optional ``max_df``
    stop-shingle cap — the 100 TB safety valve.

    A shingle appearing in d documents yields d·(d-1)/2 candidate pairs:
    boilerplate (headers, licenses, navigation chrome) produces posting
    lists of millions and a quadratic blow-up on exactly the shingles
    that carry no signal. ``max_df`` drops those lists wholesale BEFORE
    pair generation (standard stop-word practice, cf. scikit-learn's
    CountVectorizer max_df). Effect on scores: intersections lose only
    ubiquitous shingles, so near-dup pairs above a meaningful threshold
    survive; the exact-oracle suite query keeps max_df=None so DuckDB
    matches bit-for-bit, and the capped path is regression-tested for
    pair-superset containment instead.

    Sizes are computed from the UNCAPPED stream (true Jaccard
    denominators), pairs from the capped one. A ``d1 != d2`` guard
    before the pair aggregation keeps non-distinct (doc_id, shingle)
    inputs from producing self-pairs (repeated ids in a posting list
    can still inflate a true pair's intersection — distinct input
    remains the contract for exact scores)."""
    # Round-12 optimization (guide §2.4): the shingle stream feeds two
    # aggregates (sizes, posts) and the size frame feeds both join
    # sides — lazily every one of the seven suite callers re-tokenized
    # the corpus per consumer (2× corpus scans) and re-ran the size
    # aggregate per join side. Materialize each ONCE; at 100 TB these
    # are the passes a cluster job would persist.
    shingles = shingles.localCheckpoint(eager=True)
    sizes = (
        shingles.groupBy(id_col)
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    posts = shingles.groupBy(shingle_col).agg(
        F.collect_list(id_col).alias("ds")
    )
    posts = posts.filter(F.size("ds") > 1)
    if max_df is not None:
        posts = posts.filter(F.size("ds") <= max_df)
    inter = (
        posts.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds) - i - 1), "
                    "y -> struct(least(x, y) AS d1, greatest(x, y) AS d2))))"
                )
            ).alias("p")
        )
        .filter(F.col("p.d1") != F.col("p.d2"))
        .groupBy("p.d1", "p.d2")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("d1") == F.col(f"sa.{id_col}"))
        .join(sb, F.col("d2") == F.col(f"sb.{id_col}"))
        .select(
            "d1",
            "d2",
            (F.col("inter") / (F.col("sa.n") + F.col("sb.n") - F.col("inter"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(
    edges: DataFrame, nodes: DataFrame, max_iter: int = 15
) -> DataFrame:
    """Connected components by iterative min-label propagation — the
    step that turns near-dup PAIRS into canonical dedup GROUPS (cluster
    id = smallest member id).

    ``edges``: DataFrame[src, dst] (undirected, either orientation);
    ``nodes``: DataFrame[node]. Returns DataFrame[node, label].

    Per iteration: every node takes the min label among itself and its
    neighbors (one join + one groupBy); converges in O(diameter)
    rounds. ``localCheckpoint`` truncates the growing lineage each
    round — without it the plan doubles per iteration — and the
    symmetric edge list is checkpointed ONCE up front: a lazy ``edges``
    (e.g. the fuzzy caller's shingle→Jaccard pipeline, 4 shuffles)
    would otherwise re-execute in full every round (measured at sf0.1:
    3.8 s lazy vs 0.8 s materialized for the same 3-round run). At
    100 TB this is the standard large-graph CC shape (alternating-star
    variants converge faster on high-diameter graphs; dedup-pair
    graphs are near-cliques, so plain propagation terminates in 2-3
    rounds). Exits early on convergence; if a component's diameter
    exceeds ``max_iter`` the labels would be silently under-merged, so
    loop exhaustion without convergence WARNS loudly instead.
    """
    import warnings

    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .localCheckpoint(eager=True)
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    converged = False
    changed = -1  # sentinel: max_iter <= 0 must not NameError in the warning
    for _ in range(max_iter):
        # Convergence check FUSED into the propagation aggregate
        # (round 12, guide §2.4 "remove shuffles outright"): the self
        # row is tagged before the union so the same min-aggregate
        # that computes the new label also carries the old one —
        # the former new⋈old convergence join (one extra node-keyed
        # shuffle + join per round) becomes a shuffle-free filter+count
        # over the already-checkpointed round result. Labels are
        # IDENTICAL: new label = min over the same (self ∪ neighbor)
        # multiset; ``old`` is the self row's label (node is unique in
        # ``labels`` by construction — groupBy(node) output).
        label_t = labels.schema["label"].dataType.simpleString()
        neigh = sym.join(labels, sym["b"] == labels["node"]).select(
            F.col("a").alias("node"),
            "label",
            F.lit(None).cast(label_t).alias("self_l"),
        )
        new_labels = (
            labels.select("node", "label", F.col("label").alias("self_l"))
            .unionByName(neigh)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.max("self_l").alias("old_label"),
            )
        ).localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("label") != F.col("old_label")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"connected_components: not converged after {max_iter} iterations "
            f"({changed} labels still changing) — results are under-merged; "
            "raise max_iter (components deeper than max_iter hops exist)",
            stacklevel=2,
        )
    return labels


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash fingerprint per document.

    Token xxhash64 → per-bit signed votes (+1 if bit set, −1 otherwise,
    weighted by token multiplicity) → sign of each bit-sum → fingerprint.
    Returns DataFrame[id_col, simhash: bigint].
    """
    toks = df.select(
        id_col,
        F.explode(
            F.filter(F.split(F.lower(text_col), "[^a-z0-9]+"), lambda t: t != F.lit(""))
        ).alias("tok"),
    )
    counted = toks.groupBy(id_col, "tok").agg(F.count("*").alias("cnt"))
    votes = counted.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.when(
                        F.shiftright(F.xxhash64("tok"), i).bitwiseAND(F.lit(1)) == 1,
                        F.col("cnt"),
                    ).otherwise(-F.col("cnt"))
                    for i in range(64)
                ]
            )
        ).alias("bit", "vote"),
    )
    bit_sums = votes.groupBy(id_col, "bit").agg(F.sum("vote").alias("s"))
    return bit_sums.groupBy(id_col).agg(
        F.sum(
            F.when(
                F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")
            ).otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )


def simhash_arrow(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Bit-identical to :func:`simhash` (same tokenizer, same xxhash64,
    same strict s>0 sign rule) with the 64 bit-vote sums computed
    vectorized in numpy instead of a 64-way posexplode — the explode
    multiplies the shuffle by 64 (measured 4.6 s at sf0.1 vs ~0.9 s
    here). Token hashing stays JVM-side; one shuffle partitions by doc;
    per-batch ±1 bit matrices fold via pandas groupby-sum.
    """
    import numpy as np
    import pyarrow as pa

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(F.split(F.lower(text_col), "[^a-z0-9]+"), lambda t: t != F.lit(""))
        ).alias("tok"),
    ).select("doc_id", F.xxhash64("tok").alias("h"))
    part = toks.repartition("doc_id")

    def _group_sums(doc, bits):
        """(doc ids, per-doc vote sums) via sort + reduceat (round 13 —
        same rewrite as the minhash kernel: the per-batch pandas frame
        + groupby allocated and sorted the 65k×65 matrix twice)."""
        order = np.argsort(doc, kind="stable")
        d_s = doc[order]
        starts = np.flatnonzero(np.r_[True, d_s[1:] != d_s[:-1]])
        return d_s[starts], np.add.reduceat(bits[order], starts, axis=0)

    def fold(it):
        shifts = np.arange(64, dtype=np.uint64)
        docs_parts: list[np.ndarray] = []
        sums_parts: list[np.ndarray] = []
        for batch in it:
            if batch.num_rows == 0:
                continue
            doc = batch.column(0).to_numpy(zero_copy_only=False)
            h = batch.column(1).to_numpy(zero_copy_only=False).view(np.uint64)
            bits = (((h[:, None] >> shifts[None, :]) & 1).astype(np.int64) * 2) - 1
            d, s = _group_sums(doc, bits)
            docs_parts.append(d)
            sums_parts.append(s)
        if not docs_parts:
            return
        doc_all, sums = _group_sums(
            np.concatenate(docs_parts), np.vstack(sums_parts)
        )
        pos = (sums > 0).astype(np.uint64)
        fp = (pos * (np.uint64(1) << shifts)).sum(axis=1, dtype=np.uint64).view(np.int64)
        yield pa.RecordBatch.from_arrays(
            [pa.array(doc_all), pa.array(fp)],
            ["doc_id", "simhash"],
        )

    out = part.mapInArrow(fold, "doc_id long, simhash long")
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


def simhash_near_pairs(sims: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs among SimHash fingerprints with hamming <= k.

    Join on 16-bit bands (a pair within hamming 3 must agree on ≥1 of 4
    bands — pigeonhole), verify with bit_count(xor). No cross join.
    """
    banded = sims.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * 16).bitwiseAND(F.lit(0xFFFF))
                    for b in range(4)
                ]
            )
        ).alias("band", "chunk"),
    )
    return (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("d1"),
            F.col("y.doc_id").alias("d2"),
            F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 8,
    threshold: float = 0.25,
    kmeans_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster embeddings with k-means, then inside each cluster drop any
    vector that has a lower-id neighbor with cosine >= threshold.

    Returns DataFrame[id_col, cell, is_kept].

    Keep rule = greedy-by-id: a vector is dropped iff SOME lower-id
    vector in its cell is a near-duplicate. The kept set is exactly the
    per-cell minimal elements, so no two kept vectors are near-dups of
    each other (both properties asserted in tests).

    Scale shape: the O(n²) pair scan runs per CLUSTER (the whole point
    of SemDeDup — the quadratic term is divided by k), via the same
    blocked ``cosine_pairs`` used for embedding dedup; k-means cost is
    ``kmeans_iters`` scans with a (k × dim)-row shuffle each, and the
    driver only ever holds k × dim floats. Deterministic end-to-end:
    first-k init, fixed iteration count, id-ordered keep rule.
    """
    from .similarity import kmeans_centroids

    # ``centroids`` lets callers reuse a trained quantizer (standard IVF
    # practice: train once, assign many) — passing it skips the Lloyd
    # iterations entirely.
    cents = centroids or kmeans_centroids(
        embeddings, k, n_iter=kmeans_iters, id_col=id_col, vec_col=vec_col
    )
    # Per-cluster pair scan = ONE numpy gemm per cell inside
    # applyInPandas (what SemDeDup itself does, on GPU): a JVM pair
    # join with higher-order-function dot products evaluates the fold
    # interpreted per element — measured 6.4 s warm at sf0.1 vs 0.54 s
    # for the gemm path. One cell-keyed shuffle total. Cell sizes are
    # n/k on average; pick k ≈ n / target_cell_size so each cell's
    # (rows × dim) matrix fits a worker — the same parameter SemDeDup
    # tunes (its paper uses tens of thousands of clusters at web scale).
    import numpy as np
    import pandas as pd

    C = np.asarray(cents, dtype=np.float64)

    def assign_units(it):
        # vectorized quantizer assignment + normalization: argmin over
        # ||m||² − 2·m·cᵀ + ||c||² (one gemm per batch) — replaces the
        # interpreted k × dim literal-fold expression of ivf_assign
        for pdf in it:
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d2 = (m * m).sum(1)[:, None] - 2.0 * (m @ C.T) + (C * C).sum(1)[None, :]
            u = m / np.linalg.norm(m, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cell": d2.argmin(1).astype("int32"),
                    "__u": list(u),
                }
            )

    unit = embeddings.select(id_col, vec_col).mapInPandas(
        assign_units, f"{id_col} long, cell int, __u array<double>"
    )

    def keep_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        m = np.stack(pdf["__u"].to_numpy())
        sims = np.triu(m @ m.T, k=1)  # [i, j>i] = sim(lower-id i, higher-id j)
        has_lower_dup = (sims >= threshold).any(axis=0)
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cell": pdf["cell"],
                "is_kept": ~has_lower_dup,
            }
        )

    return unit.groupBy("cell").applyInPandas(
        keep_cell, f"{id_col} long, cell int, is_kept boolean"
    )
