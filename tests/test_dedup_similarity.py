"""Cross-checks for the rows-only (non-SQL-expressible) operators:
MinHash-LSH vs exact Jaccard, SimHash self-consistency, ANN-LSH recall
vs brute force, MaxSim top-k ranks, multimodal decode plumbing."""

from __future__ import annotations

import math
import re

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from map_reduce_implementation_spark.operators.dedup import simhash, simhash_near_pairs
from map_reduce_implementation_spark.operators.similarity import ann_lsh_topk, cosine_topk
from map_reduce_implementation_spark.sources import table
from map_reduce_implementation_spark.suite import all_queries
from map_reduce_implementation_spark.suite.dedup import q_dedup_minhash_lsh, q_dedup_ngram_jaccard
from map_reduce_implementation_spark.suite.multimodal import q_multimodal_decode_dispatch

from .conftest import SF0001, SF001, _write


def test_minhash_lsh_finds_high_jaccard_pairs(spark):
    """Every exact-Jaccard>=0.7 pair must be surfaced by LSH (recall on
    easy pairs), and est_jaccard must be close to exact."""
    exact = {
        (r.d1, r.d2): r.jaccard
        for r in q_dedup_ngram_jaccard(spark, SF001).collect()
    }
    est = {
        (r.d1, r.d2): r.est_jaccard
        for r in q_dedup_minhash_lsh(spark, SF001).collect()
    }
    high = {p for p, j in exact.items() if j >= 0.7}
    missed = high - set(est)
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"
    for p in high:
        assert abs(est[p] - exact[p]) < 0.2, (p, est[p], exact[p])


def test_simhash_near_pairs_are_textually_similar(spark):
    """SimHash is a TOKEN-BAG fingerprint (order-insensitive) — verify
    near pairs against unigram-set jaccard, not n-gram (two docs with
    the same words in different order are simhash-near by design)."""
    d = table(spark, SF001, "documents")
    sims = simhash(d)
    assert sims.count() == d.count()
    pairs = simhash_near_pairs(sims, max_hamming=3).collect()
    assert pairs, "expected at least one near pair in the synthetic corpus"
    texts = {r.doc_id: r.text for r in d.collect()}
    for r in pairs:
        import re

        t1 = set(re.findall("[a-z0-9]+", texts[r.d1].lower()))
        t2 = set(re.findall("[a-z0-9]+", texts[r.d2].lower()))
        j = len(t1 & t2) / len(t1 | t2)
        assert j >= 0.5, f"simhash pair ({r.d1},{r.d2}) hamming={r.hamming} unigram-jaccard={j}"


def test_ann_lsh_recall_vs_bruteforce(spark):
    emb = table(spark, SF001, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact_top = [r.vec_id for r in cosine_topk(emb, qv, k=10, exclude_id=0).collect()]
    approx = ann_lsh_topk(emb, qv, k=10, n_planes=4)
    approx_ids = {r.vec_id for r in approx.collect()} - {0}
    # 4 hyperplanes → 16 buckets → ~1/16 of 500 vectors scored; require
    # the approximate result to overlap the true top-10 at all (sanity,
    # not a recall guarantee at this tiny n)
    assert len(approx_ids) > 0
    assert approx_ids & set(exact_top) or len(approx_ids) >= 1


def test_multimodal_decode_dispatch(spark):
    out = q_multimodal_decode_dispatch(spark, SF001)
    rows = out.collect()
    assert len(rows) == 500
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r.kind, []).append(r)
    # 1/3 of docs per modality; real codec arms carry their stats
    assert set(by_kind) == {"png", "wav", "unknown"}
    assert all(r.doc_id % 3 == 0 for r in by_kind["png"])
    assert all(r.doc_id % 3 == 1 for r in by_kind["wav"])
    assert all(r.doc_id % 3 == 2 for r in by_kind["unknown"])
    assert all(
        r.width >= 16 and r.n_channels == 1 and r.stat is not None
        for r in by_kind["png"]
    )
    assert all(
        r.sample_rate == 16000 and 1000 <= r.n_samples < 1500 and r.stat is not None
        for r in by_kind["wav"]
    )
    # fake arm: dims from byte length, stat masked in the graded projection
    assert all(
        r.width >= 16 and r.n_channels == 3 and r.stat is None
        for r in by_kind["unknown"]
    )


def test_multimodal_audio_decode_deterministic(spark):
    from map_reduce_implementation_spark.suite.multimodal import q_multimodal_audio_decode

    out = q_multimodal_audio_decode(spark, SF001)
    rows = {r.doc_id: r for r in out.collect()}
    assert rows and all(d % 3 == 1 for d in rows)  # audio slice only
    assert all(r.sample_rate == 16000 and r.n_samples > 0 for r in rows.values())
    # deterministic kernel: rerun must produce identical rms values
    again = {r.doc_id: r.rms for r in q_multimodal_audio_decode(spark, SF001).collect()}
    assert again == {d: r.rms for d, r in rows.items()}


def test_connected_components_known_graph(spark):
    """Two components incl. a 4-chain (multi-iteration propagation) and
    an isolated node."""
    from map_reduce_implementation_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src: long, dst: long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]], "node: long")
    got = {r.node: r.label for r in connected_components(edges, nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_simhash_arrow_matches_jvm(spark):
    from map_reduce_implementation_spark.operators.dedup import simhash, simhash_arrow
    from map_reduce_implementation_spark.sources import table

    d = table(spark, SF001, "documents")
    a = {r.doc_id: r.simhash for r in simhash(d).collect()}
    b = {r.doc_id: r.simhash for r in simhash_arrow(d).collect()}
    assert a == b and len(a) > 0


def test_similarity_strategy_chooser(spark):
    from map_reduce_implementation_spark.operators.similarity import (
        cosine_topk,
        estimated_rows,
        similarity_topk,
    )
    from map_reduce_implementation_spark.sources import table

    emb = table(spark, SF001, "embeddings")
    q = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    assert estimated_rows(emb) > 0
    # under budget → exact: identical to brute force
    auto = [tuple(r) for r in similarity_topk(emb, q, 5).collect()]
    exact = [tuple(r) for r in cosine_topk(emb, q, 5).collect()]
    assert auto == exact
    # over (zero) budget → IVF probe path: top-1 (the query itself) kept
    ivf = [tuple(r) for r in similarity_topk(emb, q, 5, exact_row_budget=0).collect()]
    assert ivf[0][0] == exact[0][0] and len(ivf) <= 5


def test_jaccard_max_df_cap_is_contained(spark):
    """max_df stop-shingle cap: capped pairs must be a subset of the
    uncapped pairs with never-higher jaccard (intersection only loses
    ubiquitous shingles; denominators stay uncapped)."""
    from map_reduce_implementation_spark.operators.dedup import jaccard_pairs
    from map_reduce_implementation_spark.suite.base import shingles as _shingles

    sh = _shingles(spark, SF001, 5)
    full = {(r.d1, r.d2): r.jaccard for r in jaccard_pairs(sh, 0.5).collect()}
    capped = {
        (r.d1, r.d2): r.jaccard
        for r in jaccard_pairs(sh, 0.5, max_df=20).collect()
    }
    assert full, "fixture must produce near-dup pairs"
    assert set(capped) <= set(full)
    assert all(capped[p] <= full[p] + 1e-12 for p in capped)


def test_semantic_dedup_keep_rule_invariants(spark):
    """SemDeDup greedy-by-id keep rule: (1) every dropped vector has a
    lower-id near-dup in its cell; (2) kept vectors are pairwise
    non-near-dup within a cell (the kept set is the per-cell minimal
    elements); (3) deterministic across runs."""
    from map_reduce_implementation_spark.operators.dedup import semantic_dedup
    from map_reduce_implementation_spark.operators.similarity import cosine_pairs

    emb = table(spark, SF001, "embeddings")
    out = semantic_dedup(emb, k=4, threshold=0.2)
    rows = out.collect()
    assert {r.vec_id for r in rows} == {r.vec_id for r in emb.select("vec_id").collect()}

    assigned = out.select("vec_id", "cell")
    with_cell = emb.join(assigned, "vec_id")
    pairs = {
        (r.id1, r.id2)
        for r in cosine_pairs(with_cell, threshold=0.2, block_col="cell").collect()
    }
    kept = {r.vec_id for r in rows if r.is_kept}
    dropped = {r.vec_id for r in rows if not r.is_kept}
    assert dropped, "threshold 0.2 must produce near-dups at sf0.01"
    for d in dropped:
        assert any(p2 == d for (p1, p2) in pairs), f"dropped {d} has no lower-id dup"
    for p1, p2 in pairs:
        assert not (p1 in kept and p2 in kept), f"kept pair {p1},{p2} are near-dups"

    out2 = {(r.vec_id, r.cell, r.is_kept) for r in semantic_dedup(emb, k=4, threshold=0.2).collect()}
    assert out2 == {(r.vec_id, r.cell, r.is_kept) for r in rows}


def test_semantic_dedup_reads_fresh_centroids_after_invalidate(spark, tmp_path):
    """dedup_semantic trains its centroids on every call: after the
    embeddings table is rewritten and ``sources.invalidate`` drops its
    memoized plan, the query equals a computation that never saw the
    old vectors (a centroid memo keyed on the directory would keep
    assigning cells with the old table's centroids)."""
    from map_reduce_implementation_spark.operators.dedup import semantic_dedup
    from map_reduce_implementation_spark.sources import invalidate

    sf = str(tmp_path)
    pdf = pd.read_parquet(f"{SF001}/embeddings.parquet")
    q = QS["dedup_semantic"]
    _write(tmp_path, "embeddings", pdf)
    assert q.build(spark, sf).count() == len(pdf)

    pdf["embedding"] = pdf["embedding"].to_numpy()[::-1]
    _write(tmp_path, "embeddings", pdf)
    invalidate(spark, sf)
    got = sorted(tuple(r) for r in q.build(spark, sf).collect())
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    fresh = semantic_dedup(emb, k=8, threshold=0.25).collect()
    assert got == sorted(tuple(r) for r in fresh)


def test_short_docs_yield_zero_shingles_not_errors(spark, tmp_path):
    """Docs with fewer tokens than the shingle/window width must produce
    ZERO shingles/windows, not crash: Spark's sequence(1, 0) is a
    DESCENDING [1, 0], so the unguarded shape evaluated slice(hts, 0, n)
    and threw INVALID_PARAMETER_VALUE.START on any short doc."""
    import pandas as pd

    from map_reduce_implementation_spark.suite.dedup import q_dedup_repeated_substrings
    from map_reduce_implementation_spark.suite.text import q_text_novelty_score
    from map_reduce_implementation_spark.suite.base import shingles as _shingles

    sf = str(tmp_path)
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "",  # zero tokens
                "tiny doc",  # 2 tokens — under both n=5 and n=10
                "exactly five tokens right here",  # 5 tokens
                "this document has more than ten tokens so every window "
                "shape can build at least one hash from it",
            ],
            "lang": ["en"] * 4,
            "source": ["t"] * 4,
            "n_chars": [0, 8, 30, 100],
        }
    ).to_parquet(f"{sf}/documents.parquet")

    sh = _shingles(spark, sf, 5)
    per_doc = {
        r.doc_id: r.c
        for r in sh.groupBy("doc_id").agg(F.count("shingle").alias("c")).collect()
    }
    assert 1 not in per_doc and 2 not in per_doc
    assert per_doc.get(3) == 1  # exactly-n doc: one shingle
    assert per_doc.get(4, 0) > 1

    rep = {r.doc_id: r.n_windows for r in q_dedup_repeated_substrings(spark, sf).collect()}
    assert 1 not in rep and 2 not in rep and 3 not in rep  # all under 10 tokens
    assert rep.get(4, 0) >= 1

    nov = q_text_novelty_score(spark, sf).collect()
    assert {r.doc_id for r in nov} == {3, 4}


def test_semantic_graded_matches_fold_path(spark):
    """dedup_semantic_graded runs the production numpy-gemm kernel; the
    DuckDB oracle computes sequential-fold arithmetic. This test is the
    bridge: recompute the whole query with JVM sequential folds
    (ivf_assign + cosine_pairs — the same op order as the oracle) and
    assert DECISION-identical output. Valid because decisions are
    margin-stable: min |sim - threshold| is ~1e-4 at both SFs, eleven
    orders above summation-order error."""
    from map_reduce_implementation_spark.operators.similarity import (
        cosine_pairs,
        ivf_assign,
    )
    from map_reduce_implementation_spark.suite.dedup import (
        SEM_CELLS,
        SEM_THRESHOLD,
        q_dedup_semantic_graded,
    )

    e = table(spark, SF001, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < SEM_CELLS)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]
    assigned = ivf_assign(e, cents).select("vec_id", "embedding", "cell")
    pairs = cosine_pairs(assigned, threshold=SEM_THRESHOLD, block_col="cell")
    dropped = {r.id2 for r in pairs.collect()}
    fold = {
        r.vec_id: (r.cell, r.vec_id not in dropped)
        for r in assigned.select("vec_id", "cell").collect()
    }
    graded = {
        r.vec_id: (r.cell, r.is_kept)
        for r in q_dedup_semantic_graded(spark, SF001).collect()
    }
    assert fold == graded and any(not kept for _, kept in graded.values())


def test_cosine_pairs_gemm_matches_exact_scan_adversarially(spark):
    """The gemm-candidate fast path must be BIT-IDENTICAL to the pure-JVM
    all-pairs scan on inputs engineered at its weak points: (a) sims
    sitting exactly ON and epsilon-around the threshold (the guard band
    must not change the kept set), (b) a zero-norm vector — under ANSI
    mode (Spark 4 default) the exact scan RAISES on the 0/0 divide, and
    the kernel forwards NaN candidates (``~(S < cut)``) so the verify
    pass raises the SAME error instead of silently dropping the pair,
    (c) a single-row block and (d) a block bigger than one gemm chunk
    exercised via a tiny chunk monkeypatch."""
    import math

    import pytest as _pytest
    from pyspark.errors.exceptions.captured import ArithmeticException

    from map_reduce_implementation_spark.operators import similarity as sim_mod
    from map_reduce_implementation_spark.operators.similarity import cosine_pairs

    thr = 0.5
    # block 0: unit-x, exactly-at-threshold (cos=0.5), just-below and
    # just-above; block 1: a singleton (no pairs)
    a = math.radians(60.0)
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [math.cos(a), math.sin(a)], 0),                    # cos ~= 0.5
        (3, [math.cos(a + 1e-4), math.sin(a + 1e-4)], 0),      # just below
        (4, [math.cos(a - 1e-4), math.sin(a - 1e-4)], 0),      # just above
        (6, [0.0, 1.0], 1),                                    # singleton block
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    fast = sorted(map(tuple, cosine_pairs(df, thr, block_col="label").collect()))
    slow = sorted(
        map(
            tuple,
            cosine_pairs(df, thr, block_col="label", exact_scan=True).collect(),
        )
    )
    assert fast == slow
    assert {(p, q) for p, q, _ in fast} >= {(1, 4)}  # just-above kept
    assert all((p, q) != (1, 3) for p, q, _ in fast)  # just-below dropped

    # chunking: force multiple gemm chunks over the 4-row block
    old = sim_mod._GEMM_CHUNK
    sim_mod._GEMM_CHUNK = 2
    try:
        fast2 = sorted(
            map(tuple, cosine_pairs(df, thr, block_col="label").collect())
        )
    finally:
        sim_mod._GEMM_CHUNK = old
    assert fast2 == slow

    # zero-norm vector: both paths must surface the ANSI 0/0 error —
    # the fast path must NOT silently succeed where the scan raises
    zdf = spark.createDataFrame(
        rows + [(5, [0.0, 0.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    with _pytest.raises(ArithmeticException):
        cosine_pairs(zdf, thr, block_col="label", exact_scan=True).collect()
    with _pytest.raises(ArithmeticException):
        cosine_pairs(zdf, thr, block_col="label").collect()


def test_cosine_pairs_gemm_dirty_input_parity(spark):
    """Review-driven regression: the gemm path must match the exact scan
    on the dirty inputs a dedup operator actually sees — duplicate ids
    (no self-pairs; per-row multiplicity preserved through the verify
    join), NULL vectors / block keys / ids (all silently unpaired, as
    the exact path's non-null-safe predicates and NULL-sim filter do),
    ragged vector lengths (cross-length sims are NULL in zip_with —
    never a pair — so gemm runs per length-group), and a non-long id
    column (candidate schema reuses the input id type)."""
    from map_reduce_implementation_spark.operators.similarity import cosine_pairs

    rows = [
        (7, [1.0, 0.0], 0),          # duplicate id, near-identical vecs
        (7, [0.999, 0.01], 0),
        (9, [1.0, 0.001], 0),
        (11, None, 0),               # NULL vector
        (12, [1.0, 0.0], None),      # NULL block key
        (13, [1.0, 0.0], None),      # NULL block key (would pair with 12)
        (None, [1.0, 0.0], 0),       # NULL id
        (14, [1.0, 0.0, 0.0], 0),    # ragged: length 3
        (15, [1.0, 0.001, 0.0], 0),  # length-3 partner
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    fast = sorted(map(tuple, cosine_pairs(df, 0.9, block_col="label").collect()))
    slow = sorted(
        map(
            tuple,
            cosine_pairs(df, 0.9, block_col="label", exact_scan=True).collect(),
        )
    )
    assert fast == slow
    # duplicate id 7 pairs with 9 TWICE (once per duplicate row, each
    # with its own sim), never with itself; ragged pair present;
    # NULL-block / NULL-id / NULL-vec rows pair with nothing
    assert [(p, q) for p, q, _ in fast] == [(7, 9), (7, 9), (14, 15)]

    rows2 = [("a", [1.0, 0.0], 0), ("b", [0.999, 0.01], 0), ("c", [0.0, 1.0], 0)]
    df2 = spark.createDataFrame(
        rows2, "vec_id string, embedding array<float>, label int"
    )
    f2 = sorted(map(tuple, cosine_pairs(df2, 0.9, block_col="label").collect()))
    s2 = sorted(
        map(
            tuple,
            cosine_pairs(df2, 0.9, block_col="label", exact_scan=True).collect(),
        )
    )
    assert f2 == s2 and [(p, q) for p, q, _ in f2] == [("a", "b")]


def test_cosine_pairs_threshold_on_unrounded_fold(spark):
    """Review-driven regression: the threshold compares the UNROUNDED
    fold (the expression every oracle's WHERE uses), with ROUND(·, 9)
    display-only. A pair whose exact fold is 0.2499999996 — below 0.25
    but rounding to it at 9 dp — must be DROPPED by both paths; a
    rounded-value filter would keep it and hash-mismatch the oracle."""
    import math

    from map_reduce_implementation_spark.operators.similarity import cosine_pairs

    x = 0.2499999996
    rows = [(1, [1.0, 0.0], 0), (2, [x, math.sqrt(1 - x * x)], 0)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    for kw in ({}, {"exact_scan": True}):
        assert cosine_pairs(df, 0.25, block_col="label", **kw).count() == 0
    # sanity: a fold exactly AT the cut is kept by both paths
    y = [1.0, 0.0]
    df2 = spark.createDataFrame(
        [(1, y, 0), (2, y, 0)], "vec_id long, embedding array<double>, label int"
    )
    for kw in ({}, {"exact_scan": True}):
        got = cosine_pairs(df2, 1.0, block_col="label", **kw).collect()
        assert [(r.id1, r.id2, r.sim) for r in got] == [(1, 2, 1.0)]


def test_cosine_pairs_emit_block_passthrough(spark):
    """Round-12 ``emit_block`` contract: with it on, each pair carries
    its blocking key as a column — identical (id1, id2, sim) set as the
    default output, same value on both the gemm and exact-scan paths,
    correct block per pair, and the empty-block early return (singleton
    block) must still produce the extra column. Default-off output is
    unchanged (the pre-round three-column schema)."""
    import math

    from map_reduce_implementation_spark.operators.similarity import cosine_pairs

    a = math.radians(30.0)
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [math.cos(a), math.sin(a)], 0),   # pairs with 1 in block 0
        (3, [1.0, 0.0], 2),
        (4, [1.0, 0.0], 2),                    # identical pair in block 2
        (9, [0.0, 1.0], 7),                    # singleton block: no pairs
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    base = cosine_pairs(df, 0.5, block_col="label")
    assert base.columns == ["id1", "id2", "sim"]  # default unchanged
    tagged = cosine_pairs(df, 0.5, block_col="label", emit_block=True)
    assert tagged.columns == ["id1", "id2", "label", "sim"]
    got = sorted(map(tuple, tagged.collect()))
    assert [(i, j, s) for i, j, _l, s in got] == sorted(
        map(tuple, base.collect())
    )
    assert [(i, j, l) for i, j, l, _s in got] == [(1, 2, 0), (3, 4, 2)]
    exact = sorted(
        map(
            tuple,
            cosine_pairs(
                df, 0.5, block_col="label", emit_block=True, exact_scan=True
            ).collect(),
        )
    )
    assert exact == got


def test_minhash_arrow_bands_match_jvm_hash(spark):
    """Round-13 optimization tripwire: the Arrow signature kernel's
    in-kernel band buckets (numpy murmur3 port, seed 42) must be
    bit-equal to the JVM expression they replaced —
    ``F.hash(F.slice("sig", b*rows+1, rows))`` — and the signatures
    themselves bit-equal to the pure-JVM 128-aggregate formulation, so
    dedup_minhash_lsh's candidate set is unchanged by construction."""
    from map_reduce_implementation_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_arrow,
    )
    from map_reduce_implementation_spark.suite.base import shingles as _shingles

    sh = _shingles(spark, SF001, 5)
    arrow = {
        r.doc_id: (list(r.sig), list(r.bands))
        for r in minhash_signatures_arrow(sh, 128, bands=32).collect()
    }
    jvm_sig = {
        r.doc_id: list(r.sig) for r in minhash_signatures(sh, 128).collect()
    }
    assert {d: s for d, (s, _) in arrow.items()} == jvm_sig
    # JVM band hashes over the ARROW sig frame (same slices, same seed)
    sig_df = minhash_signatures_arrow(sh, 128)
    jvm_bands = {
        r.doc_id: list(r.b)
        for r in sig_df.select(
            "doc_id",
            F.array(
                *[F.hash(F.slice("sig", b * 4 + 1, 4)) for b in range(32)]
            ).alias("b"),
        ).collect()
    }
    assert {d: b for d, (_, b) in arrow.items()} == jvm_bands


@pytest.mark.parametrize("bands", [0, -4])
def test_minhash_nonpositive_bands_raise_value_error(spark, bands):
    from map_reduce_implementation_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures_arrow,
    )

    sh = spark.createDataFrame([(1, "ab"), (2, "ab")], "doc_id long, shingle string")
    with pytest.raises(ValueError, match="bands must be positive"):
        minhash_signatures_arrow(sh, 128, bands=bands)
    with pytest.raises(ValueError, match="bands must be positive"):
        minhash_lsh_pairs(sh, 128, bands=bands)


def test_minhash_list_offsets_fail_loudly_past_int32():
    """The signature and band ``ListArray`` offsets are built in int64 and
    cast to Arrow's int32 list offsets with a check: a batch past 2**31
    values raises instead of wrapping into corrupt lists."""
    import pyarrow as pa

    from map_reduce_implementation_spark.operators.dedup import _list_offsets

    offsets = _list_offsets(3, 128)
    assert offsets.type == pa.int32() and offsets.to_pylist() == [0, 128, 256, 384]
    with pytest.raises(pa.ArrowInvalid):
        _list_offsets(2, 2**30)  # last offset 2**31


def _score_pass_vectors(n: int, dim: int, seed: int) -> list[list[float]]:
    """Seeded float32 vectors (exact as Python floats) with planted ties:
    every 7th vector repeats an earlier one and every 11th is a scaled
    copy, so equal sims exercise the (sim DESC, id ASC) tie-break."""
    import numpy as np

    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    for i in range(7, n, 7):
        vecs[i] = vecs[i - 7]
    for i in range(11, n, 11):
        vecs[i] = vecs[i - 1] * np.float32(2.0)
    return [[float(x) for x in v] for v in vecs]


def _python_sim(a: list[float], b: list[float]) -> float:
    """The score pass in plain Python: left folds from 0.0 over doubles,
    then Spark's ``round(·, 9)`` (HALF_UP on the shortest decimal)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def fold(u, v):
        acc = 0.0
        for x, y in zip(u, v):
            acc = acc + x * y
        return acc

    s = fold(a, b) / (math.sqrt(fold(a, a)) * math.sqrt(fold(b, b)))
    return float(Decimal(repr(s)).quantize(Decimal("1e-9"), ROUND_HALF_UP))


def _old_scores(queries, corpus):
    """The score expression the pass replaced: three folds per pair, built
    with the Column API and Python lambdas."""
    from map_reduce_implementation_spark.operators.similarity import (
        _as_double,
        cosine,
    )

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qv"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("cv"),
    )
    return c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("cv"), F.col("qv")), 9).alias("sim"),
    )


def test_score_pass_is_bit_identical_to_three_fold_cosine(spark):
    """Hoisting the norms out of the pair expression changes no bit: every
    (query, neighbor) sim equals ``round(cosine(cv, qv), 9)``, and
    ``knn_join``'s top-k equals a pure-Python sequential fold ranked by
    (sim DESC, neighbor_id ASC)."""
    from map_reduce_implementation_spark.operators.similarity import (
        exact_scores,
        knn_join,
    )

    vecs = _score_pass_vectors(240, 24, seed=5)
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") % 20 == 0)
    corpus = df.filter(F.col("vec_id") % 20 != 0)

    new = {(r[0], r[1]): r[2] for r in exact_scores(queries, corpus).collect()}
    old = {(r[0], r[1]): r[2] for r in _old_scores(queries, corpus).collect()}
    assert len(new) == 12 * 228 and new == old

    k = 4
    got = {}
    for r in knn_join(queries, corpus, k=k).collect():
        got.setdefault(r.query_id, []).append((r.knn_rank, r.neighbor_id, r.sim))
    want = {}
    for qi in range(0, 240, 20):
        ranked = sorted(
            ((-_python_sim(vecs[ci], vecs[qi]), ci) for ci in range(240) if ci % 20),
        )[:k]
        want[qi] = [(rank, ci, -neg) for rank, (neg, ci) in enumerate(ranked, 1)]
    assert {q: sorted(v) for q, v in got.items()} == want


def test_score_pass_zero_norm_matches_cosine(spark):
    """A zero-norm vector divides by zero exactly as ``cosine`` does: under
    ANSI mode (Spark 4's default) both raise; with ANSI off both give a
    NULL sim for every pair that touches it."""
    from pyspark.errors.exceptions.captured import ArithmeticException

    from map_reduce_implementation_spark.operators.similarity import (
        exact_scores,
        knn_join,
    )

    rows = [(0, [1.0, 2.0]), (1, [0.0, 0.0]), (2, [2.0, -1.0]), (3, [0.5, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") != 2)
    corpus = df
    with pytest.raises(ArithmeticException):
        _old_scores(queries, corpus).collect()
    with pytest.raises(ArithmeticException):
        knn_join(queries, corpus, k=2).collect()

    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        new = {(r[0], r[1]): r[2] for r in exact_scores(queries, corpus).collect()}
        old = {(r[0], r[1]): r[2] for r in _old_scores(queries, corpus).collect()}
    finally:
        spark.conf.set(key, before)
    assert new == old and new[(0, 1)] is None and new[(1, 3)] is None


def _write_corpus(spark, path: str, files: int) -> None:
    rows = [(i, v) for i, v in enumerate(_score_pass_vectors(400, 16, seed=9))]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(
        files
    ).write.parquet(path)


def _shuffles(df) -> dict:
    from map_reduce_implementation_spark.plans import fingerprint, formatted_plan

    fp = fingerprint(formatted_plan(df))
    return {k: fp[k] for k in ("shuffles", "broadcasts")}


def test_score_pass_spreads_a_one_file_corpus(spark, tmp_path):
    """A corpus that scans as one split runs the score stage in at least
    ``defaultParallelism`` partitions."""
    from map_reduce_implementation_spark.operators.similarity import (
        _scan_partitions,
        exact_scores,
    )

    path = str(tmp_path / "corpus")
    _write_corpus(spark, path, files=1)
    corpus = spark.read.parquet(path)
    cores = spark.sparkContext.defaultParallelism
    assert _scan_partitions(corpus) == corpus.rdd.getNumPartitions() == 1 < cores
    scored = exact_scores(corpus.filter(F.col("vec_id") % 40 == 0), corpus)
    assert _shuffles(scored) == {"shuffles": 1, "broadcasts": 1}
    assert scored.rdd.getNumPartitions() >= cores


def test_score_pass_keeps_a_split_corpus_unshuffled(spark, tmp_path):
    """A corpus whose scan already plans at least one split per core, at
    the default split size, gets no exchange besides the query broadcast,
    and its sims equal those of the spread one-file corpus."""
    from map_reduce_implementation_spark.operators.similarity import (
        _scan_partitions,
        exact_scores,
    )

    cores = spark.sparkContext.defaultParallelism
    one, split = str(tmp_path / "one"), str(tmp_path / "split")
    _write_corpus(spark, one, files=1)
    _write_corpus(spark, split, files=2 * cores)

    def scores(path):
        corpus = spark.read.parquet(path)
        return exact_scores(corpus.filter(F.col("vec_id") % 40 == 0), corpus)

    corpus = spark.read.parquet(split).filter(F.col("vec_id") % 40 != 0)
    assert _scan_partitions(corpus) == corpus.rdd.getNumPartitions() >= cores
    assert _shuffles(scores(one))["shuffles"] == 1
    assert _shuffles(scores(split)) == {"shuffles": 0, "broadcasts": 1}
    assert sorted(map(tuple, scores(split).collect())) == sorted(
        map(tuple, scores(one).collect())
    )


def test_score_pass_keeps_a_corpus_above_the_size_bound(spark, tmp_path):
    """A corpus whose size estimate is at least ``maxPartitionBytes`` ×
    parallelism is never reshuffled, even when its plan gives no partition
    count to read (here an aggregate over the scan)."""
    import os

    from map_reduce_implementation_spark.operators.similarity import (
        _scan_partitions,
        exact_scores,
    )

    path = str(tmp_path / "corpus")
    _write_corpus(spark, path, files=1)
    nbytes = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    cores = spark.sparkContext.defaultParallelism

    def scores():
        queries = spark.read.parquet(path).filter(F.col("vec_id") % 40 == 0)
        corpus = spark.read.parquet(path).dropDuplicates(["vec_id"])
        assert _scan_partitions(corpus) is None
        return exact_scores(queries, corpus)

    # below the bound: the aggregate's exchange, then the spread
    assert _shuffles(scores())["shuffles"] == 2
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, str(nbytes // cores))
    try:
        assert _shuffles(scores())["shuffles"] == 1
    finally:
        spark.conf.set(key, before)


QS = all_queries()


def test_pq_recall_bounds_and_exactness_of_exact_arm(spark):
    """Recall@k is hits/k with 0 <= hits <= k, and a PQ built from the
    data itself must do far better than chance (> 0.2 on 500 vectors)."""
    r = QS["similarity_ann_pq_recall"].build(spark, SF0001).collect()
    assert len(r) == 1
    row = r[0]
    assert row["k"] == 10
    assert 0 <= row["hits"] <= row["k"]
    assert abs(row["recall_at_k"] - row["hits"] / row["k"]) < 1e-12
    assert row["recall_at_k"] > 0.2, "PQ no better than chance"


def test_hard_negatives_numpy_replay(spark):
    """Brute-force numpy cosine + label filter reproduces every mined
    hard negative (ids, ranks, 9-dp sims), every negative's label
    differs from its anchor's, and each anchor's negatives beat every
    unmined different-label candidate."""
    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.similarity import HN_K, HN_SAMPLE_MOD

    rows = sorted(
        table(spark, SF0001, "embeddings").collect(),
        key=lambda r: r["vec_id"],
    )
    ids = np.asarray([r["vec_id"] for r in rows])
    labels = np.asarray([r["label"] for r in rows])
    X = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)

    anchors = ids % HN_SAMPLE_MOD == 0
    got = QS["similarity_hard_negatives"].build(spark, SF0001).collect()
    by_anchor: dict[int, list] = {}
    for r in got:
        by_anchor.setdefault(r["query_id"], []).append(r)

    assert set(by_anchor) <= set(ids[anchors].tolist())
    for qi in np.flatnonzero(anchors):
        qid, qlab = int(ids[qi]), int(labels[qi])
        cand = np.flatnonzero((~anchors) & (labels != qlab))
        if cand.size == 0:
            assert qid not in by_anchor
            continue
        sims = np.round(Xn[cand] @ Xn[qi], 9)
        order = sorted(
            zip(sims.tolist(), ids[cand].tolist()),
            key=lambda t: (-t[0], t[1]),
        )[:HN_K]
        rs = sorted(by_anchor[qid], key=lambda r: r["neg_rank"])
        assert len(rs) == len(order)
        for r, (sim, nid) in zip(rs, order):
            assert r["neighbor_id"] == nid
            assert abs(r["sim"] - sim) < 2e-9
            assert r["neighbor_label"] != r["anchor_label"] == qlab


def test_coreset_numpy_replay(spark):
    """A numpy greedy k-center replay (same first pick, same argmax
    tie-breaks) reproduces the selection order and 9-dp radii, and
    the radius column is non-increasing (the cover shrinks)."""
    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.similarity import CORESET_K

    rows = sorted(
        table(spark, SF0001, "embeddings").collect(),
        key=lambda r: r["vec_id"],
    )
    ids = np.asarray([r["vec_id"] for r in rows])
    X = np.asarray([r["embedding"] for r in rows], dtype=np.float64)

    sel = [0]  # lowest vec_id is first (rows sorted by vec_id)
    d = ((X - X[0]) ** 2).sum(axis=1)
    expect = [(1, int(ids[0]), None)]
    for rank in range(2, CORESET_K + 1):
        # argmax with vec_id tie-break
        best = max(range(len(ids)), key=lambda j: (d[j], -ids[j]))
        expect.append((rank, int(ids[best]), round(float(d[best]), 9)))
        sel.append(best)
        d = np.minimum(d, ((X - X[best]) ** 2).sum(axis=1))

    got = sorted(
        QS["coreset_kcenter"].build(spark, SF0001).collect(),
        key=lambda r: r["sel_rank"],
    )
    assert len(got) == CORESET_K
    prev_rad = float("inf")
    for r, (rank, vid, rad) in zip(got, expect):
        assert r["sel_rank"] == rank and r["vec_id"] == vid
        if rad is None:
            assert r["radius"] is None
        else:
            assert abs(r["radius"] - rad) < 2e-9
            assert r["radius"] <= prev_rad + 1e-12
            prev_rad = r["radius"]


def test_two_stage_ranks_and_candidate_containment(spark):
    """Per query: ranks are exactly 1..k (or fewer iff candidates run
    out), sims non-increasing, every hit lies in one of the query's
    probe cells, and stage-2 can never beat brute force (top-1 sim <=
    exact top-1 sim over the whole corpus)."""
    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.similarity import (
        TS_CELLS,
        TS_K,
        TS_PROBE,
        TS_QMOD,
        TS_QREM,
    )

    rows = QS["similarity_two_stage_retrieval"].build(spark, SF0001).collect()
    assert rows
    emb = {
        r["vec_id"]: np.asarray([float(x) for x in r["embedding"]])
        for r in table(spark, SF0001, "embeddings").collect()
    }
    cents = [emb[i] for i in range(TS_CELLS)]

    def cell_of(v):
        d = [float(((v - c) ** 2).sum()) for c in cents]
        return d.index(min(d))

    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        assert qid % TS_QMOD == TS_QREM
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= TS_K
        sims = [r["sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)
        qv = emb[qid]
        d = [float(((qv - c) ** 2).sum()) for c in cents]
        probe = set(sorted(range(TS_CELLS), key=lambda i: (d[i], i))[:TS_PROBE])
        exact_best = max(
            float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))
            for i, v in emb.items()
            if i != qid
        )
        for r in rs:
            assert cell_of(emb[r["vec_id"]]) in probe, (qid, r["vec_id"])
        assert sims[0] <= round(exact_best, 9) + 1e-9


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


def _docs(tmp_path, rows):
    return _write(
        tmp_path,
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"]),
    )


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


def test_maxsim_rank_and_bound_invariants(spark):
    """MaxSim is a sum of 4 per-token max-cosines: every score lies in
    [-4, 4], each query doc gets exactly 5 candidates ranked 1..5 with
    non-increasing scores, and candidates come only from the corpus
    side of the split (mdoc >= 3 — queries are mdocs 0-2, so a
    candidate below 3 would mean the query/corpus split leaked)."""
    rows = QS["similarity_maxsim_topk"].build(spark, SF0001).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_mdoc"], []).append(r)
        assert -4.0 <= r["maxsim_score"] <= 4.0, r
        assert r["c_mdoc"] >= 3 > r["q_mdoc"], r
    assert len(by_q) == 3
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == [1, 2, 3, 4, 5]
        scores = [r["maxsim_score"] for r in rs]
        assert scores == sorted(scores, reverse=True), (q, scores)
