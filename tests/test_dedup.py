"""Deduplication queries (``suite.dedup``): span and line cuts, prefix
filtering, incremental dedup, cluster census and the LSH band-geometry
table, against Python replays; and the connected-components invariants
of the fuzzy-cluster pipeline, which the oracle equality check can't
express (it proves Spark == DuckDB, not that both compute the RIGHT
thing)."""

from __future__ import annotations

import hashlib
import re

from map_reduce_implementation_spark.sources import table
from map_reduce_implementation_spark.suite import all_queries

from .conftest import SF0001


QS = all_queries()


def test_span_removal_consistent_with_detection(spark):
    """kept + removed == total per doc; a doc has removals iff the
    detection query reports repeated windows for it; removal count is
    bounded by (repeated windows + window size - 1)."""
    rem = {
        r["doc_id"]: r
        for r in QS["dedup_span_removal"].build(spark, SF0001).collect()
    }
    det = {
        r["doc_id"]: r
        for r in QS["dedup_repeated_substrings"].build(spark, SF0001).collect()
    }
    assert rem, "no docs"
    for doc_id, r in rem.items():
        assert r["kept_tokens"] + r["n_removed"] == r["n_tokens"], r
        d = det.get(doc_id)
        n_rep = d["n_repeated"] if d else 0
        assert (r["n_removed"] > 0) == (n_rep > 0), (r, d)
        if n_rep:
            # each repeated window covers 10 positions; disjoint windows
            # bound the union above, overlapping ones below
            assert r["n_removed"] <= 10 * n_rep, (r, d)
            assert r["n_removed"] >= 10, r  # at least one full window


def test_prefix_filter_lossless(spark):
    """The prefix-filtered join returns EXACTLY the plain quadratic
    join's pairs and scores — the losslessness theorem, checked
    end-to-end (this is the entry's whole claim; df-capping and
    MinHash banding cannot pass this test)."""
    plain = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in QS["dedup_ngram_jaccard"].build(spark, SF0001).collect()
    }
    pf = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in QS["dedup_prefix_filter_pairs"].build(spark, SF0001).collect()
    }
    assert pf.keys() == plain.keys()
    assert plain, "corpus must contain J >= 0.5 pairs"
    for k in plain:
        assert abs(pf[k] - plain[k]) < 1e-12


def _tokens(text: str) -> list[str]:
    import re

    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def test_line_dedup_reassembly_and_global_counts(spark):
    """C4 segment dedup: per-doc counts are consistent, the corpus-wide
    kept total equals the number of DISTINCT segments (each distinct
    segment survives exactly once), and a pure-Python keep-first
    replay reproduces every doc's kept_hash."""
    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.dedup import SEG_TOKENS

    docs = sorted(
        table(spark, SF0001, "documents").select("doc_id", "text").collect(),
        key=lambda r: r["doc_id"],
    )
    seen: set[str] = set()
    expect: dict[int, tuple[int, int, str]] = {}
    total_distinct = 0
    for r in docs:
        ts = _tokens(r["text"])
        segs = [
            " ".join(ts[i : i + SEG_TOKENS])
            for i in range(0, len(ts), SEG_TOKENS)
        ]
        kept = []
        for s in segs:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        if segs:
            expect[r["doc_id"]] = (
                len(segs),
                len(kept),
                hashlib.md5(" ".join(kept).encode()).hexdigest(),
            )
        total_distinct += len(kept)
    rows = QS["dedup_line_level"].build(spark, SF0001).collect()
    assert len(rows) == len(expect)
    for r in rows:
        n_seg, n_kept, kept_hash = expect[r["doc_id"]]
        assert (r["n_segments"], r["n_kept"], r["kept_hash"]) == (
            n_seg,
            n_kept,
            kept_hash,
        ), r["doc_id"]
    assert sum(r["n_kept"] for r in rows) == len(seen) == total_distinct


def test_incremental_dedup_python_replay(spark):
    """Asymmetric crawl-delta dedup: exact flags replay from old-corpus
    hashes, near_dup_of always points at an OLD doc, and the keep
    decision is exactly (not exact) AND (no near-dup)."""
    import hashlib as _h

    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.dedup import NEW_MOD, NEW_REM

    rows = QS["dedup_incremental"].build(spark, SF0001).collect()
    docs = table(spark, SF0001, "documents").select("doc_id", "text").collect()
    old_hashes = {
        _h.md5(r["text"].encode()).hexdigest()
        for r in docs
        if r["doc_id"] % NEW_MOD != NEW_REM
    }
    by_id = {r["doc_id"]: r["text"] for r in docs}
    n_new = sum(1 for r in docs if r["doc_id"] % NEW_MOD == NEW_REM)
    assert len(rows) == n_new
    for r in rows:
        assert r["doc_id"] % NEW_MOD == NEW_REM
        expect_exact = (
            _h.md5(by_id[r["doc_id"]].encode()).hexdigest() in old_hashes
        )
        assert r["is_exact_dup"] == expect_exact, r["doc_id"]
        if r["near_dup_of"] is not None:
            assert r["near_dup_of"] % NEW_MOD != NEW_REM, r
        assert r["is_kept"] == (
            not r["is_exact_dup"] and r["near_dup_of"] is None
        ), r


def _docs(spark):
    from map_reduce_implementation_spark.sources import table

    return sorted(
        table(spark, SF0001, "documents").select(
            "doc_id", "text", "lang", "source"
        ).collect(),
        key=lambda r: r["doc_id"],
    )


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


def test_fuzzy_clusters_consistency(spark):
    """CC postconditions: every doc appears exactly once, both ends of
    every verified near-dup pair land in the same cluster, cluster id
    is the minimum member id, and is_kept marks exactly that member."""
    from map_reduce_implementation_spark.operators.dedup import jaccard_pairs
    from map_reduce_implementation_spark.suite.dedup import FUZZY_MAX_DF
    from map_reduce_implementation_spark.suite.base import shingles as _shingles

    rows = QS["dedup_fuzzy_clusters"].build(spark, SF0001).collect()
    by_doc = {r["doc_id"]: r["cluster_id"] for r in rows}
    assert len(by_doc) == len(rows)
    # the pipeline's own edge set: capped pairs at the production max_df
    pairs = jaccard_pairs(
        _shingles(spark, SF0001, 5), threshold=0.5, max_df=FUZZY_MAX_DF
    ).collect()
    assert pairs, "no near-dup pairs at sf0.001"
    for p in pairs:
        assert by_doc[p["d1"]] == by_doc[p["d2"]], p
    members = {}
    for d, c in by_doc.items():
        members.setdefault(c, []).append(d)
    for c, ms in members.items():
        assert c == min(ms), (c, ms)
    for r in rows:
        assert r["is_kept"] == (r["doc_id"] == r["cluster_id"]), r


def test_connected_components_matches_union_find(spark):
    """Property check on random graphs: the distributed min-label loop
    must agree with a pure-Python union-find, including chain graphs
    (diameter ~ n) that exact-dup cliques never exercise."""
    import random

    from map_reduce_implementation_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(42)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(10, 30))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        edges.append((30, 31))  # plus a deterministic 8-hop chain
        edges.extend((i, i + 1) for i in range(31, 38))

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {x: find(x) for x in range(n)}
        # union-find roots are not guaranteed minimal: normalize so the
        # label of each component is its minimum member
        comp_min = {}
        for x, r in expected.items():
            comp_min[r] = min(comp_min.get(r, x), x)
        expected = {x: comp_min[r] for x, r in expected.items()}

        e_df = spark.createDataFrame(edges, "src long, dst long")
        n_df = spark.createDataFrame([(i,) for i in range(n)], "node long")
        got = {
            r["node"]: r["label"]
            for r in connected_components(e_df, n_df).collect()
        }
        assert got == expected, (trial, sorted(set(got.items()) ^ set(expected.items())))


def test_connected_components_warns_on_truncation(spark):
    """A chain deeper than max_iter must WARN (silently under-merged
    labels were the old failure mode)."""
    import warnings

    from map_reduce_implementation_spark.operators.dedup import (
        connected_components,
    )

    chain = [(i, i + 1) for i in range(10)]
    e_df = spark.createDataFrame(chain, "src long, dst long")
    n_df = spark.createDataFrame([(i,) for i in range(11)], "node long")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        connected_components(e_df, n_df, max_iter=2).collect()
    assert any("not converged" in str(x.message) for x in w)
