"""Connected-components invariants for the dedup operators — properties
the oracle equality check can't express (it proves Spark == DuckDB, not
that both compute the RIGHT thing)."""

from __future__ import annotations

from map_reduce_implementation_spark.suite import all_queries

from .conftest import SF0001

QS = all_queries()


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
