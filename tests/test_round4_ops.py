"""Semantic invariants for the sketch, graph, dedup and probe operators —
properties the oracle equality check can't express (it proves Spark ==
DuckDB, not that both compute the RIGHT thing)."""

from __future__ import annotations

from itertools import combinations

from map_reduce_implementation_spark.suite import all_queries

from .conftest import SF0001

QS = all_queries()


def test_bloom_flagged_is_superset_of_exact(spark):
    """Bloom filters have no false negatives: every exact overlap term
    must also be Bloom-flagged (flagged >= exact, per doc)."""
    rows = QS["bloom_decontaminate"].build(spark, SF0001).collect()
    assert rows, "no training docs"
    for r in rows:
        assert r["n_bloom_flagged"] >= r["n_exact"], r
        assert 0 <= r["n_exact"] <= r["n_terms"], r


def test_triangle_count_matches_bruteforce(spark):
    """Degree-oriented wedge join == brute-force triangle enumeration
    on the (small) sf0.001 co-occurrence graph."""
    from pyspark.sql import functions as F

    from map_reduce_implementation_spark.sources import table

    li = (
        table(spark, SF0001, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    by_order: dict[int, set[int]] = {}
    for r in li:
        by_order.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    edges = set()
    for parts in by_order.values():
        for a, b in combinations(sorted(parts), 2):
            edges.add((a, b))
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected: dict[int, int] = {}
    for a, b in edges:
        for c in adj[a] & adj[b]:
            if c > b:  # a < b < c: count each triangle once
                for n in (a, b, c):
                    expected[n] = expected.get(n, 0) + 1
    got = {
        r["node_id"]: r["n_triangles"]
        for r in QS["graph_triangle_count"].build(spark, SF0001).collect()
    }
    assert got == expected


def test_linear_probe_output_sane(spark):
    """Probe returns one weight per dimension, finite values, and a
    single accuracy in [0, 1] (0.5 = chance for the balanced target)."""
    rows = QS["embedding_linear_probe"].build(spark, SF0001).collect()
    assert len(rows) == 64
    accs = {r["train_accuracy"] for r in rows}
    assert len(accs) == 1
    assert 0.0 <= accs.pop() <= 1.0
    assert all(abs(r["weight"]) < 1e3 for r in rows)


def test_pca_power_is_unit_vector(spark):
    """The returned component has unit L2 norm (it was normalized by
    the final iteration) and a positive eigenvalue estimate."""
    rows = QS["embedding_pca_power"].build(spark, SF0001).collect()
    assert len(rows) == 64
    norm2 = sum(r["pc1"] ** 2 for r in rows)
    assert abs(norm2 - 1.0) < 1e-6
    eigs = {r["eigenvalue"] for r in rows}
    assert len(eigs) == 1 and eigs.pop() > 0


def test_winnow_covers_every_long_doc(spark):
    """Winnowing selects >= 1 fingerprint for every doc with at least
    k + w - 1 tokens (the first full window exists)."""
    from pyspark.sql import functions as F

    from map_reduce_implementation_spark.functions import tokens
    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.text import WN_K, WN_W

    d = table(spark, SF0001, "documents")
    long_docs = {
        r["doc_id"]
        for r in d.select(
            "doc_id", F.size(tokens(F.col("text"))).alias("n")
        ).collect()
        if r["n"] >= WN_K + WN_W - 1
    }
    fp_docs = {
        r["doc_id"]
        for r in QS["text_winnow_graded"]
        .build(spark, SF0001)
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert long_docs <= fp_docs


def test_minhash_graded_pairs_have_high_jaccard_bands(spark):
    """Every candidate pair collides on 1..4 bands, doc_a < doc_b, and
    no pair is duplicated."""
    rows = QS["dedup_minhash_graded"].build(spark, SF0001).collect()
    seen = set()
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert 1 <= r["n_bands"] <= 4
        key = (r["doc_a"], r["doc_b"])
        assert key not in seen
        seen.add(key)


def test_simhash_graded_hamming_bound(spark):
    """Every reported pair is within the hamming threshold and ordered."""
    from map_reduce_implementation_spark.suite.stats import SH_MAX_HAMMING

    rows = QS["dedup_simhash_graded"].build(spark, SF0001).collect()
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert 0 <= r["hamming"] <= SH_MAX_HAMMING


def test_gopher_gate_survives_zero_token_docs(spark, tmp_path):
    """A doc with no [a-z0-9] tokens (pure punctuation — exactly what a
    quality gate exists to drop) must yield NULL ratios and keep=false
    in BOTH engines, not an ANSI DIVIDE_BY_ZERO (latent: the generated
    corpora contain no such docs)."""
    import duckdb

    sf = str(tmp_path)
    spark.createDataFrame(
        [
            (1, "### !!! …", "en", "web", 9),
            (2, "the and for with that this are was has not one data", "en", "web", 52),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")
    from map_reduce_implementation_spark.sources import invalidate

    invalidate(spark, sf)
    rows = {r["doc_id"]: r for r in QS["gopher_quality_gate"].build(spark, sf).collect()}
    assert rows[1]["n_words"] == 0
    assert rows[1]["mean_word_len"] is None
    assert rows[1]["symbol_ratio"] is None
    assert rows[1]["keep"] is False

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'")
    orows = {
        r[0]: r
        for r in con.execute(QS["gopher_quality_gate"].oracle).fetchall()
    }
    cols = [d[0] for d in con.execute(QS["gopher_quality_gate"].oracle).description]
    o1 = dict(zip(cols, orows[1]))
    assert o1["mean_word_len"] is None and o1["symbol_ratio"] is None
    assert bool(o1["keep"]) is False
    invalidate(spark, sf)


def test_pagerank_zero_indegree_and_empty_graph(spark):
    """Nodes nobody links to keep their teleport rank (the vector spine
    union), sum(pr) stays 1, an empty edge list returns empty, and the
    session memo never conflates different in-memory graphs."""
    from map_reduce_implementation_spark.operators.graph import (
        pagerank,
        pagerank_release,
    )

    e = spark.createDataFrame([(1, 2), (2, 1), (3, 1)], "src long, dst long")
    rows = {r["node"]: r["pr"] for r in pagerank(e, iterations=2).collect()}
    assert set(rows) == {1, 2, 3}
    assert abs(sum(rows.values()) - 1.0) < 1e-9
    assert abs(rows[3] - 0.05) < 1e-9  # teleport-only rank, d=0.85, n=3

    empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty).count() == 0

    other = spark.createDataFrame([(7, 8), (8, 7)], "src long, dst long")
    got = {r["node"] for r in pagerank(other, iterations=1).collect()}
    assert got == {7, 8}  # not conflated with the 3-node graph's memo
    pagerank_release(spark)


def test_hll_estimate_within_expected_error(spark):
    """HLL with m=256 registers has relative standard error
    1.04/sqrt(256) ~= 6.5%; assert every per-type estimate lands within
    4 sigma of the exact distinct count, and the register/bucket
    accounting stays inside the sketch's bounds."""
    rows = QS["hll_distinct_graded"].build(spark, SF0001).collect()
    assert rows, "no event types"
    for r in rows:
        assert 0 < r["observed_buckets"] <= 256, r
        assert r["hll_estimate"] > 0, r
        rel = abs(r["hll_estimate"] - r["exact_distinct"]) / r["exact_distinct"]
        assert rel < 4 * 1.04 / 16, r


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


def test_hll_registers_merge_by_max(spark):
    """The 100 TB mergeability claim, exercised: HLL registers built on
    two disjoint halves of the event stream, merged by bucket-wise MAX,
    must equal the registers built on the full stream in one pass."""
    from pyspark.sql import functions as F

    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.stats import hll_registers

    e = table(spark, SF0001, "events")
    full = hll_registers(e, "event_type", F.col("user_id"))
    half_a = hll_registers(
        e.filter(F.col("event_id") % 2 == 0), "event_type", F.col("user_id")
    )
    half_b = hll_registers(
        e.filter(F.col("event_id") % 2 == 1), "event_type", F.col("user_id")
    )
    merged = (
        half_a.unionByName(half_b)
        .groupBy("event_type", "bucket")
        .agg(F.max("mreg").alias("mreg"))
    )
    key = lambda rows: sorted((r["event_type"], r["bucket"], r["mreg"]) for r in rows)
    assert key(merged.collect()) == key(full.collect())


def test_minhash_jaccard_est_identity_invariants(spark):
    """MinHash identity checks: estimates are multiples of 1/16 in
    [0,1]; identical token sets (exact Jaccard 1.0) force identical
    signatures, so the estimate must be exactly 1.0 there."""
    rows = QS["dedup_minhash_jaccard_est"].build(spark, SF0001).collect()
    assert rows, "no candidate pairs"
    for r in rows:
        k = r["est_jaccard"] * 16
        assert abs(k - round(k)) < 1e-9 and 0.0 <= r["est_jaccard"] <= 1.0, r
        assert 0.0 <= r["exact_jaccard"] <= 1.0, r
        if r["exact_jaccard"] == 1.0:
            assert r["est_jaccard"] == 1.0, r


def test_cms_cells_merge_by_sum(spark):
    """CMS mergeability, exercised: cells built on two disjoint halves
    of the corpus, merged by cell-wise SUM, must equal the cells built
    on the full corpus in one pass."""
    from pyspark.sql import functions as F

    from map_reduce_implementation_spark.functions import tokens as _tokens
    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.stats import cms_cells

    d = table(spark, SF0001, "documents")

    def counts(df):
        return (
            df.select(F.explode(_tokens(F.col("text"))).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("exact_cnt"))
        )

    full = cms_cells(counts(d))
    merged = (
        cms_cells(counts(d.filter(F.col("doc_id") % 2 == 0)))
        .unionByName(cms_cells(counts(d.filter(F.col("doc_id") % 2 == 1))))
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    key = lambda rows: sorted((r["d"], r["bucket"], r["cnt"]) for r in rows)
    assert key(merged.collect()) == key(full.collect())


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
