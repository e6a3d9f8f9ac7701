"""Graph queries (``suite.graph``): PageRank, triangles, shortest paths,
degree statistics, assortativity, TextRank and Markov chains against
brute-force replays and hand-built graphs."""

from __future__ import annotations

import re
from itertools import combinations

import duckdb
import numpy as np
import pandas as pd
import pytest

from map_reduce_implementation_spark.suite import all_queries

from .conftest import SF0001, _write


QS = all_queries()


def test_shortest_paths_python_bfs(spark):
    """A collections.deque BFS over the collected edge list reproduces
    the hop histogram exactly."""
    from collections import deque

    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.graph import _BFS_HOPS, _BFS_SOURCE

    li = table(spark, SF0001, "lineitem").select("l_orderkey", "l_suppkey")
    orders = table(spark, SF0001, "orders").select("o_orderkey", "o_custkey")
    pairs = {
        (r["l_suppkey"], -(r["o_custkey"] + 1))
        for r in li.join(
            orders, li["l_orderkey"] == orders["o_orderkey"]
        ).collect()
    }
    adj: dict[int, set[int]] = {}
    for s, c in pairs:
        adj.setdefault(s, set()).add(c)
        adj.setdefault(c, set()).add(s)

    dist = {_BFS_SOURCE: 0}
    dq = deque([_BFS_SOURCE])
    while dq:
        u = dq.popleft()
        if dist[u] >= _BFS_HOPS:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                dq.append(v)
    hist: dict[int, list[int]] = {}
    for node, h in dist.items():
        hist.setdefault(h, []).append(node)

    got = QS["graph_shortest_paths"].build(spark, SF0001).collect()
    assert {r["hops"] for r in got} == set(hist)
    for r in got:
        nodes = hist[r["hops"]]
        assert r["n_nodes"] == len(nodes)
        assert r["min_node"] == min(nodes)
        assert r["max_node"] == max(nodes)


def _bfs_tables(tmp_path, orders, lineitems):
    """Write ``orders`` as (orderkey, custkey) and ``lineitems`` as
    (orderkey, suppkey) rows, the only columns the trade graph reads."""
    _write(tmp_path, "orders", pd.DataFrame(orders, columns=["o_orderkey", "o_custkey"]))
    _write(
        tmp_path, "lineitem", pd.DataFrame(lineitems, columns=["l_orderkey", "l_suppkey"])
    )
    return str(tmp_path)


def _bfs_against_oracle(spark, sf):
    """Run the BFS query on ``sf`` and its DuckDB oracle on the same
    tables; assert they agree exactly and return the sorted rows."""
    from map_reduce_implementation_spark.plans.audit import fingerprint, formatted_plan
    from map_reduce_implementation_spark.suite.graph import _shortest_paths_oracle
    from tools.check_values import compare_frames

    df = QS["graph_shortest_paths"].build(spark, sf)
    # one lazy plan: the fact scans sit in the final plan, not in a checkpoint
    assert fingerprint(formatted_plan(df))["table_scans"] == {"lineitem": 1, "orders": 1}
    got = df.toPandas()
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    verdict, detail = compare_frames(got, con.execute(_shortest_paths_oracle()).df())
    assert verdict == "exact", detail
    return sorted(tuple(int(v) for v in r) for r in got.itertuples(index=False))


def test_shortest_paths_every_round_against_oracle(spark, tmp_path):
    """A hand-built graph with a node at each of hops 1-4 (node ids:
    supplier s, customer -(custkey + 1)). Customer 2 sits at hop 5, past
    the bound; suppliers 0 and 7 with customer 9 form a component the
    source never reaches; the pair (supplier 1, customer 3) comes from
    three lineitems, two in one order. Supplier 4 and customer 1 are
    also reachable by longer walks, so only the shortest must count."""
    from map_reduce_implementation_spark.suite.graph import _BFS_HOPS, _BFS_SOURCE

    assert (_BFS_SOURCE, _BFS_HOPS) == (1, 4)
    sf = _bfs_tables(
        tmp_path,
        orders=[(1, 0), (2, 3), (3, 3), (4, 1), (5, 2), (6, 9)],
        lineitems=[
            (1, 1), (1, 2), (1, 4),
            (2, 1), (2, 1), (3, 1),
            (4, 2), (4, 4), (4, 3),
            (5, 3),
            (6, 0), (6, 7),
        ],
    )
    assert _bfs_against_oracle(spark, sf) == [
        (0, 1, 1, 1),
        (1, 2, -4, -1),  # customers 0 and 3
        (2, 2, 2, 4),  # suppliers 2 and 4
        (3, 1, -2, -2),  # customer 1
        (4, 1, 3, 3),  # supplier 3
    ]


def test_shortest_paths_source_without_lineitems(spark, tmp_path):
    """A source supplier with no lineitems still reports its hop-0 row,
    and nothing else."""
    sf = _bfs_tables(
        tmp_path,
        orders=[(1, 0), (2, 5)],
        lineitems=[(1, 2), (1, 3), (2, 3)],
    )
    assert _bfs_against_oracle(spark, sf) == [(0, 1, 1, 1)]


def _docs(spark, sf):
    from map_reduce_implementation_spark.sources import table

    return sorted(
        table(spark, sf, "documents").select("doc_id", "lang", "text").collect(),
        key=lambda r: r["doc_id"],
    )


def _toks(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def test_textrank_python_replay(spark):
    """A dict-based PageRank over the co-occurrence graph reproduces
    the top-20 keywords, their ranks, and 9-dp scores."""
    from map_reduce_implementation_spark.suite.graph import TR_DAMPING, TR_ITERS, TR_TOP_K

    und = set()
    for r in _docs(spark, SF0001):
        ts = _toks(r["text"])
        for a, b in zip(ts, ts[1:]):
            if a != b:
                und.add((a, b))
    edges = und | {(b, a) for a, b in und}
    out: dict[str, list[str]] = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    nodes = sorted(out)
    n = len(nodes)
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(TR_ITERS):
        contrib: dict[str, float] = {}
        for s in nodes:
            share = pr[s] / len(out[s])
            for d in out[s]:
                contrib[d] = contrib.get(d, 0.0) + share
        pr = {
            v: (1.0 - TR_DAMPING) / n + TR_DAMPING * contrib.get(v, 0.0)
            for v in nodes
        }
    expect = sorted(
        ((round(p, 9), v) for v, p in pr.items()), key=lambda t: (-t[0], t[1])
    )[:TR_TOP_K]

    got = sorted(
        QS["text_textrank_keywords"].build(spark, SF0001).collect(),
        key=lambda r: r["keyword_rank"],
    )
    assert len(got) == min(TR_TOP_K, n)
    for r, (score, term) in zip(got, expect):
        assert r["term"] == term
        assert abs(r["score"] - score) < 2e-9


def test_markov_stationary_numpy_replay(spark):
    """A numpy power-iteration replay over the transition matrix
    reproduces every state's 9-dp stationary mass, and total mass is
    conserved (every event type occurs as a predecessor)."""
    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.graph import MK_ITERS

    ev = sorted(
        table(spark, SF0001, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    cells: dict[tuple[str, str], int] = {}
    prev_user, prev_type = None, None
    for r in ev:
        if r["user_id"] == prev_user:
            cells[(prev_type, r["event_type"])] = (
                cells.get((prev_type, r["event_type"]), 0) + 1
            )
        prev_user, prev_type = r["user_id"], r["event_type"]
    states = sorted({p for p, _ in cells})
    idx = {s: i for i, s in enumerate(states)}
    P = np.zeros((len(states), len(states)))
    for (p, nxt), c in cells.items():
        if nxt in idx:
            P[idx[p], idx[nxt]] = c
    rowsum = np.array(
        [sum(c for (p, _), c in cells.items() if p == s) for s in states]
    )
    P = P / rowsum[:, None]
    # mass conservation requires every successor to also be a state
    assert {nxt for _, nxt in cells} <= set(states)
    pi = np.full(len(states), 1.0 / len(states))
    for _ in range(MK_ITERS):
        pi = pi @ P
    got = {r["event_type"]: r["stationary_prob"]
           for r in QS["events_markov_stationary"].build(spark, SF0001).collect()}
    assert set(got) == set(states)
    for s in states:
        assert abs(got[s] - pi[idx[s]]) < 2e-9
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_markov_sink_only_state(spark, tmp_path):
    """A type that only ever ENDS sequences is not a chain state (it
    has no outgoing row); mass flowing into it leaves the tracked
    state set — both engines agree on the resulting vector."""
    from map_reduce_implementation_spark.suite.graph import _markov_stationary_oracle

    rows = [
        (1, pd.Timestamp("2024-01-01 00:00:00"), 1, "view", 1.0, "{}"),
        (2, pd.Timestamp("2024-01-01 00:01:00"), 1, "buy", 1.0, "{}"),
        (3, pd.Timestamp("2024-01-01 00:00:00"), 2, "view", 1.0, "{}"),
        (4, pd.Timestamp("2024-01-01 00:01:00"), 2, "buy", 1.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    path = str(tmp_path / "events.parquet")
    pdf.to_parquet(path)

    got = QS["events_markov_stationary"].build(spark, str(tmp_path)).collect()
    # 'buy' never precedes anything -> the only state is 'view', and
    # all of view's mass flows to the untracked sink each step
    assert [(r["event_type"], r["stationary_prob"]) for r in got] == [
        ("view", 0.0)
    ]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    odf = con.execute(_markov_stationary_oracle()).df()
    assert len(odf) == 1
    assert odf["event_type"][0] == "view"
    assert odf["stationary_prob"][0] == 0.0


def test_degree_stats_mass_conservation(spark):
    """The degree census conserves edge mass: Σ sum_deg over buckets =
    2 × |undirected pair set| = |directed edge list|."""
    from map_reduce_implementation_spark.suite.graph import _trade_edges

    sf = "/root/testdata/sf0.001"
    rows = QS["graph_degree_stats"].build(spark, sf).collect()
    total = sum(r["sum_deg"] for r in rows)
    assert total == _trade_edges(spark, sf).count()
    assert all(r["min_deg"] >= 10 ** (r["digits"] - 1) for r in rows)
    assert all(r["max_deg"] < 10 ** r["digits"] for r in rows)


def test_assortativity_star_graph(spark, tmp_path):
    """A star trade graph (one supplier, three customers) is perfectly
    disassortative: r = -1 in both engines."""
    from map_reduce_implementation_spark.suite.graph import SQL_GRAPH_ASSORTATIVITY

    li = _write(
        tmp_path,
        "lineitem",
        pd.DataFrame(
            [(k, 7) for k in range(3)], columns=["l_orderkey", "l_suppkey"]
        ),
    )
    po = _write(
        tmp_path,
        "orders",
        pd.DataFrame(
            [(k, k) for k in range(3)], columns=["o_orderkey", "o_custkey"]
        ),
    )
    r = QS["graph_assortativity"].build(spark, str(tmp_path)).collect()[0]
    assert r["n_directed_edges"] == 6 and r["n_nodes"] == 4
    assert r["assortativity"] == pytest.approx(-1.0, abs=1e-9)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{li}'")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{po}'")
    o = con.execute(SQL_GRAPH_ASSORTATIVITY).df().iloc[0]
    assert float(o["assortativity"]) == pytest.approx(-1.0, abs=1e-9)


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


def test_pagerank_zero_indegree_and_empty_graph(spark):
    """Nodes nobody links to keep their teleport rank (the vector spine
    union), sum(pr) stays 1, and an empty edge list returns empty."""
    from map_reduce_implementation_spark.operators.graph import pagerank

    e = spark.createDataFrame([(1, 2), (2, 1), (3, 1)], "src long, dst long")
    rows = {r["node"]: r["pr"] for r in pagerank(e, iterations=2).collect()}
    assert set(rows) == {1, 2, 3}
    assert abs(sum(rows.values()) - 1.0) < 1e-9
    assert abs(rows[3] - 0.05) < 1e-9  # teleport-only rank, d=0.85, n=3

    empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty).count() == 0

    other = spark.createDataFrame([(7, 8), (8, 7)], "src long, dst long")
    got = {r["node"] for r in pagerank(other, iterations=1).collect()}
    assert got == {7, 8}


def test_pagerank_leaves_nothing_cached(spark):
    """pagerank caches its degree and edge frames for the call only:
    once it returns, no cached plan is left and the only new persisted
    RDD is the returned rank vector's own checkpoint."""
    from map_reduce_implementation_spark.operators.graph import pagerank

    spark.catalog.clearCache()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc

    def persisted():  # getPersistentRDDs() returns a snapshot
        return set(jsc.getPersistentRDDs().keySet())

    before = persisted()
    e = spark.createDataFrame([(1, 2), (2, 1), (3, 1)], "src long, dst long")
    pr = pagerank(e, iterations=2)
    assert cache_manager.isEmpty()
    result_rdd = pr._jdf.queryExecution().analyzed().rdd().id()
    assert persisted() - before == {result_rdd}
    assert pr.count() == 3
