"""Graph and iterative-propagation queries: PageRank, triangles,
shortest paths, degree census and assortativity over the
supplier-customer trade graph, TextRank keywords, Markov transition
matrices and stationary distributions, and recursive event chains.

The trade graph has one undirected edge per (supplier, customer) pair
that traded, emitted in both directions so every node has out-degree
≥ 1. Customer nodes map to ``-(custkey + 1)``: the synthetic keys start
at 0, so plain negation would merge supplier 0 with customer 0, and a
fixed offset collides once the supplier count outgrows it. Oracles
unroll the same fixed-point iteration into one CTE per step (SQL cannot
aggregate inside a recursive CTE); only summation order differs, and
ROUND 9 absorbs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import tokens as _tokens
from ..operators.graph import pagerank
from ..sources import table
from .base import SQL_TOKENS, Query, bigrams

TR_ITERS = 3  # TextRank power iterations (the pagerank default)
TR_DAMPING = 0.85
TR_TOP_K = 20  # keywords reported


def _word_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """DataFrame[prev, cur] — adjacent-token pairs per document
    (``base.bigrams``, as in ``corpus.q_bigram_logprob``)."""
    d = table(spark, sf, "documents")
    ts = _tokens(F.col("text"))
    return d.select(F.explode(bigrams(ts)).alias("b")).select(
        "b.prev", "b.cur"
    )


def q_textrank_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """TextRank keywords: PageRank (d={TR_DAMPING}, {TR_ITERS}
    iterations) on the undirected word co-occurrence graph (an edge
    per distinct adjacent token pair, both directions, self-loops
    dropped), top-{TR_TOP_K} words by rank.

    Plan: edge building is one corpus pass ending in a
    vocabulary²-bounded distinct, checkpointed; the iteration machinery
    is ``operators/graph.py::pagerank`` unchanged (one edge-keyed
    shuffle + one node-keyed agg per round, rank vector never on the
    driver), so TextRank inherits its celebrity-node story. The top-k
    is a TakeOrderedAndProject on (rounded score, term) and the rank
    window runs on {TR_TOP_K} rows."""
    und = (
        _word_pairs(spark, sf)
        .filter(F.col("prev") != F.col("cur"))
        .select(F.col("prev").alias("src"), F.col("cur").alias("dst"))
    )
    edges = und.unionAll(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=True)  # pagerank reads it twice
    pr = pagerank(edges, iterations=TR_ITERS, damping=TR_DAMPING)
    top = (
        pr.select(
            F.col("node").alias("term"), F.round("pr", 9).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(TR_TOP_K)
    )
    w = Window.orderBy(F.desc("score"), F.asc("term"))
    return top.select(
        F.row_number().over(w).alias("keyword_rank"), "term", "score"
    )


def _textrank_oracle(iters: int = TR_ITERS) -> str:
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f"""pr{k} AS (
  SELECT d0.src AS node,
    (1.0 - {TR_DAMPING}) / n.n_nodes + {TR_DAMPING} * COALESCE(t.s, 0.0) AS pr
  FROM deg d0
  LEFT JOIN (
    SELECT e.dst AS node, SUM(p.pr / d.outdeg) AS s
    FROM edges e
    JOIN pr{k - 1} p ON e.src = p.node
    JOIN deg d ON e.src = d.src
    GROUP BY e.dst
  ) t ON d0.src = t.node
  CROSS JOIN n
)"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH t AS (
  SELECT {SQL_TOKENS} AS toks
  FROM documents
), bg AS (
  SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS b
  FROM t WHERE len(toks) >= 2
), und AS (
  SELECT DISTINCT b[1] AS src, b[2] AS dst FROM bg WHERE b[1] <> b[2]
),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM und UNION ALL SELECT dst AS src, src AS dst FROM und
  )
),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
n AS (SELECT COUNT(*) AS n_nodes FROM deg),
pr0 AS (SELECT src AS node, 1.0 / n.n_nodes AS pr FROM deg CROSS JOIN n),
{chain}
SELECT CAST(ROW_NUMBER() OVER (ORDER BY ROUND(pr, 9) DESC, node ASC)
    AS INTEGER) AS keyword_rank,
  node AS term, ROUND(pr, 9) AS score
FROM pr{iters}
ORDER BY score DESC, term ASC LIMIT {TR_TOP_K}
"""


def q_graph_degree_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Trade-graph degree census bucketed by the degree's decimal
    digit count (an exact integer bucket — no float log at bucket
    boundaries): nodes, degree range, and edge mass per bucket. The
    skew report that decides whether the edge-keyed joins
    (pagerank/BFS/triangles) need a celebrity-node salt: a fat top
    bucket holding most of the edge mass says yes.

    Plan: one degree aggregate over the edge list, then a
    |buckets|-cell rollup — entirely integer."""
    deg = (
        _trade_edges(spark, sf)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        deg.groupBy(
            F.length(F.col("deg").cast("string")).alias("digits")
        )
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("deg").alias("min_deg"),
            F.max("deg").alias("max_deg"),
            F.sum("deg").alias("sum_deg"),
        )
        .orderBy("digits")
    )


SQL_GRAPH_DEGREE_STATS = """
WITH pairs AS (
  SELECT DISTINCT l.l_suppkey AS s, -(o.o_custkey + 1) AS c
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT s AS src, c AS dst FROM pairs
  UNION ALL
  SELECT c AS src, s AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1)
SELECT length(CAST(deg AS VARCHAR)) AS digits,
  COUNT(*) AS n_nodes, MIN(deg) AS min_deg, MAX(deg) AS max_deg,
  CAST(SUM(deg) AS BIGINT) AS sum_deg
FROM deg GROUP BY 1 ORDER BY 1
"""


_ITERS = 3


def _trade_edges(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    orders = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    # the join+distinct feeds BOTH union branches, and pagerank and
    # assortativity read the edge list more than once — lazily every
    # consumer ran the fact join per reference (graph_degree_stats: 8
    # parquet scans for one census). Checkpointed, each call scans
    # lineitem and orders once.
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("l_suppkey").alias("s"),
            (-(F.col("o_custkey") + F.lit(1))).alias("c"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    fwd = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    rev = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    return fwd.unionAll(rev)


def q_graph_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """3-iteration PageRank (d=0.85) on the trade graph. One edge-keyed
    shuffle join + one dst-keyed agg per iteration; the rank vector
    stays distributed (only N reaches the driver). See
    ``operators/graph.py`` for the 100 TB notes (celebrity-node salting,
    the co-partitioned loop)."""
    pr = pagerank(_trade_edges(spark, sf), iterations=_ITERS, damping=0.85)
    return pr.select(
        F.col("node").alias("node_id"), F.round("pr", 9).alias("pagerank")
    )


def _pagerank_oracle(iters: int = _ITERS) -> str:
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f"""pr{k} AS (
  SELECT d0.src AS node,
    (1.0 - 0.85) / n.n_nodes + 0.85 * COALESCE(t.s, 0.0) AS pr
  FROM deg d0
  LEFT JOIN (
    SELECT e.dst AS node, SUM(p.pr / d.outdeg) AS s
    FROM edges e
    JOIN pr{k - 1} p ON e.src = p.node
    JOIN deg d ON e.src = d.src
    GROUP BY e.dst
  ) t ON d0.src = t.node
  CROSS JOIN n
)"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH pairs AS (
  SELECT DISTINCT l.l_suppkey AS s, -(o.o_custkey + 1) AS c
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT s AS src, c AS dst FROM pairs
  UNION ALL
  SELECT c AS src, s AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
n AS (SELECT COUNT(*) AS n_nodes FROM deg),
pr0 AS (SELECT src AS node, 1.0 / n.n_nodes AS pr FROM deg CROSS JOIN n),
{chain}
SELECT node AS node_id, ROUND(pr, 9) AS pagerank FROM pr{iters}
"""


def q_graph_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Per-node triangle counts on the part co-occurrence graph (parts
    sharing an order are connected; the trade graph is bipartite and
    triangle-free by construction, so this uses the co-purchase
    projection — the graph behind substitutability/bundling analyses).

    Algorithm: DEGREE-ORIENTED wedge join (the standard distributed
    triangle count): orient every undirected edge from its lower-
    (degree, id) endpoint to the higher one, join out-edges on the
    shared source to form wedges, close each wedge against the
    canonical edge list. Orientation bounds every node's out-degree by
    O(sqrt(m)), so the wedge intermediate is O(m^1.5) worst case
    instead of Σ deg² — the difference between a plan that survives a
    celebrity node and one that doesn't. Joins shuffle on node ids;
    counts are exact integers."""
    li = (
        table(spark, sf, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("lo"), F.col("b.l_partkey").alias("hi"))
        .distinct()
        # materialize: the edge list is referenced by deg (twice), the
        # orientation join and the wedge-closing join — without a
        # concrete node the DataFrame DAG replays the lineitem
        # self-join per reference (measured fingerprint: 44 scans /
        # 45 shuffles -> 8/8). A cluster run would persist to parquet.
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.select(F.col("lo").alias("node"))
        .unionAll(edges.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    oriented = (
        edges.join(da, edges["lo"] == F.col("da.node"))
        .join(db, edges["hi"] == F.col("db.node"))
        .select(
            F.when(F.col("da.d") <= F.col("db.d"), F.col("lo"))
            .otherwise(F.col("hi"))
            .alias("src"),
            F.when(F.col("da.d") <= F.col("db.d"), F.col("hi"))
            .otherwise(F.col("lo"))
            .alias("dst"),
        )
        .localCheckpoint(eager=True)  # referenced twice by the wedge join
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src")) & (F.col("o1.dst") < F.col("o2.dst")),
    ).select(
        F.col("o1.src").alias("u"),
        F.col("o1.dst").alias("v"),
        F.col("o2.dst").alias("w"),
    )
    # the wedge join's o1.dst < o2.dst guarantees v < w, so (v, w) is
    # already in canonical (lo, hi) order — close directly
    tri = wedges.join(
        edges,
        (F.col("v") == edges["lo"]) & (F.col("w") == edges["hi"]),
    ).select("u", "v", "w")
    return (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node_id"))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


SQL_GRAPH_TRIANGLE_COUNT = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT lo AS node FROM edges UNION ALL SELECT hi FROM edges
  ) GROUP BY node
),
o AS (
  SELECT CASE WHEN da.d <= db.d THEN lo ELSE hi END AS src,
         CASE WHEN da.d <= db.d THEN hi ELSE lo END AS dst
  FROM edges JOIN deg da ON edges.lo = da.node
             JOIN deg db ON edges.hi = db.node
),
wedges AS (
  SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
  FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst
),
tri AS (
  SELECT u, v, w FROM wedges w0
  JOIN edges e ON e.lo = w0.v AND e.hi = w0.w
)
SELECT node_id, COUNT(*) AS n_triangles FROM (
  SELECT u AS node_id FROM tri
  UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri
) GROUP BY node_id
"""


_BFS_SOURCE = 1  # supplier node 1 (s_suppkey 1 exists at every SF)
_BFS_HOPS = 4


def q_graph_shortest_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded single-source BFS on the trade graph: minimum hop count
    from supplier {_BFS_SOURCE} to every node reachable in ≤
    {_BFS_HOPS} hops, reported as a distance histogram (n_nodes +
    min/max node id per hop level — the reach curve behind
    supply-chain blast-radius and influence analyses). Completes the
    graph family's third iterative idiom next to PageRank (fixpoint on
    values) and connected components (fixpoint on labels): BFS is the
    fixpoint on FRONTIERS.

    Precondition: the graph is bipartite — every edge joins a supplier
    (id ≥ 0) and a customer (id ≤ −1) — and the join keys are NOT NULL
    (TPC-H declares them so). In a bipartite graph the source reaches
    a node on the side of k's parity (customers odd, suppliers even)
    by a walk of exactly k steps iff the node's distance is ≤ k, so
    BFS becomes a chain of reach flags over the pair list
    ``(s, c)`` of ``lineitem ⋈ orders``: ``r0 = (s = source)``, and
    ``r_k`` is ``max(r_(k−1))`` over a window partitioned by ``c``
    for odd k and by ``s`` for even k. A customer's hop is the first
    odd k whose flag is set, a non-source supplier's the first even k.
    ``row_number()`` in the last window of each side keeps one row per
    node, ``stack`` turns the row into its customer and supplier
    entries, and the histogram is one ``groupBy("hops")``. The hop-0
    row is a constant, so a source with no edges still reports it.
    Duplicate pairs change no flag, so there is no ``distinct``. All
    arithmetic is integer → hash-exact against the oracle's unrolled
    CTE chain (the pagerank convention, since standard SQL cannot
    aggregate inside a recursive CTE).

    Job shape: one lazy plan, no checkpoint or cache, so building it
    runs no job and the fact scans stay visible to the plan checks. At
    ``local[4]`` on small tables the action runs 7 jobs (the join's
    broadcast, four window shuffles, the histogram shuffle and the
    result), where a checkpoint per round took 23, 21 of them in
    build. The projections are SQL text (``selectExpr``, as in
    ``exact_scores``): one py4j call per projection, however many
    expressions it holds.

    Scale: each round is one shuffle of the pair list, and round k
    reads only round k−1, so the plan grows linearly with the hop
    bound instead of doubling. A celebrity node (a supplier on most
    orders) becomes one large window partition, which Spark's window
    buffer spills to disk rather than holding in memory."""
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    orders = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    pairs = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).selectExpr(
        "l_suppkey AS s",
        "-(o_custkey + 1) AS c",
        f"l_suppkey = {_BFS_SOURCE} AS r0",
    )
    whens: dict[str, list[str]] = {"c": [], "s": []}
    for k in range(1, _BFS_HOPS + 1):
        node, other = ("c", "s") if k % 2 else ("s", "c")
        w = f"PARTITION BY {node} ORDER BY {other}"
        cols = [
            "*",
            f"max(r{k - 1}) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING"
            f" AND UNBOUNDED FOLLOWING) AS r{k}",
        ]
        if k + 2 > _BFS_HOPS:  # this side's last window: one row per node
            cols.append(f"row_number() OVER ({w}) = 1 AS first_{node}")
        pairs = pairs.selectExpr(*cols)
        whens[node].append(f"WHEN r{k} THEN {k}")
    sides = [(n, " ".join(ws)) for n, ws in whens.items() if ws]
    entries = ", ".join(f"IF(first_{n}, CASE {ws} END, NULL), {n}" for n, ws in sides)
    hist = (
        pairs.selectExpr(f"stack({len(sides)}, {entries}) AS (hops, node)")
        .filter(f"hops IS NOT NULL AND node <> {_BFS_SOURCE}")
        .groupBy("hops")
        .agg(
            F.expr("count(1) AS n_nodes"),
            F.expr("min(node) AS min_node"),
            F.expr("max(node) AS max_node"),
        )
    )
    source = spark.range(1, numPartitions=1).selectExpr(
        "0 AS hops",
        "CAST(1 AS BIGINT) AS n_nodes",
        f"CAST({_BFS_SOURCE} AS BIGINT) AS min_node",
        f"CAST({_BFS_SOURCE} AS BIGINT) AS max_node",
    )
    return source.unionAll(hist)


def _shortest_paths_oracle(hops: int = _BFS_HOPS) -> str:
    steps = []
    for k in range(1, hops + 1):
        steps.append(
            f"""d{k} AS (
  SELECT node, MIN(hops) AS hops FROM (
    SELECT node, hops FROM d{k - 1}
    UNION ALL
    SELECT e.dst AS node, {k} AS hops
    FROM edges e JOIN d{k - 1} p ON e.src = p.node AND p.hops = {k - 1}
  ) GROUP BY node
)"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH pairs AS (
  SELECT DISTINCT l.l_suppkey AS s, -(o.o_custkey + 1) AS c
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT s AS src, c AS dst FROM pairs
  UNION ALL
  SELECT c AS src, s AS dst FROM pairs
),
d0 AS (SELECT CAST({_BFS_SOURCE} AS BIGINT) AS node, 0 AS hops),
{chain}
SELECT hops, COUNT(*) AS n_nodes, MIN(node) AS min_node,
  MAX(node) AS max_node
FROM d{hops} GROUP BY hops
"""


_RECURSIVE_CHAINS = """
WITH RECURSIVE nxt AS (
  SELECT user_id, event_id, ts,
    LEAD(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_id,
    LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
  FROM {src}
),
edges AS (
  SELECT event_id, next_id FROM nxt
  WHERE next_id IS NOT NULL AND next_ts <= ts + INTERVAL 10 MINUTE
),
starts AS (
  SELECT event_id FROM nxt n
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.next_id = n.event_id)
),
walk AS (
  SELECT event_id AS start_id, event_id AS cur, 1 AS len FROM starts
  UNION ALL
  SELECT w.start_id, e.next_id, w.len + 1
  FROM walk w JOIN edges e ON e.event_id = w.cur
)
SELECT start_id, CAST(MAX(len) AS INTEGER) AS chain_len FROM walk GROUP BY start_id
"""


def q_recursive_chains(spark: SparkSession, sf: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, Spark 4.1): sessionization as an
    explicit chain walk — each event's single LEAD successor within 10
    minutes forms a linear chain; the recursion walks chains from their
    starts and reports lengths. Termination is structural (each event
    has ≤1 successor and time strictly increases — a DAG). Each
    iteration is one join stage; depth = longest chain, so state is
    bounded by the data, not the recursion. Complements session_window
    (declarative) and the iterative connected-components dedup
    (driver-loop) as the third stateful-traversal idiom."""
    table(spark, sf, "events").createOrReplaceTempView("events_rc")
    return spark.sql(_RECURSIVE_CHAINS.format(src="events_rc"))


SQL_RECURSIVE_CHAINS = _RECURSIVE_CHAINS.format(src="events")


def q_transition_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next_type | prev_type). One user-keyed window (lag)
    over the stream, then the count/probability aggregation runs on the
    TYPE-PAIR key space — 25 cells regardless of data size, so the
    second shuffle and the probability window are O(|types|²), free at
    any scale. Deterministic sequence order: (ts, event_id) tie-break."""
    from pyspark.sql import Window

    ev = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    cells = seq.groupBy("prev_type", "next_type").agg(
        F.count("*").alias("n_transitions")
    )
    w_prev = Window.partitionBy("prev_type")
    return cells.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(w_prev), 6
        ).alias("prob"),
    )


SQL_TRANSITION_MATRIX = """
WITH seq AS (
  SELECT user_id,
    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
    event_type AS next_type
  FROM events
),
cells AS (
  SELECT prev_type, next_type, COUNT(*) AS n_transitions
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n_transitions,
  ROUND(n_transitions * 1.0 / SUM(n_transitions) OVER (PARTITION BY prev_type), 6) AS prob
FROM cells
"""


MK_ITERS = 5  # stationary-distribution power iterations


def q_markov_stationary(spark: SparkSession, sf: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain:
    {MK_ITERS} power iterations π_{{k+1}} = π_k·P from the uniform
    start, over the same row-stochastic transition matrix
    ``events_transition_matrix`` reports — the long-run share of time
    the event stream spends in each state (the "where does the funnel
    settle" number next to the matrix's one-step view).

    Plan: ONE events scan builds the type-pair cell counts
    (localCheckpoint'd — matrix, state spine, and every iteration
    derive from the materialized |types|² cells, never re-running the
    user-keyed lag window); each iteration is one |types|²-cell join
    + |types|-key aggregate — free at any scale. The LEFT join back
    to the state spine keeps sink-only states at mass 0 instead of
    silently dropping them. Summation-order ulps (~1e-16/iteration)
    are absorbed by the final ROUND 9 — the pagerank convention; the
    oracle unrolls the identical iterations as a CTE chain."""
    from pyspark.sql import Window

    ev = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    cells = (
        seq.groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("nt"))
        .localCheckpoint(eager=True)
    )
    # rowsum and P are |types|- and |types|²-row frames referenced by EVERY
    # unrolled iteration — lazily the rowsum aggregate replayed 6× and the P
    # join 5× (58 Exchanges in the captured before-plan), and each tiny
    # iteration join ran as a shuffle pair that AQE had to re-plan at
    # runtime. Materializing both once and broadcast- hinting the
    # per-iteration joins statically leaves one exchange per iteration (the
    # |types|-key flow aggregate). Same cells, same probabilities, same
    # iteration arithmetic.
    rowsum = (
        cells.groupBy("prev_type")
        .agg(F.sum("nt").alias("row_n"))
        .localCheckpoint(eager=True)
    )
    P = (
        cells.join(F.broadcast(rowsum), "prev_type")
        .select(
            "prev_type",
            "next_type",
            (F.col("nt") / F.col("row_n")).alias("prob"),
        )
        .localCheckpoint(eager=True)
    )
    states = rowsum.select(F.col("prev_type").alias("state"))
    ns = states.agg(F.count(F.lit(1)).alias("n"))
    pi = states.crossJoin(F.broadcast(ns)).select(
        "state", (F.lit(1.0) / F.col("n")).alias("p")
    )
    for _ in range(MK_ITERS):
        flow = (
            pi.join(F.broadcast(P), pi["state"] == P["prev_type"])
            .groupBy("next_type")
            .agg(F.sum(F.col("p") * F.col("prob")).alias("s"))
        )
        pi = states.join(
            F.broadcast(flow), states["state"] == flow["next_type"], "left"
        ).select("state", F.coalesce(F.col("s"), F.lit(0.0)).alias("p"))
    return pi.select(
        F.col("state").alias("event_type"),
        F.round("p", 9).alias("stationary_prob"),
    )


def _markov_stationary_oracle(iters: int = MK_ITERS) -> str:
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f"""pi{k} AS (
  SELECT s.state, COALESCE(t.s, 0.0) AS p
  FROM states s
  LEFT JOIN (
    SELECT tm.next_type AS state, SUM(p.p * tm.prob) AS s
    FROM pi{k - 1} p JOIN tm ON p.state = tm.prev_type
    GROUP BY tm.next_type
  ) t ON s.state = t.state
)"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH seq AS (
  SELECT user_id,
    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
    event_type AS next_type
  FROM events
),
cells AS (
  SELECT prev_type, next_type, COUNT(*) AS nt
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
),
rowsum AS (
  SELECT prev_type, CAST(SUM(nt) AS BIGINT) AS row_n FROM cells GROUP BY 1
),
tm AS (
  SELECT cells.prev_type, cells.next_type, nt * 1.0 / row_n AS prob
  FROM cells JOIN rowsum ON cells.prev_type = rowsum.prev_type
),
states AS (SELECT prev_type AS state FROM rowsum),
ns AS (SELECT COUNT(*) AS n FROM states),
pi0 AS (SELECT state, 1.0 / ns.n AS p FROM states CROSS JOIN ns),
{chain}
SELECT state AS event_type, ROUND(p, 9) AS stationary_prob FROM pi{iters}
"""


def q_graph_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    """Degree assortativity r (Newman 2002, eq. 4) of the trade graph
    over the symmetric directed edge list: Pearson correlation of the
    degrees at the two ends of each edge. One row: directed edge
    count, node count, r. Bipartite customer↔supplier graphs come out
    disassortative (r < 0): high-degree suppliers connect to a spread
    of mostly low-degree customers.

    Determinism: Σjk, Σ(j+k), Σ(j²+k²) are exact integer sums (at
    extreme scale they move to decimal(38,0), noted); r is one
    closed-form double with a zero-variance CASE guard. Plan: degree
    aggregate, two degree joins back onto the edge list (node-keyed
    shuffles — the deg frame is node-sized, never collected), one
    global aggregate.

    The trade pairs are materialized ONCE (``_trade_edges``'s
    localCheckpoint). Lazily, the lineitem⋈orders+distinct edge build
    was replayed for every one of its four plan references (edge list
    + three deg uses: 32 parquet scans / 48 exchanges at sf0.01) — at
    100 TB that is eight fact scans for one statistic. Materialized:
    one scan of each table. The degree aggregate stays lazy: over the
    materialized pairs it costs no table scan, and checkpointing it
    too measured one more shuffle (9 vs 8 at sf0.01, build jobs
    included)."""
    edges = _trade_edges(spark, sf)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    dj = (
        edges.join(deg.withColumnRenamed("src", "s_"), F.col("src") == F.col("s_"))
        .select("src", "dst", F.col("deg").alias("j"))
        .join(
            deg.select(
                F.col("src").alias("d_"), F.col("deg").alias("k")
            ),
            F.col("dst") == F.col("d_"),
        )
        .select("j", "k")
    )
    agg = dj.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("j") * F.col("k")).alias("sjk"),
        F.sum(F.col("j") + F.col("k")).alias("sjpk"),
        F.sum(
            F.col("j") * F.col("j") + F.col("k") * F.col("k")
        ).alias("sj2k2"),
    )
    m = F.col("m").cast("double")
    mean_half = F.col("sjpk") / (2 * m)
    num = F.col("sjk") / m - mean_half * mean_half
    den = F.col("sj2k2") / (2 * m) - mean_half * mean_half
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return agg.crossJoin(F.broadcast(nodes)).select(
        F.col("m").alias("n_directed_edges"),
        "n_nodes",
        F.round(F.when(den > 0, num / den), 6).alias("assortativity"),
    )


SQL_GRAPH_ASSORTATIVITY = """
WITH pairs AS (
  SELECT DISTINCT l.l_suppkey AS s, -(o.o_custkey + 1) AS c
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT s AS src, c AS dst FROM pairs
  UNION ALL
  SELECT c AS src, s AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
dj AS (
  SELECT dj_.deg AS j, dk.deg AS k
  FROM edges e
  JOIN deg dj_ ON e.src = dj_.src
  JOIN deg dk ON e.dst = dk.src
),
agg AS (
  SELECT COUNT(*) AS m, CAST(SUM(j * k) AS BIGINT) AS sjk,
    CAST(SUM(j + k) AS BIGINT) AS sjpk,
    CAST(SUM(j * j + k * k) AS BIGINT) AS sj2k2
  FROM dj
),
n AS (SELECT COUNT(*) AS n_nodes FROM deg)
SELECT m AS n_directed_edges, n_nodes,
  ROUND(CASE WHEN sj2k2 / (2 * CAST(m AS DOUBLE))
      - (sjpk / (2 * CAST(m AS DOUBLE))) * (sjpk / (2 * CAST(m AS DOUBLE))) > 0
    THEN (sjk / CAST(m AS DOUBLE)
      - (sjpk / (2 * CAST(m AS DOUBLE))) * (sjpk / (2 * CAST(m AS DOUBLE))))
      / (sj2k2 / (2 * CAST(m AS DOUBLE))
      - (sjpk / (2 * CAST(m AS DOUBLE))) * (sjpk / (2 * CAST(m AS DOUBLE))))
    END, 6) AS assortativity
FROM agg CROSS JOIN n
"""


QUERIES: dict[str, Query] = {
    "text_textrank_keywords": Query(q_textrank_keywords, _textrank_oracle()),
    "graph_degree_stats": Query(q_graph_degree_stats, SQL_GRAPH_DEGREE_STATS),
    "graph_pagerank": Query(q_graph_pagerank, _pagerank_oracle()),
    "graph_triangle_count": Query(q_graph_triangle_count, SQL_GRAPH_TRIANGLE_COUNT),
    "graph_shortest_paths": Query(
        q_graph_shortest_paths, _shortest_paths_oracle()
    ),
    "events_markov_stationary": Query(
        q_markov_stationary, _markov_stationary_oracle()
    ),
    "events_transition_matrix": Query(q_transition_matrix, SQL_TRANSITION_MATRIX),
    "events_recursive_chains": Query(q_recursive_chains, SQL_RECURSIVE_CHAINS),
    "graph_assortativity": Query(
        q_graph_assortativity, SQL_GRAPH_ASSORTATIVITY
    ),
}
