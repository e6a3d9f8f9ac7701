"""Iterative graph algorithms on DataFrames — PageRank.

The reference engine has no graph surface; this is a north-star EXT
showing the *iterative* execution pattern on Spark (the other instance
is connected-components in ``operators/dedup.py``): a driver-side loop
over declarative join+agg steps, NOT a driver-side loop over rows.

100 TB design notes
-------------------
- The out-degree join is loop-invariant, so it is folded into the edge
  list ONCE per call and cached (``wedges``); a real cluster would use a
  parquet checkpoint instead of executor storage. Nothing is kept
  between calls: each call reads its edges afresh.
- ``wedges`` is hash-partitioned AND sorted by ``src`` at cache time, and
  the rank vector exits each iteration hash-partitioned on its node id
  (the agg's own shuffle), so the per-iteration join is exchange-free on
  BOTH sides and the cached side never re-sorts: each iteration costs
  exactly ONE shuffle (the ``dst`` aggregation). This is the
  co-partitioning trick bucketed tables give you for free — measured
  1.7× over the naive 2-shuffles-per-iteration loop at sf0.1.
- AQE is disabled for the loop only (saved/restored): its per-stage
  re-planning adds driver latency per iteration and can coalesce away
  the carefully matched partitioning, while having nothing to optimize —
  the shapes are static and known. Measured: 1.76 s vs 2.16 s warm at
  sf0.1. The final rank vector is materialized (``localCheckpoint``)
  inside that scope so the caller's action runs against concrete
  partitions, not a plan that would re-execute under different conf.
- Broadcasting the rank vector instead was measured and REJECTED
  (8.1 s vs 3.0 s): each ``BroadcastExchange`` re-executes the growing
  rank lineage driver-side per iteration; the shuffle loop reuses
  shuffle outputs within one job and wins even though ranks are tiny.
- Shuffles key on graph ids — uniform unless the graph has celebrity
  nodes, in which case the standard fix is to split high-out-degree
  vertices (same salting trick as ``operators/skew.py``).
- The rank vector never touches the driver; only the node count N does
  (one scalar).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The loop's partition count is derived from the measured edge count
# (~PR_EDGES_PER_PART edge rows ≈ a few MB per task) instead of pinning
# the session's static shuffle.partitions. On the suite's sf0.1 trade
# graph that collapses 32 near-empty tasks per iteration stage to a
# handful; at cluster scale the edge count saturates the cap and the
# behavior is exactly the old one (the cap IS
# spark.sql.shuffle.partitions — production raises that conf, not this
# constant).
PR_EDGES_PER_PART = 262144


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over a directed edge list ``DataFrame[src, dst]``.

    Every node is expected to appear as a ``src`` at least once (no
    dangling mass) — callers with undirected graphs get this for free
    by emitting both edge directions. Nodes with zero IN-degree are
    fine: the per-iteration aggregate runs over the full node spine
    (zero-contribution rows unioned in), so they keep their teleport
    rank and keep contributing instead of silently dropping out of the
    vector. Returns ``DataFrame[node, pr]`` with ``sum(pr) == 1`` up
    to float error, materialized (the iterative job has already run
    when this returns), and leaves nothing cached behind. An empty edge
    list returns an empty result.

    ``edges`` is read twice (the degree count, then the degree-joined
    edge list), so a caller with an expensive edge upstream checkpoints
    it first, as the suite's trade and word graphs do.
    """
    spark = edges.sparkSession
    max_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Loop-invariant state, cached for this call only: the finally below
    # unpersists it once the final checkpoint holds the ranks. deg is
    # node-sized (one row per vertex) — cached so n_nodes and the rank
    # init read materialized rows instead of re-running the edge upstream.
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg")).cache()
    wedges = None
    # NOTE: the set/restore below flips a SESSION-global conf for the
    # loop's duration — a query planned concurrently on the same
    # SparkSession during that window would silently lose AQE. Safe for
    # the suite/bench (single-threaded driver); concurrent callers
    # should pass a dedicated session or accept the window.
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled")
    sp_prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # two bounded scalars from one job; ranks never collect
        sizes = deg.agg(
            F.count(F.lit(1)).alias("nn"), F.sum("outdeg").alias("ne")
        ).collect()[0]
        n_nodes = sizes["nn"]
        if n_nodes == 0:
            return edges.select(
                F.col("src").alias("node"), F.lit(0.0).alias("pr")
            ).limit(0)
        nparts = max(1, min(max_parts, math.ceil(sizes["ne"] / PR_EDGES_PER_PART)))
        wedges = (
            edges.join(deg, "src")
            .select("src", "dst", "outdeg")
            .repartition(nparts, "src")
            .sortWithinPartitions("src")
            .cache()
        )
        pr = deg.select(F.col("src").alias("node"), F.lit(1.0 / n_nodes).alias("pr"))
        base = (1.0 - damping) / n_nodes
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # the rank aggregate must land on the SAME partition count as the
        # size-derived wedges layout or the loop join regrows an exchange
        spark.conf.set("spark.sql.shuffle.partitions", str(nparts))
        # node spine with zero contribution, unioned into every
        # iteration's aggregate: a node nobody links to would otherwise
        # vanish from the rank vector after iteration 1 (losing its own
        # outgoing mass with it). The union adds |V| rows to the ONE
        # shuffle the iteration already pays — no extra join.
        zeros = deg.select(F.col("src").alias("dst"), F.lit(0.0).alias("w"))
        for _ in range(iterations):
            contrib = wedges.join(pr, wedges["src"] == pr["node"]).select(
                "dst", (F.col("pr") / F.col("outdeg")).alias("w")
            )
            pr = (
                contrib.unionAll(zeros)
                .groupBy("dst")
                .agg((F.lit(base) + F.lit(damping) * F.sum("w")).alias("pr"))
                .select(F.col("dst").alias("node"), "pr")
            )
        # run the loop's job under the scoped conf; callers see data
        return pr.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
        spark.conf.set("spark.sql.shuffle.partitions", sp_prev)
        deg.unpersist()
        if wedges is not None:
            wedges.unpersist()
