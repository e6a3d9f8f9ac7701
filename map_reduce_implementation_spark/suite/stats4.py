"""Round-6 wave 17 — predictability, latency, mixing structure,
seasonality.

- ``text_conditional_entropy`` — per-language bigram entropy rate
  H(next|cur) = H(X,Y) − H(X) over adjacent-token pairs (Shannon
  1951's printed-English estimate, corpus-sized): the predictability
  number behind compression-based quality filters — low rate says
  templated/repetitive text, and the per-language exp(H) perplexity
  is directly comparable to the Kneser-Ney scorer's.
- ``fulfillment_latency`` — order→ship latency profile per priority
  (p50/p95/mean days) plus the impossible-negative share (ship date
  before order date — present in this corpus, which is exactly what
  the column is for): the SLA/data-quality audit every ops dashboard
  starts with.
- ``graph_assortativity`` — Newman (2002) degree assortativity of the
  trade graph: Pearson correlation of end-point degrees over the
  symmetric edge list. r < 0 (hubs attach to leaves) is the
  disassortative shape bipartite trade graphs should show — the
  one-number summary next to ``graph_degree_stats``' census.
- ``orders_seasonal_index`` — month-of-year seasonal index
  (month's mean monthly revenue / grand mean of monthly revenue):
  the multiplicative-decomposition companion to
  ``revenue_seasonality``'s month-over-month growth.

Determinism: counts, integer day diffs, revenue cents, and degree
products are exact integers; entropies/indexes/r are identical
closed-form double expressions with ROUND 6 absorbing summation
order; zero-variance / empty-denominator cases carry identical CASE
guards (degenerate corpora pinned in tests/test_round6_waves.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import tokens as _tokens
from ..sources import table
from .base import Query, dec
from .graph import _trade_edges


def q_text_conditional_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language H(X,Y), H(X), conditional entropy rate
    H(Y|X) = H(X,Y) − H(X) (nats), and exp(H(Y|X)) perplexity, over
    the adjacent-token-pair stream (context marginal taken from the
    SAME pair stream, the textbook estimator).

    Plan: one corpus pass forms pairs in-array (zip_with — no shuffle
    to build them), one (lang, prev, cur) aggregate; the context
    marginal and both entropy sums are cell-space rollups of it. A
    single-bigram language has H = 0 on every column (no guard needed
    — p = 1 terms vanish); languages with no bigrams drop from the
    output in both engines."""
    d = table(spark, sf, "documents")
    ts = _tokens(F.col("text"))
    n = F.size(ts)
    pair_structs = F.zip_with(
        F.slice(ts, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(ts, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
    )
    pairs = d.select(
        "lang", F.explode(pair_structs).alias("b")
    ).select("lang", "b.prev", "b.cur")
    # Round-12 optimization (guide §2.4): ``cells`` feeds three
    # consumers (ctx, tot, joint) — lazily the corpus tokenization +
    # (lang, prev, cur) aggregate was replayed per consumer (10 scans /
    # 11 exchanges at sf0.01; three corpus passes at 100 TB).
    # Materialized once, every later step is bigram-vocabulary-sized.
    cells = (
        pairs.groupBy("lang", "prev", "cur")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    ctx = cells.groupBy("lang", "prev").agg(F.sum("c").alias("cx"))
    tot = cells.groupBy("lang").agg(F.sum("c").alias("nb"))
    joint = (
        cells.join(tot, "lang")
        .groupBy("lang")
        .agg(
            (
                -F.sum(
                    (F.col("c") / F.col("nb"))
                    * F.log(F.col("c") / F.col("nb"))
                )
            ).alias("h_joint"),
        )
    )
    hctx = (
        ctx.join(tot, "lang")
        .groupBy("lang")
        .agg(
            (
                -F.sum(
                    (F.col("cx") / F.col("nb"))
                    * F.log(F.col("cx") / F.col("nb"))
                )
            ).alias("h_ctx"),
        )
    )
    return (
        tot.join(joint, "lang")
        .join(hctx, "lang")
        .select(
            "lang",
            F.col("nb").alias("n_bigrams"),
            F.round("h_joint", 6).alias("h_joint"),
            F.round("h_ctx", 6).alias("h_context"),
            F.round(F.col("h_joint") - F.col("h_ctx"), 6).alias(
                "h_rate"
            ),
            F.round(
                F.exp(F.col("h_joint") - F.col("h_ctx")), 6
            ).alias("perplexity"),
        )
        .orderBy("lang")
    )


SQL_TEXT_CONDITIONAL_ENTROPY = """
WITH t AS (
  SELECT lang, list_filter(
    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
bg AS (
  SELECT lang, unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS b
  FROM t WHERE len(toks) >= 2
),
cells AS (
  SELECT lang, b[1] AS prev, b[2] AS cur, COUNT(*) AS c
  FROM bg GROUP BY 1, 2, 3
),
ctx AS (
  SELECT lang, prev, CAST(SUM(c) AS BIGINT) AS cx FROM cells GROUP BY 1, 2
),
tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS nb FROM cells GROUP BY 1),
joint AS (
  SELECT cells.lang,
    -SUM((c * 1.0 / nb) * ln(c * 1.0 / nb)) AS h_joint
  FROM cells JOIN tot ON cells.lang = tot.lang GROUP BY 1
),
hctx AS (
  SELECT ctx.lang,
    -SUM((cx * 1.0 / nb) * ln(cx * 1.0 / nb)) AS h_ctx
  FROM ctx JOIN tot ON ctx.lang = tot.lang GROUP BY 1
)
SELECT tot.lang, nb AS n_bigrams,
  ROUND(h_joint, 6) AS h_joint,
  ROUND(h_ctx, 6) AS h_context,
  ROUND(h_joint - h_ctx, 6) AS h_rate,
  ROUND(exp(h_joint - h_ctx), 6) AS perplexity
FROM tot JOIN joint ON tot.lang = joint.lang
JOIN hctx ON tot.lang = hctx.lang
ORDER BY tot.lang
"""


def q_fulfillment_latency(spark: SparkSession, sf: str) -> DataFrame:
    """Order→ship latency per priority: count, mean/p50/p95 in days,
    and the share of IMPOSSIBLE rows (ship date before order date —
    this synthetic corpus contains them, and surfacing that is the
    point: a latency SLA dashboard that silently averages negative
    latencies is lying).

    Determinism: day diffs are exact integers; the mean and the
    negative share are single integer divisions (bit-exact
    unrounded); percentiles via the proven F.percentile ↔
    quantile_cont equality. Plan: one join (orders side pruned to two
    columns), one priority-keyed aggregate — 5 cells out."""
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").alias("d"),
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum("d") / F.count(F.lit(1))).alias("mean_days"),
            F.percentile("d", F.lit(0.5)).alias("p50_days"),
            F.percentile("d", F.lit(0.95)).alias("p95_days"),
            (
                F.count(F.when(F.col("d") < 0, 1))
                / F.count(F.lit(1))
            ).alias("impossible_share"),
        )
        .select(
            "o_orderpriority",
            "n_items",
            F.round("mean_days", 6).alias("mean_days"),
            "p50_days",
            "p95_days",
            F.round("impossible_share", 6).alias("impossible_share"),
        )
        .orderBy("o_orderpriority")
    )


SQL_FULFILLMENT_LATENCY = """
WITH j AS (
  SELECT o_orderpriority, date_diff('day', o_orderdate, l_shipdate) AS d
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT o_orderpriority, COUNT(*) AS n_items,
  ROUND(CAST(SUM(d) AS BIGINT) * 1.0 / COUNT(*), 6) AS mean_days,
  quantile_cont(d, 0.5) AS p50_days,
  quantile_cont(d, 0.95) AS p95_days,
  ROUND(COUNT(CASE WHEN d < 0 THEN 1 END) * 1.0 / COUNT(*), 6)
    AS impossible_share
FROM j GROUP BY 1 ORDER BY 1
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

    Round-12 optimization (guide §2.4): the edge list is materialized
    ONCE (localCheckpoint) and so is the degree frame. Lazily, the
    lineitem⋈orders+distinct edge build was replayed for every one of
    its four plan references (edge list + three deg uses: 32 parquet
    scans / 48 exchanges at sf0.01) — at 100 TB that is eight fact
    scans for one statistic. Materialized: 2 scans, and the degree
    joins run against a node-sized frame (the BFS/CC precedent)."""
    edges = _trade_edges(spark, sf, materialize=False).localCheckpoint(eager=True)
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
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


def q_orders_seasonal_index(spark: SparkSession, sf: str) -> DataFrame:
    """Month-of-year seasonal index: each calendar month's mean
    monthly revenue over the grand mean of all observed (year, month)
    totals — the multiplicative seasonal profile (index > 1 = a hot
    month). 12 rows: month, months observed, mean revenue, index.

    Determinism: monthly totals are exact BIGINT cents; the two means
    and the index are identical closed-form doubles of them. Plan:
    one orders scan → (year, month) cells → month-of-year rollup +
    broadcast grand scalar."""
    o = table(spark, sf, "orders")
    ym = o.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
    ).agg(F.sum((dec("o_totalprice") * 100).cast("bigint")).alias("cents"))
    grand = ym.agg(
        F.count(F.lit(1)).alias("nm"), F.sum("cents").alias("tot")
    )
    bym = ym.groupBy("m").agg(
        F.count(F.lit(1)).alias("n_months"), F.sum("cents").alias("mc")
    )
    g_mean = F.col("tot").cast("double") / F.col("nm")
    m_mean = F.col("mc").cast("double") / F.col("n_months")
    return (
        bym.crossJoin(F.broadcast(grand))
        .select(
            F.col("m").alias("month"),
            "n_months",
            F.round(m_mean / 100, 2).alias("mean_monthly_revenue"),
            F.round(m_mean / g_mean, 6).alias("seasonal_index"),
        )
        .orderBy("month")
    )


SQL_ORDERS_SEASONAL_INDEX = """
WITH ym AS (
  SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
),
grand AS (
  SELECT COUNT(*) AS nm, CAST(SUM(cents) AS BIGINT) AS tot FROM ym
),
bym AS (
  SELECT m, COUNT(*) AS n_months, CAST(SUM(cents) AS BIGINT) AS mc
  FROM ym GROUP BY 1
)
SELECT m AS month, n_months,
  ROUND((mc * 1.0 / n_months) / 100, 2) AS mean_monthly_revenue,
  ROUND((mc * 1.0 / n_months) / (tot * 1.0 / nm), 6) AS seasonal_index
FROM bym CROSS JOIN grand ORDER BY month
"""


QUERIES: dict[str, Query] = {
    "text_conditional_entropy": Query(
        q_text_conditional_entropy, SQL_TEXT_CONDITIONAL_ENTROPY
    ),
    "fulfillment_latency": Query(
        q_fulfillment_latency, SQL_FULFILLMENT_LATENCY
    ),
    "graph_assortativity": Query(
        q_graph_assortativity, SQL_GRAPH_ASSORTATIVITY
    ),
    "orders_seasonal_index": Query(
        q_orders_seasonal_index, SQL_ORDERS_SEASONAL_INDEX
    ),
}
