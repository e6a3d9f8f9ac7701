"""Event-stream queries: funnels, retention, cohorts, attribution,
sessions, tumbling/sliding windows, gap fill, watermarks, SCD2
intervals, JSON and variant extraction, upserts, rate limits, and the
time-series monitors (autocorrelation, CUSUM, EMA, inter-arrival fits,
burst z-scores, churn hazard).

These are batch twins of the streaming surface (``streaming/windows.py``
runs the same window expressions incrementally under a watermark); batch
execution gives the DuckDB oracle a target. Series statistics aggregate
exact integers (hourly counts, integer-second gaps) and join lags on the
hour timestamp, not on position, so gap hours do not shift a lag.
Variances come from exact integer power sums, never engine-native
STDDEV, whose update order differs between engines.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import table
from .base import Query, dec

HAZARD_THRESHOLDS_S = (3600, 86400, 259200)


def q_events_churn_hazard(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-exceedance curve at {HAZARD_THRESHOLDS_S} seconds (1 h /
    1 d / 3 d): of all per-user inter-arrival gaps, the share
    exceeding each threshold — the empirical basis for session
    timeouts and the 'inactive user' cutoff. Shares are single
    divisions of exact integers.

    Plan: the ``events_interarrival`` gap frame (one user-keyed lag
    window) aggregated ONCE with one conditional counter per
    threshold — the threshold sweep costs one scan total, not one
    per threshold."""
    ev = table(spark, sf, "events")
    from pyspark.sql import Window

    u = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            ((u - F.lag(u).over(w)) / F.lit(1000000))
            .cast("bigint")
            .alias("g"),
        )
        .filter(F.col("g").isNotNull())
    )
    # 1-row frame consumed by one branch per threshold — localCheckpoint
    # so the union does NOT replay the events scan per branch (the
    # filter_cascade_report lesson)
    agg = gaps.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.count(F.when(F.col("g") > t, 1)).alias(f"x{t}")
            for t in HAZARD_THRESHOLDS_S
        ],
    ).localCheckpoint(eager=True)
    rows = []
    for t in HAZARD_THRESHOLDS_S:
        rows.append(
            agg.select(
                F.lit(t).alias("threshold_s"),
                F.col("n").alias("n_gaps"),
                F.col(f"x{t}").alias("n_exceed"),
                (F.col(f"x{t}") / F.col("n")).alias("exceed_share"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def _hazard_oracle() -> str:
    selects = [
        f"""SELECT {t} AS threshold_s, n AS n_gaps, x{t} AS n_exceed,
  x{t} * 1.0 / n AS exceed_share FROM agg"""
        for t in HAZARD_THRESHOLDS_S
    ]
    body = "\nUNION ALL\n".join(selects)
    counters = ",\n    ".join(
        f"COUNT(CASE WHEN g > {t} THEN 1 END) AS x{t}"
        for t in HAZARD_THRESHOLDS_S
    )
    return f"""
WITH gaps AS (
  SELECT (epoch_us(ts) - lag(epoch_us(ts)) OVER
    (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS g
  FROM events
),
agg AS (
  SELECT COUNT(*) AS n,
    {counters}
  FROM gaps WHERE g IS NOT NULL
)
{body}
"""


def q_tumbling_window(spark: SparkSession, sf: str) -> DataFrame:
    """1-hour tumbling window per event_type. Epoch-aligned — identical
    boundaries to DuckDB date_trunc('hour'). Decimal sum → oracle-stable.
    Streaming twin: streaming/windows.py::tumbling_counts."""
    ev = table(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec("value", 6)).cast("double").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "min_value",
            "max_value",
        )
    )


SQL_TUMBLING_WINDOW = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
  MIN(value) AS min_value,
  MAX(value) AS max_value
FROM events GROUP BY 1, 2
"""


def q_sliding_window(spark: SparkSession, sf: str) -> DataFrame:
    """1-hour window sliding every 30 min — each event lands in exactly 2
    windows. Oracle reconstructs the same assignment with time_bucket
    (both engines align buckets to the epoch for sub-day intervals)."""
    ev = table(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


SQL_SLIDING_WINDOW = """
WITH assigned AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' FROM events
)
SELECT window_start, COUNT(*) AS n_events FROM assigned GROUP BY 1
"""


def q_session_window(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user — Spark's native
    session_window; oracle is the classic gaps-and-islands rewrite.
    Streaming twin: streaming/windows.py::session_counts."""
    ev = table(spark, sf, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


SQL_SESSION_WINDOW = """
WITH flagged AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
         THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts,
    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM sessions GROUP BY user_id, sid
"""


def q_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured projection: pull a typed field out of the JSON
    ``props`` column (JVM-side get_json_object — no Python)."""
    ev = table(spark, sf, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


SQL_JSON_EXTRACT = """
SELECT event_id, event_type,
  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events
"""


def q_variant_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured data: parse_json once
    into the binary VARIANT encoding, then typed variant_get extraction.
    Unlike get_json_object (string re-parse per access), VARIANT parses
    once and each field access is an O(log fields) binary probe — the
    right encoding when many fields are pulled from the same document.
    Aggregates k per event_type to keep the result compact."""
    ev = table(spark, sf, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("p")
    ).select(
        "event_type",
        F.expr("variant_get(p, '$.k', 'int')").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


SQL_VARIANT_EXTRACT = """
SELECT event_type, COUNT(*) AS n,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
  MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
  MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events GROUP BY event_type
"""


def q_event_type_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Global per-type stats — the grouped-agg shape a monitoring rollup
    uses; count/min/max are exact and order-independent."""
    ev = table(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


SQL_EVENT_TYPE_STATS = """
SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
  MIN(ts) AS first_ts, MAX(ts) AS last_ts
FROM events GROUP BY event_type
"""


def q_hypertable_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (TimescaleDB continuous
    aggregate shape): ONE scan produces hour- and day-grain aggregates
    via GROUPING SETS on pre-computed time buckets — at 100 TB the
    coarser grains come from the same shuffle as the finest, not from
    re-scanning. The grain column disambiguates the resolution."""
    ev = table(spark, sf, "events")
    bucketed = ev.select(
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        "event_type",
        "value",
    )
    bucketed.createOrReplaceTempView("_ht_rollup_src")
    return spark.sql(
        """
        SELECT
          CASE WHEN h IS NOT NULL THEN 'hour' ELSE 'day' END AS grain,
          coalesce(h, d) AS bucket_start,
          event_type,
          COUNT(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM _ht_rollup_src
        GROUP BY GROUPING SETS ((h, event_type), (d, event_type))
        """
    )


SQL_HYPERTABLE_ROLLUP = """
WITH src AS (
  SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d, event_type, value
  FROM events
)
SELECT
  CASE WHEN h IS NOT NULL THEN 'hour' ELSE 'day' END AS grain,
  coalesce(h, d) AS bucket_start,
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM src
GROUP BY GROUPING SETS ((h, event_type), (d, event_type))
"""


def q_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series gap filling: hourly purchase counts over a dense
    hourly spine (sequence + explode), zero-filled where no events.
    The spine is O(hours) — tiny — so the left join broadcasts it; the
    only O(rows) work is the pre-aggregation, which combines map-side."""
    ev = table(spark, sf, "events")
    counts = ev.filter(F.col("event_type") == "purchase").groupBy(
        F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("n"))
    spine = (
        ev.agg(
            F.date_trunc("hour", F.min("ts")).alias("lo"),
            F.date_trunc("hour", F.max("ts")).alias("hi"),
        )
        .select(F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("h"))
    )
    return spine.join(counts, "h", "left").select(
        "h", F.coalesce("n", F.lit(0)).alias("n_purchases")
    )


SQL_GAP_FILL = """
WITH b AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
),
s AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b),
c AS (
  SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT s.h AS h, COALESCE(c.n, 0) AS n_purchases
FROM s LEFT JOIN c USING (h)
"""


def q_click_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Batch twin of streaming/windows.py::stream_stream_click_purchase
    (purchases attributed to a same-user click within 1 hour) — the SAME
    function runs as a watermarked stream-stream join in streaming mode;
    this oracle pins its semantics. Equi-key on user + time-range
    predicate: shuffles once on user_id."""
    from ..streaming.windows import stream_stream_click_purchase

    ev = table(spark, sf, "events")
    return stream_stream_click_purchase(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )


SQL_CLICK_ATTRIBUTION = """
SELECT c.user_id AS c_user, c.event_id AS click_id, p.event_id AS purchase_id,
       c.ts AS click_ts, p.ts AS purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


def q_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: per-user
    earliest timestamp of each step via conditional aggregation (ONE
    user-keyed shuffle, map-side partials), then each stage counts
    users whose steps occurred in strict time order. The final rollup
    is a single-row agg — partials combine associatively, so at 100 TB
    this is scan → one shuffle → tiny reduce, no window, no self-join
    (the naive formulation is 3 self-joins on events)."""
    ev = table(spark, sf, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.col("t_view")).alias("n_view"),
        F.count(F.when(F.col("t_view") < F.col("t_click"), 1)).alias(
            "n_view_click"
        ),
        F.count(
            F.when(
                (F.col("t_view") < F.col("t_click"))
                & (F.col("t_click") < F.col("t_purchase")),
                1,
            )
        ).alias("n_full_funnel"),
    )


SQL_FUNNEL = """
WITH per_user AS (
  SELECT user_id,
    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
    MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT COUNT(t_view) AS n_view,
  COUNT(CASE WHEN t_view < t_click THEN 1 END) AS n_view_click,
  COUNT(CASE WHEN t_view < t_click AND t_click < t_purchase THEN 1 END) AS n_full_funnel
FROM per_user
"""


def q_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day; for each
    (cohort_day, day_offset), how many came back and what fraction of
    the cohort that is. Two user-keyed shuffles (distinct activity days,
    first-day cohort) + one tiny cohort-keyed agg; the cohort-size join
    is **broadcast** (one row per day). The classic engagement query a
    warehouse runs daily at any scale."""
    ev = table(spark, sf, "events")
    # day stays TIMESTAMP (midnight) — pandas date objects hash as
    # dtype=object and diverge from the oracle's datetime64 canon
    # ``acts`` feeds the cohort aggregate AND the offset join, ``cohort``
    # feeds the join AND the size rollup — materialize each once instead of
    # re-scanning and re-deduping the event stream per consumer (6 scans →
    # 2)
    acts = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct().localCheckpoint(eager=True)
    cohort = (
        acts.groupBy("user_id")
        .agg(F.min("day").alias("cohort_day"))
        .localCheckpoint(eager=True)
    )
    joined = acts.join(cohort, "user_id").select(
        "user_id",
        "cohort_day",
        F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
    )
    ret = joined.groupBy("cohort_day", "day_offset").agg(
        F.count_distinct("user_id").alias("n_active")
    )
    sizes = cohort.groupBy("cohort_day").agg(
        F.count("*").alias("cohort_size")
    )
    return ret.join(F.broadcast(sizes), "cohort_day").select(
        "cohort_day",
        "day_offset",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active") / F.col("cohort_size"), 6).alias(
            "retention_rate"
        ),
    )


def q_cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort lifetime value — the monetary companion to
    ``events_retention``: users cohorted by first-active day; for each
    (cohort_day, day_offset), the CUMULATIVE revenue the cohort has
    produced and the per-member LTV. Revenue sums in DECIMAL (exact,
    order-free); the running total is a window over the aggregated
    (cohort, offset) cells only — days × offsets rows, never the event
    stream — partitioned by cohort_day. Same two user-keyed shuffles as
    retention + one tiny cell window; cohort sizes broadcast."""
    from pyspark.sql import Window

    ev = table(spark, sf, "events")
    acts = ev.select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        dec("value").alias("v"),
    )
    # cohort feeds two consumers (the cells join + sizes) — lazily each
    # replayed the event-stream scan + user aggregate; materialize the
    # user-sized frame once (3 events scans → 2, the first-activity pass +
    # the offsets pass)
    cohort = acts.groupBy("user_id").agg(
        F.min("day").alias("cohort_day")
    ).localCheckpoint(eager=True)
    cells = (
        acts.join(cohort, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.sum("v").alias("period_rev"))
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("day_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sizes = cohort.groupBy("cohort_day").agg(F.count("*").alias("cohort_size"))
    cum = cells.select(
        "cohort_day",
        "day_offset",
        F.sum("period_rev").over(w).alias("cum_rev"),
    )
    return cum.join(F.broadcast(sizes), "cohort_day").select(
        "cohort_day",
        "day_offset",
        F.round("cum_rev", 2).cast("double").alias("cum_revenue"),
        "cohort_size",
        F.round(
            F.col("cum_rev").cast("double") / F.col("cohort_size"), 6
        ).alias("ltv_per_user"),
    )


SQL_COHORT_LTV = """
WITH acts AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events
),
cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM acts GROUP BY user_id),
cells AS (
  SELECT c.cohort_day,
    CAST(datediff('day', c.cohort_day, a.day) AS INTEGER) AS day_offset,
    SUM(a.v) AS period_rev
  FROM acts a JOIN cohort c ON a.user_id = c.user_id
  GROUP BY 1, 2
),
cum AS (
  SELECT cohort_day, day_offset,
    SUM(period_rev) OVER (PARTITION BY cohort_day ORDER BY day_offset
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
  FROM cells
),
sizes AS (SELECT cohort_day, COUNT(*) AS cohort_size FROM cohort GROUP BY 1)
SELECT m.cohort_day, m.day_offset,
  CAST(ROUND(m.cum_rev, 2) AS DOUBLE) AS cum_revenue,
  s.cohort_size,
  ROUND(CAST(m.cum_rev AS DOUBLE) / s.cohort_size, 6) AS ltv_per_user
FROM cum m JOIN sizes s ON m.cohort_day = s.cohort_day
"""


SQL_RETENTION = """
WITH acts AS (
  -- CAST: DuckDB date_trunc('day') yields DATE; Spark yields TIMESTAMP
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events
),
cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM acts GROUP BY user_id),
joined AS (
  SELECT a.user_id, c.cohort_day,
    CAST(datediff('day', c.cohort_day, a.day) AS INTEGER) AS day_offset
  FROM acts a JOIN cohort c ON a.user_id = c.user_id
),
ret AS (
  SELECT cohort_day, day_offset, COUNT(DISTINCT user_id) AS n_active
  FROM joined GROUP BY cohort_day, day_offset
),
sizes AS (SELECT cohort_day, COUNT(*) AS cohort_size FROM cohort GROUP BY cohort_day)
SELECT r.cohort_day, r.day_offset, r.n_active, s.cohort_size,
  ROUND(r.n_active * 1.0 / s.cohort_size, 6) AS retention_rate
FROM ret r JOIN sizes s ON r.cohort_day = s.cohort_day
"""


def q_scd2_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """SCD-Type-2 dimension build: turn the append-only event log into
    validity intervals (valid_from, valid_to, is_current) per user — the
    standard warehouse slowly-changing-dimension shape, and the interval
    form consumed by as-of joins.

    One user-keyed shuffle; LEAD over (ts, event_id) closes each
    interval with the next change and leaves the last one open. At
    100 TB this is the same single-shuffle cost as any per-key window;
    with the log bucketed by user_id it is shuffle-free.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return table(spark, sf, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


SQL_SCD2_INTERVALS = """
SELECT user_id, event_id, event_type, ts AS valid_from,
  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
  (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL) AS is_current
FROM events
"""


def q_rate_limit_per_key(spark: SparkSession, sf: str) -> DataFrame:
    """Per-key rate limiting: keep the first 2 events per (user, day) —
    the per-domain crawl-politeness / per-source quota cap every
    large-scale ingestion pipeline applies before heavier processing.

    One (user, day)-keyed shuffle; rn <= k plans as WindowGroupLimit so
    each map task keeps at most k rows per key BEFORE the exchange — at
    100 TB the shuffle carries the capped stream, not the firehose.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", F.date_trunc("day", F.col("ts"))).orderBy(
        "ts", "event_id"
    )
    return (
        table(spark, sf, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("event_id", "user_id", "ts", "event_type")
    )


SQL_RATE_LIMIT_PER_KEY = """
SELECT event_id, user_id, ts, event_type
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                           ORDER BY ts, event_id) <= 2
"""

MERGE_SPLIT_TS = "2024-01-15"


def q_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE INTO semantics as a batch plan: a base snapshot (state
    before the split date) full-outer-joined with a compacted changelog
    delta; the delta wins per key, and each row is tagged
    inserted/updated/unchanged — the Delta/Iceberg MERGE shape on plain
    DataFrames.

    Plan: both sides compact with the same keep-last window (one
    user-keyed shuffle each, WindowGroupLimit), and the full outer join
    re-uses that partitioning — Catalyst plans no extra exchange for
    the join. At 100 TB the delta is normally ≪ base, so the join flips
    to broadcast under AQE; semantics are unchanged.
    """
    from pyspark.sql import Window

    def compact(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_id", "ts", "event_type")
        )

    ev = table(spark, sf, "events")
    base = compact(ev.filter(F.col("ts") < MERGE_SPLIT_TS)).alias("b")
    delta = compact(ev.filter(F.col("ts") >= MERGE_SPLIT_TS)).alias("d")
    pick = lambda c: F.coalesce(F.col(f"d.{c}"), F.col(f"b.{c}"))  # noqa: E731
    return base.join(
        delta, F.col("b.user_id") == F.col("d.user_id"), "full_outer"
    ).select(
        pick("user_id").alias("user_id"),
        pick("event_id").alias("last_event_id"),
        pick("ts").alias("last_ts"),
        pick("event_type").alias("last_type"),
        F.when(F.col("d.user_id").isNull(), "unchanged")
        .when(F.col("b.user_id").isNull(), "inserted")
        .otherwise("updated")
        .alias("merge_op"),
    )


SQL_MERGE_UPSERT = f"""
WITH base AS (
  SELECT user_id, event_id, ts, event_type FROM events
  WHERE ts < TIMESTAMP '{MERGE_SPLIT_TS}'
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
), delta AS (
  SELECT user_id, event_id, ts, event_type FROM events
  WHERE ts >= TIMESTAMP '{MERGE_SPLIT_TS}'
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
)
SELECT COALESCE(d.user_id, b.user_id) AS user_id,
       COALESCE(d.event_id, b.event_id) AS last_event_id,
       COALESCE(d.ts, b.ts) AS last_ts,
       COALESCE(d.event_type, b.event_type) AS last_type,
       CASE WHEN d.user_id IS NULL THEN 'unchanged'
            WHEN b.user_id IS NULL THEN 'inserted'
            ELSE 'updated' END AS merge_op
FROM base b FULL OUTER JOIN delta d ON b.user_id = d.user_id
"""




PATH_LEN = 3
PATH_TOPK = 10


def q_path_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-{PATH_TOPK} most frequent {PATH_LEN}-step event paths (the
    sequence-mining upgrade of the first-order transition matrix:
    which full journeys dominate, not just which hops). One user-keyed
    window builds the sliding path with LEADs — paths never become a
    self-join — then counting runs on the path-string key space
    (|types|^{PATH_LEN} max) and the top-k is a
    TakeOrderedAndProject, never a global sort. Deterministic order:
    (ts, event_id) tie-break, count-then-path final order."""
    from pyspark.sql import Window

    ev = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("t0"),
        *[
            F.lead("event_type", i).over(w).alias(f"t{i}")
            for i in range(1, PATH_LEN)
        ],
    ).filter(
        # EVERY step non-null: concat_ws would silently SKIP a null
        # mid-sequence (yielding a shorter path) while the oracle's ||
        # nulls the whole path — guard all steps so both engines agree
        # even if event_type ever becomes nullable
        reduce(
            lambda a, b: a & b,
            [F.col(f"t{i}").isNotNull() for i in range(PATH_LEN)],
        )
    )
    paths = seq.select(
        F.concat_ws(">", *[f"t{i}" for i in range(PATH_LEN)]).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(PATH_TOPK)
    )


SQL_PATH_TOPK = f"""
WITH seq AS (
  SELECT event_type AS t0,
    {", ".join(f"LEAD(event_type, {i}) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t{i}" for i in range(1, PATH_LEN))}
  FROM events
)
SELECT {" || '>' || ".join(f"t{i}" for i in range(PATH_LEN))} AS path,
  COUNT(*) AS n
FROM seq
WHERE {" AND ".join(f"t{i} IS NOT NULL" for i in range(PATH_LEN))}
GROUP BY path ORDER BY n DESC, path LIMIT {PATH_TOPK}
"""



def q_watermark_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Out-of-orderness audit — the measurement that SIZES a streaming
    watermark instead of guessing it: treating event_id as ingestion
    order, an event's lateness is how far the per-user running-max
    event time had already advanced past it when it arrived. Reports
    per event type the in-order fraction and the exact p50/p95/p99/max
    lateness in seconds; ``withWatermark`` set at the p99 keeps state
    bounded while dropping <1% of late rows. One user-partitioned
    running-max window (scales with the user key), then all percentile
    work happens on the |types|-sized aggregate."""
    from pyspark.sql import Window

    ev = table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = ev.select(
        "event_type",
        (
            F.unix_timestamp(F.max("ts").over(w)) - F.unix_timestamp("ts")
        ).alias("lateness_s"),
    )
    qs_arr = F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))
    return late.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.when(F.col("lateness_s") == 0, 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("in_order_frac"),
        F.percentile("lateness_s", qs_arr)[0].alias("p50_lateness_s"),
        F.percentile("lateness_s", qs_arr)[1].alias("p95_lateness_s"),
        F.percentile("lateness_s", qs_arr)[2].alias("p99_lateness_s"),
        F.max("lateness_s").alias("max_lateness_s"),
    )


SQL_WATERMARK_AUDIT = """
WITH late AS (
  SELECT event_type,
    date_diff('second', ts,
      MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      AS lateness_s
  FROM events
)
SELECT event_type, COUNT(*) AS n_events,
  ROUND(CAST(SUM(CASE WHEN lateness_s = 0 THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS in_order_frac,
  quantile_cont(lateness_s, 0.5) AS p50_lateness_s,
  quantile_cont(lateness_s, 0.95) AS p95_lateness_s,
  quantile_cont(lateness_s, 0.99) AS p99_lateness_s,
  MAX(lateness_s) AS max_lateness_s
FROM late GROUP BY event_type
"""



def q_active_users(spark: SparkSession, sf: str) -> DataFrame:
    """DAU / WAU / MAU — rolling DISTINCT-user counts per day, the one
    aggregation shape the suite lacked: a sliding window over a
    distinct set (unlike sums, distinct counts cannot be composed from
    daily partials, so the trailing windows re-count from the deduped
    (day, user) pairs). Shape: one distinct shuffle collapses the raw
    stream to day x user pairs (the data-sized step), then a BROADCAST
    spine of ~30 day rows fans each pair to at most 30 trailing
    windows and a day-keyed conditional COUNT DISTINCT finishes —
    cost scales with active users, never with raw events."""
    ev = table(spark, sf, "events")
    daily = ev.select(
        F.date_trunc("day", "ts").alias("d"), "user_id"
    ).distinct()
    spine = daily.select("d").distinct()
    j = F.broadcast(spine.alias("s")).join(
        daily.alias("u"),
        (F.col("u.d") <= F.col("s.d"))
        & (F.col("u.d") >= F.col("s.d") - F.expr("INTERVAL 29 DAYS")),
    )
    # Stays TIMESTAMP (date_trunc's type), matching the oracle: a DATE
    # cast lands in pandas as object(datetime.date) vs DuckDB's
    # datetime64 and the driver's str-hash would diverge.
    return j.groupBy(F.col("s.d").alias("day")).agg(
        F.countDistinct(
            F.when(F.col("u.d") == F.col("s.d"), F.col("u.user_id"))
        ).alias("dau"),
        F.countDistinct(
            F.when(
                F.col("u.d") >= F.col("s.d") - F.expr("INTERVAL 6 DAYS"),
                F.col("u.user_id"),
            )
        ).alias("wau"),
        F.countDistinct("u.user_id").alias("mau"),
    )


SQL_ACTIVE_USERS = """
WITH daily AS (
  SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
),
spine AS (SELECT DISTINCT d FROM daily)
SELECT CAST(s.d AS TIMESTAMP) AS day,
  COUNT(DISTINCT CASE WHEN u.d = s.d THEN user_id END) AS dau,
  COUNT(DISTINCT CASE WHEN u.d >= s.d - INTERVAL 6 DAY THEN user_id END) AS wau,
  COUNT(DISTINCT user_id) AS mau
FROM spine s JOIN daily u
  ON u.d <= s.d AND u.d >= s.d - INTERVAL 29 DAY
GROUP BY s.d
"""

def q_conversion_lag(spark: SparkSession, sf: str) -> DataFrame:
    """Time-to-convert per first-view day cohort: for each user, the
    first 'view' and the first 'purchase' AT OR AFTER it; per cohort
    day the conversion rate and the p50/p90 lag in minutes — the
    funnel's TIMING companion (``events_funnel`` counts who converts,
    this measures how fast). Lags are exact integer microseconds
    (``unix_micros`` ↔ ``epoch_us``) so the percentile interpolation
    operates on identical ints in both engines; cohort_day stays
    TIMESTAMP (the retention/LTV date-canon precedent).

    Scale: two user-keyed aggregates + one user-keyed join, then all
    percentile math on per-user scalars grouped by ~days cohorts; at
    real scale swap exact `percentile` for `approx_percentile` (the
    documented RFM trade)."""
    ev = table(spark, sf, "events")
    # v feeds two consumers (the conversion join + the left join to base) —
    # materialize the user-sized first-view frame once instead of replaying
    # the event scan + aggregate per consumer (3 events scans → 2)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("v_us"))
        .localCheckpoint(eager=True)
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("p_ts")
    )
    conv = (
        v.join(p, "user_id")
        .filter(F.col("p_ts") >= F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("p_ts").alias("p_us"))
    )
    base = v.join(conv, "user_id", "left").select(
        F.date_trunc("day", F.timestamp_micros(F.col("v_us"))).alias("cohort_day"),
        "v_us",
        "p_us",
    )
    lag = F.col("p_us") - F.col("v_us")
    converted = F.sum(F.when(F.col("p_us").isNotNull(), 1).otherwise(0))
    return base.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_users"),
        converted.alias("n_converted"),
        F.round(converted / F.count(F.lit(1)), 6).alias("conv_rate"),
        F.round(F.percentile(lag, F.lit(0.5)) / F.lit(6e7), 6).alias("p50_lag_min"),
        F.round(F.percentile(lag, F.lit(0.9)) / F.lit(6e7), 6).alias("p90_lag_min"),
    )


SQL_CONVERSION_LAG = """
WITH v AS (
  SELECT user_id, MIN(epoch_us(ts)) AS v_us
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
conv AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.v_us
  GROUP BY e.user_id
),
base AS (
  SELECT CAST(date_trunc('day', make_timestamp(v.v_us)) AS TIMESTAMP) AS cohort_day,
         v.v_us, c.p_us
  FROM v LEFT JOIN conv c ON c.user_id = v.user_id
)
SELECT cohort_day, COUNT(*) AS n_users,
  CAST(SUM(CASE WHEN p_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
  ROUND(SUM(CASE WHEN p_us IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 6) AS conv_rate,
  ROUND(quantile_cont(p_us - v_us, 0.5) / 6e7, 6) AS p50_lag_min,
  ROUND(quantile_cont(p_us - v_us, 0.9) / 6e7, 6) AS p90_lag_min
FROM base GROUP BY cohort_day
"""


BURST_WIN = 24  # trailing observed hourly buckets
BURST_MIN_K = 12  # baseline must have at least this many buckets
BURST_Z = 3.0


def q_events_burst_zscore(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly burst detection per event type: each (type, hour) bucket's
    count is z-scored against the mean/std of its trailing
    {BURST_WIN} OBSERVED buckets (ROWS frame — gap-robust), flagged
    when z > {BURST_Z} with at least {BURST_MIN_K} baseline buckets.
    The stream-health monitor a pipeline runs on ingest telemetry;
    mean/stddev gates on raw values are ``quality_outliers``'s job —
    this one is about VOLUME anomalies over time.

    Determinism: variance from exact integer power sums over the
    window (SUM(c), SUM(c²), COUNT — never engine-native STDDEV whose
    Welford update order differs between engines); z is then a fixed
    chain of IEEE ops. Scale: all window math runs on the (type, hour)
    aggregate — cardinality types × hours, never raw events; one
    uniform shuffle to build the cells, one type-keyed window."""
    ev = table(spark, sf, "events")
    cells = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count("*").alias("c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-BURST_WIN, -1)
    )
    k = F.count("c").over(w)
    s1 = F.sum("c").over(w)
    s2 = F.sum(F.col("c") * F.col("c")).over(w)
    m = s1.cast("double") / k
    sd = F.sqrt(
        F.greatest(s2.cast("double") / k - m * m, F.lit(0.0))
    )
    z = F.when((k >= BURST_MIN_K) & (sd > 0), (F.col("c") - m) / sd)
    zed = cells.select("event_type", z.alias("zv"))
    return zed.groupBy("event_type").agg(
        F.count("*").alias("n_buckets"),
        F.sum(F.when(F.col("zv") > BURST_Z, 1).otherwise(0)).alias("n_bursts"),
        F.round(F.max("zv"), 6).alias("max_z"),
    )


SQL_EVENTS_BURST_ZSCORE = f"""
WITH cells AS (
  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
wz AS (
  SELECT event_type, c,
    COUNT(c) OVER win AS k, SUM(c) OVER win AS s1, SUM(c * c) OVER win AS s2
  FROM cells
  WINDOW win AS (PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN {BURST_WIN} PRECEDING AND 1 PRECEDING)
),
z AS (
  SELECT event_type,
    CASE WHEN k >= {BURST_MIN_K}
          AND sqrt(greatest(CAST(s2 AS DOUBLE) / k
               - (CAST(s1 AS DOUBLE) / k) * (CAST(s1 AS DOUBLE) / k), 0.0)) > 0
         THEN (c - CAST(s1 AS DOUBLE) / k)
              / sqrt(greatest(CAST(s2 AS DOUBLE) / k
                 - (CAST(s1 AS DOUBLE) / k) * (CAST(s1 AS DOUBLE) / k), 0.0))
    END AS zv
  FROM wz
)
SELECT event_type, COUNT(*) AS n_buckets,
  CAST(SUM(CASE WHEN zv > {BURST_Z} THEN 1 ELSE 0 END) AS BIGINT) AS n_bursts,
  ROUND(MAX(zv), 6) AS max_z
FROM z GROUP BY event_type
"""


ACF_LAGS = (1, 2, 24)


def _hourly_counts(spark: SparkSession, sf: str) -> DataFrame:
    """DataFrame[h, y]: events per calendar hour, localCheckpoint'd — a
    frame bounded by the stream's time span, not its volume."""
    return (
        table(spark, sf, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("y"))
        .localCheckpoint(eager=True)
    )


def q_events_autocorrelation(spark: SparkSession, sf: str) -> DataFrame:
    """Sample ACF of the hourly event-count series at lags
    {ACF_LAGS}: rₖ = Σ(yₜ−ȳ)(yₜ₊ₖ−ȳ) / Σ(yₜ−ȳ)², pairs matched on
    the CALENDAR hour (t and t+k both observed), mean and denominator
    over the full observed series — the standard estimator.

    Plan: one events scan to the hour-bucketed count frame (bounded
    by the stream's time span, not its volume — localCheckpoint'd;
    the lag joins, the scalar moments, and all three lag rows derive
    from it with zero further corpus work). The closed form expands
    the numerator to integer sums (Σyₜyₜ₊ₖ, Σyₜ, Σyₜ₊ₖ, pair count)
    so both engines do the identical double arithmetic on exact
    inputs; a constant series (zero variance) yields guarded NULLs."""
    hourly = _hourly_counts(spark, sf)
    # the scalar-moments aggregate is materialized once (it was replayed per
    # lag branch) and the three per-lag self-joins collapse into ONE join —
    # the a-side explodes each hour row into its |lags| shifted probes and a
    # single lag-keyed aggregate yields every lag's exact integer sums. A
    # literal lag spine left-join keeps zero-pair lags emitting the same
    # (np=0, NULL acf) row the empty per-lag aggregate produced.
    scalars = hourly.agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("ss"),
    ).localCheckpoint(eager=True)
    lag_arr = F.array(*[F.lit(int(k)) for k in ACF_LAGS])
    # shifted probe hour: h + lag hours (identical addition semantics
    # to the former per-branch INTERVAL literal under the UTC session)
    a_exp = hourly.select(
        F.col("y").alias("y1"),
        F.explode(lag_arr).alias("lag"),
        F.col("h").alias("ah"),
    ).withColumn(
        "th", F.col("ah") + F.make_interval(hours=F.col("lag"))
    )
    grouped = (
        a_exp.join(hourly.alias("b"), F.col("b.h") == F.col("th"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("np"),
            F.sum(F.col("y1") * F.col("y")).alias("a12"),
            F.sum("y1").alias("b1"),
            F.sum("y").alias("b2"),
        )
    )
    spine = spark.range(1).select(F.explode(lag_arr).alias("lag"))
    psums = spine.join(grouped, "lag", "left").select(
        "lag",
        F.coalesce("np", F.lit(0)).alias("np"),
        "a12",
        "b1",
        "b2",
    )
    j = psums.crossJoin(F.broadcast(scalars))
    ybar = F.col("s").cast("double") / F.col("nh")
    num = (
        F.col("a12").cast("double")
        - ybar * (F.col("b1") + F.col("b2")).cast("double")
        + F.col("np").cast("double") * ybar * ybar
    )
    den = F.col("ss").cast("double") - F.col("nh").cast("double") * ybar * ybar
    return j.select(
        "lag",
        F.col("np").alias("n_pairs"),
        F.round(F.when(den > 0, num / den), 6).alias("acf"),
    )


def _acf_oracle(lags: tuple[int, ...] = ACF_LAGS) -> str:
    selects = []
    for k in lags:
        selects.append(
            f"""SELECT {k} AS lag, np AS n_pairs,
  ROUND(CASE WHEN CAST(ss AS DOUBLE) - CAST(nh AS DOUBLE)
      * (CAST(s AS DOUBLE) / nh) * (CAST(s AS DOUBLE) / nh) > 0
    THEN (CAST(a12 AS DOUBLE)
          - (CAST(s AS DOUBLE) / nh) * CAST(b1 + b2 AS DOUBLE)
          + CAST(np AS DOUBLE) * (CAST(s AS DOUBLE) / nh)
            * (CAST(s AS DOUBLE) / nh))
         / (CAST(ss AS DOUBLE) - CAST(nh AS DOUBLE)
            * (CAST(s AS DOUBLE) / nh) * (CAST(s AS DOUBLE) / nh))
    END, 6) AS acf
FROM (
  SELECT COUNT(*) AS np,
    CAST(SUM(a.y * b.y) AS BIGINT) AS a12,
    CAST(SUM(a.y) AS BIGINT) AS b1, CAST(SUM(b.y) AS BIGINT) AS b2
  FROM hourly a JOIN hourly b ON b.h = a.h + INTERVAL {k} HOUR
) CROSS JOIN scalars"""
        )
    body = "\nUNION ALL\n".join(selects)
    return f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, COUNT(*) AS y FROM events GROUP BY 1
),
scalars AS (
  SELECT COUNT(*) AS nh, CAST(SUM(y) AS BIGINT) AS s,
    CAST(SUM(y * y) AS BIGINT) AS ss
  FROM hourly
)
{body}
"""


def q_events_changepoint_cusum(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM change-point detection (Page 1954) on the hourly
    event-count series: Sₜ = Σ≤ₜ(yᵢ − ȳ) peaks in magnitude at the
    most likely level-shift hour. One row: the arg-max hour, the peak
    CUSUM value, and the mean rate before/after it — the "WHEN did
    traffic change" localizer next to the drift monitors'
    "DID the distribution change" (events_drift_psi/ks) and the ACF's
    "is it periodic".

    Determinism: the comparison key is the INTEGER Dₜ = N·prefixₜ −
    t·S (= N·Sₜ — same arg-max, no floats), prefix sums over the
    bounded hourly frame; ties break on the earliest hour; the
    reported CUSUM and means are single divisions of exact integers.
    Plan: one events scan to the hour-bounded count frame
    (localCheckpoint'd — the cumulative window, the arg-max cut, and
    the before/after aggregate all derive from it), windows run on
    |hours| rows, the arg-max is a TakeOrderedAndProject(1)."""
    from pyspark.sql import Window

    hourly = _hourly_counts(spark, sf)
    scalars = hourly.agg(
        F.count(F.lit(1)).alias("nh"), F.sum("y").alias("s")
    )
    w = Window.orderBy("h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hourly.select(
        "h",
        F.row_number().over(Window.orderBy("h")).alias("t"),
        F.sum("y").over(w).alias("prefix"),
    )
    d = cum.crossJoin(F.broadcast(scalars)).select(
        "h",
        "t",
        (F.col("nh") * F.col("prefix") - F.col("t") * F.col("s")).alias(
            "dint"
        ),
        "nh",
        "s",
    )
    peak = d.orderBy(F.abs(F.col("dint")).desc(), F.asc("h")).limit(1)
    before = hourly.crossJoin(F.broadcast(peak.select(F.col("h").alias("ph"))))
    return (
        before.groupBy()
        .agg(
            F.sum(F.when(F.col("h") <= F.col("ph"), F.col("y"))).alias("sb"),
            F.count(F.when(F.col("h") <= F.col("ph"), 1)).alias("nb"),
            F.sum(F.when(F.col("h") > F.col("ph"), F.col("y"))).alias("sa"),
            F.count(F.when(F.col("h") > F.col("ph"), 1)).alias("na"),
            F.max("ph").alias("changepoint_hour"),
        )
        .crossJoin(F.broadcast(peak.select("dint", "nh")))
        .select(
            F.col("nh").alias("n_hours"),
            "changepoint_hour",
            F.round(
                F.col("dint").cast("double") / F.col("nh"), 6
            ).alias("cusum_peak"),
            F.round(F.col("sb") / F.col("nb"), 6).alias("mean_before"),
            F.round(
                F.when(F.col("na") > 0, F.col("sa") / F.col("na")), 6
            ).alias("mean_after"),
        )
    )


SQL_EVENTS_CHANGEPOINT_CUSUM = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, COUNT(*) AS y FROM events GROUP BY 1
),
scalars AS (
  SELECT COUNT(*) AS nh, CAST(SUM(y) AS BIGINT) AS s FROM hourly
),
cum AS (
  SELECT h,
    ROW_NUMBER() OVER (ORDER BY h) AS t,
    CAST(SUM(y) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS prefix
  FROM hourly
),
d AS (
  SELECT h, t, nh * prefix - t * s AS dint, nh, s
  FROM cum CROSS JOIN scalars
),
peak AS (SELECT * FROM d ORDER BY abs(dint) DESC, h ASC LIMIT 1)
SELECT p.nh AS n_hours,
  p.h AS changepoint_hour,
  ROUND(CAST(p.dint AS DOUBLE) / p.nh, 6) AS cusum_peak,
  ROUND(CAST(SUM(CASE WHEN hourly.h <= p.h THEN y END) AS BIGINT) * 1.0
        / COUNT(CASE WHEN hourly.h <= p.h THEN 1 END), 6) AS mean_before,
  ROUND(CASE WHEN COUNT(CASE WHEN hourly.h > p.h THEN 1 END) > 0
    THEN CAST(SUM(CASE WHEN hourly.h > p.h THEN y END) AS BIGINT) * 1.0
         / COUNT(CASE WHEN hourly.h > p.h THEN 1 END) END, 6) AS mean_after
FROM hourly CROSS JOIN peak p
GROUP BY p.nh, p.h, p.dint
"""


EMA_ALPHA = 0.3


def q_events_ema_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """EMA (α={EMA_ALPHA}) of the hourly event-count series, closed
    form: the recursion EMAₜ = α·yₜ + (1−α)·EMAₜ₋₁ seeded at y₁
    unrolls to ONE weighted sum — wₜ = α(1−α)^(n−t) for t ≥ 2 and
    w₁ = (1−α)^(n−1) — so no sequential fold, no recursive CTE, no
    collect: a single aggregate over the hour-bounded frame.

    One row: hour count, last observed count, EMA, and the EMA's
    deviation from the plain mean (the trend signal: EMA ≫ mean says
    traffic is rising into the present). Plan: one events scan to the
    hourly frame (bounded by time span, localCheckpoint'd), one
    ROW_NUMBER over it, one aggregate. Weights are pow() doubles of
    exact integer exponents — identical in both engines; ROUND 6
    absorbs summation order."""
    hourly = _hourly_counts(spark, sf)
    pos = hourly.select(
        "y", F.row_number().over(Window.orderBy("h")).alias("t")
    )
    n = pos.agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")
    )
    a = F.lit(float(EMA_ALPHA))
    w = F.when(
        F.col("t") == 1, F.pow(F.lit(1.0) - a, F.col("n") - 1)
    ).otherwise(a * F.pow(F.lit(1.0) - a, F.col("n") - F.col("t")))
    return (
        pos.crossJoin(F.broadcast(n))
        .agg(
            F.max("n").alias("n_hours"),
            F.max(F.when(F.col("t") == F.col("n"), F.col("y"))).alias(
                "y_last"
            ),
            F.round(F.sum(w * F.col("y")), 6).alias("ema"),
            F.round(
                F.sum(w * F.col("y"))
                - F.max(F.col("s").cast("double") / F.col("n")),
                6,
            ).alias("ema_minus_mean"),
        )
    )


SQL_EVENTS_EMA_HOURLY = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, COUNT(*) AS y FROM events GROUP BY 1
),
pos AS (
  SELECT y, ROW_NUMBER() OVER (ORDER BY h) AS t FROM hourly
),
n AS (
  SELECT COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS s FROM pos
)
SELECT MAX(n) AS n_hours,
  MAX(CASE WHEN t = n THEN y END) AS y_last,
  ROUND(SUM((CASE WHEN t = 1 THEN pow(1.0 - {EMA_ALPHA}, n - 1)
    ELSE {EMA_ALPHA} * pow(1.0 - {EMA_ALPHA}, n - t) END) * y), 6) AS ema,
  ROUND(SUM((CASE WHEN t = 1 THEN pow(1.0 - {EMA_ALPHA}, n - 1)
    ELSE {EMA_ALPHA} * pow(1.0 - {EMA_ALPHA}, n - t) END) * y)
    - MAX(CAST(s AS DOUBLE) / n), 6) AS ema_minus_mean
FROM pos CROSS JOIN n
"""


def q_events_interarrival(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user inter-arrival statistics + exponential-MLE fit, one
    row: gap count, mean gap (s), coefficient of variation, MLE rate
    (events/s), and the exponential log-likelihood at the MLE
    (n·ln(n/Σg) − n). CV ≈ 1 ⇒ Poisson arrivals; CV ≫ 1 ⇒ bursty
    sessions (and the exponential model is wrong — the number that
    says whether retention/funnel windows can assume memorylessness).

    Determinism: gaps are exact integer seconds (epoch-microsecond
    difference, integer-divided by 10⁶ — both engines truncate
    identically); Σg and Σg² are exact BIGINTs at tested SFs (at
    extreme scale Σg² moves to decimal(38,0), noted); the variance is
    the identical two-term double expression, clamped at 0 before the
    sqrt (float cancellation on a constant series must not produce
    NaN in one engine only). Plan: one events scan, one user-keyed
    window for lag, one global aggregate."""
    ev = table(spark, sf, "events")
    u = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            ((u - F.lag(u).over(w)) / F.lit(1000000))
            .cast("bigint")
            .alias("g"),
        )
        .filter(F.col("g").isNotNull())
        .select("g")
    )
    agg = gaps.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("g").alias("s"),
        F.sum(F.col("g") * F.col("g")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = F.greatest(
        F.lit(0.0),
        F.col("ss").cast("double") / F.col("n") - mean * mean,
    )
    return agg.select(
        F.col("n").alias("n_gaps"),
        F.round(mean, 6).alias("mean_gap_s"),
        F.round(
            F.when(F.col("s") > 0, F.sqrt(var) / mean), 6
        ).alias("cv"),
        F.round(
            F.when(F.col("s") > 0, F.col("n") / F.col("s").cast("double")),
            9,
        ).alias("mle_rate"),
        F.round(
            F.when(
                F.col("s") > 0,
                F.col("n")
                * F.log(F.col("n") / F.col("s").cast("double"))
                - F.col("n"),
            ),
            6,
        ).alias("exp_loglik"),
    )


SQL_EVENTS_INTERARRIVAL = """
WITH gaps AS (
  SELECT (epoch_us(ts) - lag(epoch_us(ts)) OVER
    (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS g
  FROM events
),
agg AS (
  SELECT COUNT(*) AS n, CAST(SUM(g) AS BIGINT) AS s,
    CAST(SUM(g * g) AS BIGINT) AS ss
  FROM gaps WHERE g IS NOT NULL
)
SELECT n AS n_gaps,
  ROUND(CAST(s AS DOUBLE) / n, 6) AS mean_gap_s,
  ROUND(CASE WHEN s > 0 THEN
    sqrt(greatest(0.0, CAST(ss AS DOUBLE) / n
      - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)))
    / (CAST(s AS DOUBLE) / n) END, 6) AS cv,
  ROUND(CASE WHEN s > 0 THEN n / CAST(s AS DOUBLE) END, 9) AS mle_rate,
  ROUND(CASE WHEN s > 0 THEN
    n * ln(n / CAST(s AS DOUBLE)) - n END, 6) AS exp_loglik
FROM agg
"""


QUERIES: dict[str, Query] = {
    "events_churn_hazard": Query(q_events_churn_hazard, _hazard_oracle()),
    "events_funnel": Query(q_funnel, SQL_FUNNEL),
    "events_conversion_lag": Query(q_conversion_lag, SQL_CONVERSION_LAG),
    "events_scd2_intervals": Query(q_scd2_intervals, SQL_SCD2_INTERVALS),
    "rate_limit_per_key": Query(q_rate_limit_per_key, SQL_RATE_LIMIT_PER_KEY),
    "merge_upsert": Query(q_merge_upsert, SQL_MERGE_UPSERT),
    "events_retention": Query(q_retention, SQL_RETENTION),
    "events_cohort_ltv": Query(q_cohort_ltv, SQL_COHORT_LTV),
    "events_tumbling_window": Query(q_tumbling_window, SQL_TUMBLING_WINDOW),
    "events_gap_fill": Query(q_gap_fill, SQL_GAP_FILL),
    "events_click_attribution": Query(q_click_attribution, SQL_CLICK_ATTRIBUTION),
    "events_hypertable_rollup": Query(q_hypertable_rollup, SQL_HYPERTABLE_ROLLUP),
    "events_sliding_window": Query(q_sliding_window, SQL_SLIDING_WINDOW),
    "events_session_window": Query(q_session_window, SQL_SESSION_WINDOW),
    "events_json_extract": Query(q_json_extract, SQL_JSON_EXTRACT),
    "events_variant_extract": Query(q_variant_extract, SQL_VARIANT_EXTRACT),
    "events_type_stats": Query(q_event_type_stats, SQL_EVENT_TYPE_STATS),
    "events_path_topk": Query(q_path_topk, SQL_PATH_TOPK),
    "events_watermark_audit": Query(q_watermark_audit, SQL_WATERMARK_AUDIT),
    "events_active_users": Query(q_active_users, SQL_ACTIVE_USERS),
    "events_burst_zscore": Query(q_events_burst_zscore, SQL_EVENTS_BURST_ZSCORE),
    "events_autocorrelation": Query(
        q_events_autocorrelation, _acf_oracle()
    ),
    "events_changepoint_cusum": Query(
        q_events_changepoint_cusum, SQL_EVENTS_CHANGEPOINT_CUSUM
    ),
    "events_ema_hourly": Query(q_events_ema_hourly, SQL_EVENTS_EMA_HOURLY),
    "events_interarrival": Query(
        q_events_interarrival, SQL_EVENTS_INTERARRIVAL
    ),
}
