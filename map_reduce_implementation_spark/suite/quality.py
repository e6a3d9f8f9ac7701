"""Data-quality and governance audits: referential integrity, column
profiles, median/MAD outlier gates, the Gopher rule battery and gate
agreement, quality-classifier probes and calibration, drift (PSI, KS),
duplication inflation, cross-source overlap, split leakage, and
k-anonymity / l-diversity.

Determinism: gate comparisons are integer cross-multiplications;
shares are integer ratios in one guarded division; split assignment
reuses the md5-bucket recipe of ``dataset_split``. PSI and KS split at
exact ``F.percentile`` / ``quantile_cont`` cut points and fold their
terms sequentially in bin order. The probes replace the logistic link
with the algebraic sigmoid 0.5 + z / (2·(1 + |z|)), which needs only
IEEE-exact +, *, / and abs; cross-row sums are exact decimal sums of
quantised operands, so both engines produce identical weights.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import tokens as _tokens
from ..operators.dedup import jaccard_pairs
from ..operators.similarity import _as_double
from ..operators.similarity import dot as _fold_dot
from ..sources import table
from .base import (
    DIM,
    ITERS,
    SQL_SHINGLE_SIZES_CTE,
    SQL_TOKENS,
    STOPWORDS_EN,
    Query,
    md5_bucket,
    shingles,
)


def q_quality_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-group outlier detection (median/MAD z-score, |z| > 2.5)
    on the heavy-tailed ``events.value`` — the anomaly-flagging pass
    that catches corrupt measurements without assuming normality (a
    mean/stddev z-score would be dragged by the tail it's hunting).

    Two grouped exact-median passes (event_type-keyed shuffles reducing
    to one row per type) + **broadcast** joins of the tiny stats table
    back to the scan — the event stream itself is never shuffled on a
    wide key, so the plan is scan-dominated at any scale."""
    ev = table(spark, sf, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_id", "event_type", "value", "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    z = F.round(
        (F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("mad")), 6
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("mad") > 0)
        .select("event_id", "event_type", "value", z.alias("robust_z"))
        .filter(F.abs(F.col("robust_z")) > 2.5)
    )


SQL_QUALITY_OUTLIERS = """
WITH med AS (SELECT event_type, median(value) AS med FROM events GROUP BY event_type),
dev AS (
  SELECT e.event_id, e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type)
SELECT d.event_id, d.event_type, d.value,
  ROUND((d.value - d.med) / (1.4826 * m.mad), 6) AS robust_z
FROM dev d JOIN mad m ON d.event_type = m.event_type
WHERE m.mad > 0 AND abs(ROUND((d.value - d.med) / (1.4826 * m.mad), 6)) > 2.5
"""


STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")
GQ_MIN_WORDS, GQ_MAX_WORDS = 20, 100_000
GQ_MIN_MWL, GQ_MAX_MWL = 3.0, 10.0
GQ_MAX_SYMBOL_RATIO = 0.1
GQ_MIN_STOP_HITS = 2


def q_gopher_quality_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style (Rae et al. 2021 §A1.1) rule battery as a keep/drop
    gate: word-count bounds, mean-word-length bounds, symbol-to-word
    ratio, and >= {GQ_MIN_STOP_HITS} distinct stopwords present. Every
    metric is an array expression over one tokenize — a ZERO-shuffle
    pure map stage at any scale (the cheapest possible quality gate:
    it reads each doc once and never moves it). Integer sums keep
    mean_word_len exact before the one rounded division."""
    from ..functions import tokens as _toks

    d = table(spark, sf, "documents")
    t = d.select("doc_id", F.col("text"), _toks(F.col("text")).alias("t"))
    n_words = F.size("t")
    char_sum = F.aggregate("t", F.lit(0), lambda acc, x: acc + F.length(x))
    # zero-token docs (pure punctuation — exactly what a quality gate
    # exists to classify) must yield NULL ratios and keep=false, not an
    # ANSI DIVIDE_BY_ZERO that kills the whole arm; the CASE guard
    # matches the oracle, where list_sum([]) is NULL and NULL/0 is NULL
    mwl = F.when(
        n_words > 0, F.round(char_sum.cast("double") / n_words, 4)
    )
    symbols = F.size(F.regexp_extract_all("text", F.lit("[#…]"), 0))
    sym_ratio = F.when(
        n_words > 0, F.round(symbols.cast("double") / n_words, 6)
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct("t"), F.array(*[F.lit(s) for s in STOPWORDS])
        )
    )
    out = t.select(
        "doc_id",
        n_words.alias("n_words"),
        mwl.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"),
        stop_hits.alias("stop_hits"),
    )
    return out.withColumn(
        "keep",
        (F.col("n_words") >= GQ_MIN_WORDS)
        & (F.col("n_words") <= GQ_MAX_WORDS)
        & (F.col("mean_word_len") >= GQ_MIN_MWL)
        & (F.col("mean_word_len") <= GQ_MAX_MWL)
        & (F.col("symbol_ratio") < GQ_MAX_SYMBOL_RATIO)
        & (F.col("stop_hits") >= GQ_MIN_STOP_HITS),
    )


SQL_GOPHER_QUALITY_GATE = f"""
WITH t AS (
  SELECT doc_id, text,
    {SQL_TOKENS} AS t
  FROM documents
),
m AS (
  SELECT doc_id,
    CAST(len(t) AS INTEGER) AS n_words,
    ROUND(CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / len(t), 4)
      AS mean_word_len,
    ROUND(CAST(len(regexp_extract_all(text, '[#…]')) AS DOUBLE) / len(t), 6)
      AS symbol_ratio,
    CAST(len(list_intersect(list_distinct(t),
        [{", ".join(repr(s) for s in STOPWORDS)}])) AS INTEGER) AS stop_hits
  FROM t
)
SELECT *,
  (n_words >= {GQ_MIN_WORDS} AND n_words <= {GQ_MAX_WORDS}
   AND mean_word_len >= {GQ_MIN_MWL} AND mean_word_len <= {GQ_MAX_MWL}
   AND symbol_ratio < {GQ_MAX_SYMBOL_RATIO}
   AND stop_hits >= {GQ_MIN_STOP_HITS}) AS keep
FROM m
"""


MAD_K = 3.0
MAD_SCALE = 1.4826  # consistency constant: MAD * 1.4826 ~ sigma under normality


def q_events_anomaly_mad(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type robust anomaly SUMMARY: median ± {MAD_K}·{MAD_SCALE}·MAD
    band, reporting per event_type the robust stats and how many events
    fall outside — the monitoring-dashboard rollup of the same
    median/MAD gate whose ROW-level arm is ``quality_outliers`` (which
    emits the flagged events themselves at |z| > 2.5); a health monitor
    consumes this bounded types-sized report, not the event stream. The
    median/MAD pair has a 50% breakdown point — one whale cannot drag
    the band the way it drags a mean/stddev gate. (Volume-over-time
    anomalies are ``events_burst_zscore``'s job; this one is about the
    VALUE distribution.)

    Scale shape: exact `percentile` is a per-type map-side-combined
    aggregate (value multiplicity maps); two passes over events (one
    per quantile level, the second over |v − med|), each ONE shuffle
    keyed by event_type, stats broadcast back. At 100 TB swap
    `percentile` → `approx_percentile` (same plan, GK sketch — the
    documented RFM trade)."""
    ev = table(spark, sf, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    withmed = ev.join(F.broadcast(med), "event_type")
    stats = withmed.groupBy("event_type").agg(
        F.min("med").alias("med"),
        F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad"),
    )
    flagged = ev.join(F.broadcast(stats), "event_type")
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.min("med"), 9).alias("median_value"),
        F.round(F.min("mad"), 9).alias("mad"),
        F.sum(
            F.when(
                F.abs(F.col("value") - F.col("med"))
                > F.lit(MAD_K * MAD_SCALE) * F.col("mad"),
                1,
            ).otherwise(0)
        ).alias("n_outliers"),
    )


SQL_EVENTS_ANOMALY_MAD = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
stats AS (
  SELECT e.event_type, MIN(m.med) AS med,
    quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_type, COUNT(*) AS n_events,
  ROUND(MIN(s.med), 9) AS median_value,
  ROUND(MIN(s.mad), 9) AS mad,
  CAST(SUM(CASE WHEN abs(e.value - s.med) > {MAD_K * MAD_SCALE} * s.mad
       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e JOIN stats s USING (event_type)
GROUP BY e.event_type
"""


OVERLAP_THRESHOLD = 0.3  # near-dup cut for the source-overlap matrix
OVERLAP_MAX_DF = 20  # stop-shingle cap (dedup_containment's production cap)


def q_cross_source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source near-duplicate matrix: for every ordered source
    pair (source_a <= source_b), the number of Jaccard >=
    {OVERLAP_THRESHOLD} doc pairs with one side in each, its share of
    all near-dup pairs, and whether the cell crosses a source boundary.
    The answer to "is this new crawl already inside my mixture?" —
    cf. the cross-corpus contamination tables in Lee et al. 2021 §6
    and Dodge et al. 2021 (C4 analysis).

    Plan: pair generation is the capped posting-list machinery
    (``operators/dedup.py::jaccard_pairs``, max_df={OVERLAP_MAX_DF} —
    the 100 TB skew valve; intersections count capped shingles,
    denominators stay uncapped, exactly the graded
    ``dedup_ngram_jaccard_capped`` semantics). The doc→source map is
    corpus-sized so it is NOT broadcast: the pair frame joins it
    doc-id-keyed (uniform — each doc appears in few near-dup pairs).
    The final grid is |sources|²-bounded, so the pair-share window is
    free at any scale."""
    pairs = jaccard_pairs(
        shingles(spark, sf, 5),
        threshold=OVERLAP_THRESHOLD,
        max_df=OVERLAP_MAX_DF,
    )
    src = table(spark, sf, "documents").select("doc_id", "source")
    cells = (
        pairs.join(src.alias("qa"), F.col("d1") == F.col("qa.doc_id"))
        .join(src.alias("qb"), F.col("d2") == F.col("qb.doc_id"))
        .select(
            F.least("qa.source", "qb.source").alias("source_a"),
            F.greatest("qa.source", "qb.source").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    return cells.select(
        "source_a",
        "source_b",
        "n_pairs",
        (F.col("source_a") != F.col("source_b")).alias("cross_source"),
        F.round(
            F.col("n_pairs") / F.sum("n_pairs").over(Window.partitionBy()),
            6,
        ).alias("pair_share"),
    )


SQL_CROSS_SOURCE_OVERLAP = f"""
WITH {SQL_SHINGLE_SIZES_CTE},
df AS (SELECT shingle, COUNT(*) AS c FROM sh GROUP BY 1),
capped AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN df USING (shingle)
  WHERE df.c BETWEEN 2 AND {OVERLAP_MAX_DF}
),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jp AS (
  SELECT d1, d2 FROM pairs
  JOIN sizes sa ON sa.doc_id = d1
  JOIN sizes sb ON sb.doc_id = d2
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= {OVERLAP_THRESHOLD}
),
cells AS (
  SELECT least(x.source, y.source) AS source_a,
    greatest(x.source, y.source) AS source_b, COUNT(*) AS n_pairs
  FROM jp
  JOIN documents x ON jp.d1 = x.doc_id
  JOIN documents y ON jp.d2 = y.doc_id
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_pairs,
  source_a <> source_b AS cross_source,
  ROUND(n_pairs * 1.0 / SUM(n_pairs) OVER (), 6) AS pair_share
FROM cells
"""


PSI_BINS = 10  # reference-calibrated deciles (9 interior cut-points)
PSI_ALERT = 0.1  # the standard "investigate" threshold
KS_ALERT = 0.05


def _halves(spark: SparkSession, sf: str) -> DataFrame:
    """Events tagged ref/cur by the median-timestamp split (period 1 =
    strictly before the median microsecond): (event_type, value, is_ref)."""
    e = table(spark, sf, "events").filter(F.col("value").isNotNull())
    e = e.select("event_type", "value", F.unix_micros("ts").alias("us"))
    # 1-row boundary, localCheckpointed: every branch that re-derives
    # the halves frame would otherwise replay the median scan too
    m = e.agg(F.percentile("us", F.lit(0.5)).alias("m")).localCheckpoint(
        eager=True
    )
    return e.crossJoin(F.broadcast(m)).select(
        "event_type", "value", (F.col("us") < F.col("m")).alias("is_ref")
    )


def q_events_drift_psi(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type PSI of ``value`` between the time halves, binned by the
    REFERENCE half's own deciles (the defining PSI convention — bins
    are calibrated where the model was trained, then the current
    period is poured into them). Laplace-smoothed shares keep empty
    bins finite, and the bin dimension is COMPLETED per type (tied
    reference deciles can collapse cut-points; unreachable bins still
    carry their smoothing terms, per the binned definition). Types
    with no reference rows have no bins to calibrate and are excluded
    by construction — a type appearing only in the current half is an
    existence change, surfaced by ``events_type_stats``, not a PSI.
    Output: per type, both populations, psi, and the ≥ {PSI_ALERT}
    alert flag.

    Scale shape: one scan tags periods against the broadcast median;
    cut-points are one exact-percentile aggregate per type (broadcast
    back, the RFM recipe — never a global sort); bin counts are a
    (type, period, bin)-keyed map-side-combined groupBy; the PSI fold
    runs over {PSI_BINS}-element lists on a types-sized frame."""
    h = _halves(spark, sf)
    cuts = (
        h.filter("is_ref")
        .groupBy("event_type")
        .agg(
            F.percentile(
                "value",
                F.array(*[F.lit(i / PSI_BINS) for i in range(1, PSI_BINS)]),
            ).alias("cuts")
        )
        .localCheckpoint(eager=True)  # types-sized; downstream branches
        # must not replay the reference-half percentile scan
    )
    binned = h.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        "is_ref",
        F.aggregate(
            "cuts",
            F.lit(0),
            lambda acc, c: acc + (F.col("value") >= c).cast("int"),
        ).alias("bin"),
    )
    counts_obs = binned.groupBy("event_type", "bin").agg(
        F.sum(F.col("is_ref").cast("long")).alias("c_ref"),
        F.sum((~F.col("is_ref")).cast("long")).alias("c_cur"),
    )
    # complete the bin dimension: tied reference deciles can collapse
    # cut-points and leave bins unreachable in BOTH halves — the binned
    # PSI definition (and its smoothing) still charges those bins, so
    # they must appear as zero rows, not be silently absent
    bins_dim = cuts.select(
        "event_type",
        F.explode(F.sequence(F.lit(0), F.lit(PSI_BINS - 1))).alias("bin"),
    )
    counts = (
        bins_dim.join(counts_obs, ["event_type", "bin"], "left")
        .select(
            "event_type",
            "bin",
            F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
            F.coalesce("c_cur", F.lit(0)).alias("c_cur"),
        )
        .localCheckpoint(eager=True)  # types×bins rows; reused by tot + terms
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("c_ref").alias("n_ref"), F.sum("c_cur").alias("n_cur")
    )
    # Laplace smoothing (+0.5 per bin, +BINS/2 per total) keeps
    # log-ratios finite when a bin is empty on one side
    p_ref = (F.col("c_ref") + F.lit(0.5)) / (
        F.col("n_ref") + F.lit(PSI_BINS * 0.5)
    )
    p_cur = (F.col("c_cur") + F.lit(0.5)) / (
        F.col("n_cur") + F.lit(PSI_BINS * 0.5)
    )
    terms = counts.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "bin",
        "n_ref",
        "n_cur",
        ((p_cur - p_ref) * F.log(p_cur / p_ref)).alias("term"),
    )
    psi = (
        terms.groupBy("event_type")
        .agg(
            F.first("n_ref").alias("n_ref"),
            F.first("n_cur").alias("n_cur"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("bin", "term"))),
                F.lit(0.0),
                lambda acc, x: acc + x["term"],
            ).alias("psi_raw"),
        )
    )
    return psi.select(
        "event_type",
        "n_ref",
        "n_cur",
        F.round("psi_raw", 9).alias("psi"),
        (F.round("psi_raw", 9) >= PSI_ALERT).alias("drifted"),
    )


_SQL_HALVES = """
h AS (
  SELECT event_type, value, epoch_us(ts) < m.m AS is_ref
  FROM events,
    (SELECT quantile_cont(epoch_us(ts), 0.5) AS m FROM events
     WHERE value IS NOT NULL) m
  WHERE value IS NOT NULL
)
"""
# the median subquery filters NULL values exactly like the Spark side's
# _halves (isNotNull BEFORE the percentile) — without it the two
# engines would pick different boundaries the moment a NULL appears
_PSI_FRACS = ", ".join(str(i / PSI_BINS) for i in range(1, PSI_BINS))

SQL_EVENTS_DRIFT_PSI = f"""
WITH {_SQL_HALVES},
cuts AS (
  SELECT event_type, quantile_cont(value, [{_PSI_FRACS}]) AS cuts
  FROM h WHERE is_ref GROUP BY event_type
),
binned AS (
  SELECT h.event_type, h.is_ref,
    list_sum(list_transform(c.cuts, x -> CASE WHEN h.value >= x THEN 1 ELSE 0 END))
      AS bin
  FROM h JOIN cuts c ON h.event_type = c.event_type
),
counts_obs AS (
  SELECT event_type, bin,
    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
    CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS c_cur
  FROM binned GROUP BY event_type, bin
),
counts AS (
  -- complete the bin dimension: bins unreachable under collapsed
  -- cut-points still carry their smoothing terms (mirrors Spark)
  SELECT d.event_type, d.bin,
    CAST(coalesce(o.c_ref, 0) AS BIGINT) AS c_ref,
    CAST(coalesce(o.c_cur, 0) AS BIGINT) AS c_cur
  FROM (SELECT c.event_type, CAST(r.i AS INTEGER) AS bin
        FROM cuts c, range(0, {PSI_BINS}) r(i)) d
  LEFT JOIN counts_obs o
    ON o.event_type = d.event_type AND o.bin = d.bin
),
tot AS (
  SELECT event_type, CAST(SUM(c_ref) AS BIGINT) AS n_ref,
    CAST(SUM(c_cur) AS BIGINT) AS n_cur
  FROM counts GROUP BY event_type
),
terms AS (
  SELECT c.event_type, c.bin, t.n_ref, t.n_cur,
    ((c.c_cur + 0.5) / (t.n_cur + {PSI_BINS * 0.5})
     - (c.c_ref + 0.5) / (t.n_ref + {PSI_BINS * 0.5}))
    * ln(((c.c_cur + 0.5) / (t.n_cur + {PSI_BINS * 0.5}))
         / ((c.c_ref + 0.5) / (t.n_ref + {PSI_BINS * 0.5}))) AS term
  FROM counts c JOIN tot t ON c.event_type = t.event_type
),
psi AS (
  SELECT event_type, any_value(n_ref) AS n_ref, any_value(n_cur) AS n_cur,
    list_sum(list(term ORDER BY bin)) AS psi_raw
  FROM terms GROUP BY event_type
)
SELECT event_type, n_ref, n_cur, ROUND(psi_raw, 9) AS psi,
  ROUND(psi_raw, 9) >= {PSI_ALERT} AS drifted
FROM psi
"""


def q_events_drift_ks(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type two-sample Kolmogorov–Smirnov statistic between the
    time halves: D = max over observed values of |F_ref(v) − F_cur(v)|
    from the two empirical CDFs — the binning-free companion to the
    PSI entry (a drift check with no cut-point choice to defend).
    Output: per type, both populations, ks_d, and the ≥ {KS_ALERT}
    alert flag.

    Scale shape: (type, value) pair counts are one map-side-combined
    groupBy; the CDFs are cumulative-sum windows partitioned per type
    over the DISTINCT-value stream (types run parallel; the sort is
    per-type over distinct values, not raw events). At 100 TB the
    value axis would be quantized to a fixed grid first (binned KS —
    same code, bounded distinct values); exact values kept here so the
    oracle is exact. Pure integer-ratio math — no libm anywhere."""
    h = _halves(spark, sf)
    counts = h.groupBy("event_type", "value").agg(
        F.sum(F.col("is_ref").cast("long")).alias("c_ref"),
        F.sum((~F.col("is_ref")).cast("long")).alias("c_cur"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    cum = counts.select(
        "event_type",
        F.sum("c_ref").over(w).alias("cum_ref"),
        F.sum("c_cur").over(w).alias("cum_cur"),
        F.sum("c_ref").over(w_all).alias("n_ref"),
        F.sum("c_cur").over(w_all).alias("n_cur"),
    )
    d = F.abs(
        F.col("cum_ref") / F.col("n_ref") - F.col("cum_cur") / F.col("n_cur")
    )
    # a type missing one half has no two-sample CDF to compare — those
    # are existence changes (new/vanished types), a different monitor's
    # job (events_type_stats); excluding them beats emitting NULL Ds
    agg = (
        cum.filter((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
        .groupBy("event_type")
        .agg(
            F.first("n_ref").alias("n_ref"),
            F.first("n_cur").alias("n_cur"),
            F.max(d).alias("d_raw"),
        )
    )
    return agg.select(
        "event_type",
        "n_ref",
        "n_cur",
        F.round("d_raw", 9).alias("ks_d"),
        (F.round("d_raw", 9) >= KS_ALERT).alias("drifted"),
    )


SQL_EVENTS_DRIFT_KS = f"""
WITH {_SQL_HALVES},
counts AS (
  SELECT event_type, value,
    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
    CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS c_cur
  FROM h GROUP BY event_type, value
),
cum AS (
  SELECT event_type,
    CAST(SUM(c_ref) OVER (PARTITION BY event_type ORDER BY value
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_ref,
    CAST(SUM(c_cur) OVER (PARTITION BY event_type ORDER BY value
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cur,
    CAST(SUM(c_ref) OVER (PARTITION BY event_type) AS BIGINT) AS n_ref,
    CAST(SUM(c_cur) OVER (PARTITION BY event_type) AS BIGINT) AS n_cur
  FROM counts
)
SELECT event_type, any_value(n_ref) AS n_ref, any_value(n_cur) AS n_cur,
  ROUND(MAX(abs(cum_ref * 1.0 / n_ref - cum_cur * 1.0 / n_cur)), 9) AS ks_d,
  ROUND(MAX(abs(cum_ref * 1.0 / n_ref - cum_cur * 1.0 / n_cur)), 9) >= {KS_ALERT}
    AS drifted
FROM cum WHERE n_ref > 0 AND n_cur > 0 GROUP BY event_type
"""


def q_dedup_inflation_report(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source duplication inflation: documents vs unique
    fingerprints, total vs unique-fingerprint token mass, and the
    inflation factor total/unique (1.0 = no exact copies) — single
    division of exact BIGINTs, bit-exact unrounded.

    Plan: one scan to (source, fingerprint) cells (count + the
    members' common token count), then a source rollup — the
    fingerprint agg is the same shuffle the dedup itself would pay,
    which is the point: this report prices it first."""
    d = table(spark, sf, "documents")
    per = d.select(
        "source",
        F.md5("text").alias("h"),
        F.size(_tokens(F.col("text"))).alias("tok"),
    )
    cells = per.groupBy("source", "h").agg(
        F.count(F.lit(1)).alias("copies"), F.max("tok").alias("tok")
    )
    return (
        cells.groupBy("source")
        .agg(
            F.sum("copies").alias("n_docs"),
            F.count(F.lit(1)).alias("n_unique"),
            F.sum(F.col("copies") * F.col("tok")).alias("total_tokens"),
            F.sum("tok").alias("unique_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            "total_tokens",
            "unique_tokens",
            F.when(
                F.col("unique_tokens") > 0,
                F.col("total_tokens") / F.col("unique_tokens"),
            ).alias("inflation"),
        )
        .orderBy("source")
    )


SQL_DEDUP_INFLATION_REPORT = """
WITH per AS (
  SELECT source, md5(text) AS h,
    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      x -> x <> '')) AS tok
  FROM documents
),
cells AS (
  SELECT source, h, COUNT(*) AS copies, MAX(tok) AS tok
  FROM per GROUP BY 1, 2
)
SELECT source,
  CAST(SUM(copies) AS BIGINT) AS n_docs,
  COUNT(*) AS n_unique,
  CAST(SUM(copies * tok) AS BIGINT) AS total_tokens,
  CAST(SUM(tok) AS BIGINT) AS unique_tokens,
  CASE WHEN CAST(SUM(tok) AS BIGINT) > 0
    THEN CAST(SUM(copies * tok) AS BIGINT) * 1.0
         / CAST(SUM(tok) AS BIGINT) END AS inflation
FROM cells GROUP BY source ORDER BY source
"""


LEAK_THRESHOLD = 0.25  # same near-dup cut as similarity_cosine_pairs
TRAIN_PCT = 90  # md5 buckets [0, 90) are train; the rest heldout
K_LEVELS = (2, 5, 10, 25)  # k-anonymity thresholds swept
BAL_BAND = 500.0  # acctbal quasi-identifier band width


def q_split_leakage_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-split near-dup leakage: assign every vector to train/
    heldout with the stored-nothing md5 split (`dataset_split`'s
    recipe), find near-dup pairs (cosine >= {LEAK_THRESHOLD}, blocked
    on label), and report per label how many heldout vectors have a
    train-side near-duplicate — the eval-contamination number. A
    heldout doc with a train near-dup makes eval loss on it
    memorization, not generalization.

    Plan: pair generation is `cosine_pairs`' blocked gemm-candidate +
    exact-verify path (one per-block quadratic in BLAS, never a global
    cross product); the two split joins are uniform on vec_id; both
    aggregates are label-cell-sized, and labels with zero pairs
    survive via the LEFT join from the per-label base frame."""
    from ..operators.similarity import cosine_pairs

    e = table(spark, sf, "embeddings")

    # the pair stream used to join back onto the corpus TWICE just to
    # re-derive per-id facts — but is_train is a pure md5 function of the id
    # (stored nothing), so it evaluates directly on id1/id2, and the pair's
    # label is its blocking key, which cosine_pairs now emits (emit_block).
    # Two pair-level joins + two embeddings scans removed.
    def is_train_of(c):
        return md5_bucket("split|", c.cast("string"), 100) < TRAIN_PCT

    split = e.select(
        "vec_id", "label", is_train_of(F.col("vec_id")).alias("is_train")
    )
    tagged = cosine_pairs(
        e, threshold=LEAK_THRESHOLD, block_col="label", emit_block=True
    ).select(
        "id1",
        "id2",
        "label",
        is_train_of(F.col("id1")).alias("t1"),
        is_train_of(F.col("id2")).alias("t2"),
    )
    cross = F.col("t1") != F.col("t2")
    held_id = F.when(cross & ~F.col("t1"), F.col("id1")).when(
        cross & ~F.col("t2"), F.col("id2")
    )
    agg = tagged.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count(F.when(cross, 1)).alias("n_cross_pairs"),
        F.countDistinct(held_id).alias("n_leaked_heldout"),
    )
    base = split.groupBy("label").agg(
        F.count(F.when(~F.col("is_train"), 1)).alias("n_heldout")
    )
    joined = base.join(agg, "label", "left")
    leaked = F.coalesce("n_leaked_heldout", F.lit(0))
    return joined.select(
        "label",
        F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        F.coalesce("n_cross_pairs", F.lit(0)).alias("n_cross_pairs"),
        leaked.alias("n_leaked_heldout"),
        "n_heldout",
        F.when(
            F.col("n_heldout") > 0,
            F.round(leaked / F.col("n_heldout"), 9),
        ).alias("leak_share"),
    )


SQL_SPLIT_LEAKAGE_AUDIT = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
    ('0x' || substr(md5('split|' || CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
      % 100 < {TRAIN_PCT} AS is_train
  FROM embeddings
),
pairs AS (
  SELECT a.label, a.vec_id AS id1, b.vec_id AS id2,
    a.is_train AS t1, b.is_train AS t2
  FROM e a JOIN e b ON a.vec_id < b.vec_id AND a.label = b.label
  WHERE
    list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]))
      / (
        sqrt(list_sum(list_transform(a.v, x -> x * x)))
        * sqrt(list_sum(list_transform(b.v, x -> x * x)))
      ) >= {LEAK_THRESHOLD}
),
agg AS (
  SELECT label, COUNT(*) AS n_pairs,
    COUNT(*) FILTER (WHERE t1 <> t2) AS n_cross_pairs,
    COUNT(DISTINCT CASE WHEN t1 <> t2 THEN
      CASE WHEN NOT t1 THEN id1 ELSE id2 END END) AS n_leaked_heldout
  FROM pairs GROUP BY label
),
base AS (
  SELECT label, COUNT(*) FILTER (WHERE NOT is_train) AS n_heldout
  FROM e GROUP BY label
)
SELECT base.label,
  CAST(coalesce(agg.n_pairs, 0) AS BIGINT) AS n_pairs,
  CAST(coalesce(agg.n_cross_pairs, 0) AS BIGINT) AS n_cross_pairs,
  CAST(coalesce(agg.n_leaked_heldout, 0) AS BIGINT) AS n_leaked_heldout,
  CAST(base.n_heldout AS BIGINT) AS n_heldout,
  CASE WHEN base.n_heldout > 0 THEN
    ROUND(coalesce(agg.n_leaked_heldout, 0) * 1.0 / base.n_heldout, 9)
  END AS leak_share
FROM base LEFT JOIN agg ON base.label = agg.label
"""


def q_k_anonymity_audit(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity audit over customer quasi-identifiers (nation,
    market segment, account-balance band of {BAL_BAND}): for each
    candidate k, how many equivalence classes fall below k members and
    how many customers those classes expose. A class of size < k means
    an attacker knowing only the quasi-identifiers narrows a target to
    fewer than k candidates — the Sweeney re-identification bound.

    Plan: ONE scan groups customers into the class frame (bounded by
    quasi-identifier cardinality — nations x segments x bands — not by
    row count), the {len(K_LEVELS)}-row k dimension is broadcast into
    a nested-loop tag, and the final aggregate is k-keyed over class
    cells. Nothing in the plan scales with customer count past the
    first groupBy's map-side combine."""
    c = table(spark, sf, "customer")
    classes = (
        c.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / F.lit(BAL_BAND))
            .cast("long")
            .alias("bal_band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).alias("csz"))
    )
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in K_LEVELS])).alias("k")
    )
    risky = F.col("csz") < F.col("k")
    return (
        classes.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.count(F.when(risky, 1)).alias("n_risky_classes"),
            F.sum("csz").alias("n_rows"),
            F.coalesce(
                F.sum(F.when(risky, F.col("csz"))), F.lit(0)
            ).alias("n_risky_rows"),
        )
        .select(
            F.col("k").cast("int").alias("k"),
            "n_classes",
            "n_risky_classes",
            F.round(F.col("n_risky_rows") / F.col("n_rows"), 9).alias(
                "risky_row_share"
            ),
            "n_risky_rows",
        )
    )


SQL_K_ANONYMITY_AUDIT = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
    CAST(floor(c_acctbal / {BAL_BAND}) AS BIGINT) AS bal_band,
    COUNT(*) AS csz
  FROM customer GROUP BY 1, 2, 3
),
ks AS (SELECT * FROM (VALUES {", ".join(f"({k})" for k in K_LEVELS)}) AS t(k))
SELECT CAST(ks.k AS INTEGER) AS k,
  COUNT(*) AS n_classes,
  COUNT(*) FILTER (WHERE csz < ks.k) AS n_risky_classes,
  ROUND(
    coalesce(SUM(csz) FILTER (WHERE csz < ks.k), 0) * 1.0 / SUM(csz), 9
  ) AS risky_row_share,
  CAST(coalesce(SUM(csz) FILTER (WHERE csz < ks.k), 0) AS BIGINT)
    AS n_risky_rows
FROM classes CROSS JOIN ks
GROUP BY ks.k
"""


L_LEVELS = (2, 3, 4, 5)  # l-diversity thresholds swept


def q_l_diversity_audit(spark: SparkSession, sf: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the attack
    k-anonymity misses: a class can hold k people yet leak the
    sensitive attribute anyway if all k SHARE its value (homogeneity
    attack). Quasi-identifiers here are (nation, {BAL_BAND}-unit
    balance band); the sensitive attribute is the market segment; for
    each l in {L_LEVELS}, the classes carrying fewer than l distinct
    segments and the customers they expose. The companion to
    ``k_anonymity_audit`` — a release review runs both.

    Plan: the distinct-sensitive count is an exact two-level
    aggregate (QI×segment cells, then QI classes — never a
    countDistinct shuffle of raw rows); the class frame is bounded by
    QI cardinality, the {len(L_LEVELS)}-row l dimension is broadcast,
    and the final aggregate is l-keyed over class cells (the
    k-anonymity plan shape exactly)."""
    c = table(spark, sf, "customer")
    cells = (
        c.select(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / F.lit(BAL_BAND))
            .cast("long")
            .alias("bal_band"),
            "c_mktsegment",
        )
        .groupBy("c_nationkey", "bal_band", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    classes = cells.groupBy("c_nationkey", "bal_band").agg(
        F.sum("n").alias("csz"), F.count(F.lit(1)).alias("ldiv")
    )
    ls = spark.range(1).select(
        F.explode(F.array(*[F.lit(v) for v in L_LEVELS])).alias("l")
    )
    risky = F.col("ldiv") < F.col("l")
    return (
        classes.crossJoin(F.broadcast(ls))
        .groupBy("l")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.count(F.when(risky, 1)).alias("n_risky_classes"),
            F.sum("csz").alias("n_rows"),
            F.coalesce(
                F.sum(F.when(risky, F.col("csz"))), F.lit(0)
            ).alias("n_risky_rows"),
        )
        .select(
            F.col("l").cast("int").alias("l"),
            "n_classes",
            "n_risky_classes",
            F.round(F.col("n_risky_rows") / F.col("n_rows"), 9).alias(
                "risky_row_share"
            ),
            "n_risky_rows",
        )
    )


SQL_L_DIVERSITY_AUDIT = f"""
WITH cells AS (
  SELECT c_nationkey,
    CAST(floor(c_acctbal / {BAL_BAND}) AS BIGINT) AS bal_band,
    c_mktsegment, COUNT(*) AS n
  FROM customer GROUP BY 1, 2, 3
),
classes AS (
  SELECT c_nationkey, bal_band, CAST(SUM(n) AS BIGINT) AS csz,
    COUNT(*) AS ldiv
  FROM cells GROUP BY 1, 2
),
ls AS (SELECT * FROM (VALUES {", ".join(f"({v})" for v in L_LEVELS)}) AS t(l))
SELECT CAST(ls.l AS INTEGER) AS l,
  COUNT(*) AS n_classes,
  COUNT(*) FILTER (WHERE ldiv < ls.l) AS n_risky_classes,
  ROUND(
    coalesce(SUM(csz) FILTER (WHERE ldiv < ls.l), 0) * 1.0 / SUM(csz), 9
  ) AS risky_row_share,
  CAST(coalesce(SUM(csz) FILTER (WHERE ldiv < ls.l), 0) AS BIGINT)
    AS n_risky_rows
FROM classes CROSS JOIN ls
GROUP BY ls.l
"""


LR = 0.5


def _alg_sigmoid(z: F.Column) -> F.Column:
    """Algebraic sigmoid 0.5 + z/(2*(1+|z|)): IEEE-exact, no exp()."""
    return F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))


def _probe_input(spark: SparkSession, sf: str) -> DataFrame:
    """Embeddings projected to (vec_id, y = label%2, v) — the training
    view shared by the train and apply halves."""
    return table(spark, sf, "embeddings").select(
        "vec_id",
        (F.col("label") % 2).cast("double").alias("y"),
        _as_double("embedding").alias("v"),
    )


def _train_probe(e: DataFrame, n: float):
    """The {ITERS}-step full-batch GD loop from w=0 (lr={LR}); returns
    (w_df 64-row (pos, w), w_row 1-row weight list). Shared verbatim by
    ``embedding_linear_probe`` and ``quality_classifier_apply`` so the
    apply half scores with EXACTLY the weights the train half reports."""
    w_df = None  # (pos, w) — None means w == 0 (first iteration)
    w_row = None  # 1-row DataFrame with the weight list
    for _ in range(ITERS):
        if w_df is None:
            m_df = e.select(
                "y", "v", F.round(F.lit(0.5) - F.col("y"), 9).alias("m")
            )
        else:
            m_df = e.crossJoin(F.broadcast(w_row)).select(
                "y",
                "v",
                F.round(
                    _alg_sigmoid(_fold_dot(F.col("v"), F.col("wl"))) - F.col("y"), 9
                ).alias("m"),
            )
        contrib = m_df.select(
            F.col("m").cast("decimal(18,9)").alias("m9"),
            F.posexplode("v").alias("pos", "x"),
        )
        # raw float32 cells quantize via modeless floor(x*1e7+0.5) — a
        # ROUND(x,9) here would hit the same decimal-cast tie class the
        # PCA mean fix documents (dyadic float32 values); the margins m
        # are generic full-mantissa doubles, safe to ROUND
        g = contrib.groupBy("pos").agg(
            (
                F.sum(
                    F.floor(F.col("x") * F.lit(1e7) + F.lit(0.5))
                    .cast("decimal(18,0)")
                    * F.col("m9")
                ).cast("double")
                / F.lit(1e7)
            ).alias("s")
        )
        if w_df is None:
            w_df = g.select("pos", (-F.lit(LR) * F.col("s") / F.lit(n)).alias("w"))
        else:
            w_df = g.join(F.broadcast(w_df), "pos").select(
                "pos", (F.col("w") - F.lit(LR) * F.col("s") / F.lit(n)).alias("w")
            )
        # Truncate lineage at the 1-ROW weight list, not the 64-row
        # frame: the next iteration's broadcast previously re-ran the
        # collect_list aggregate over the checkpointed w_df per use — one
        # extra shuffle + job per iteration. Checkpointing w_row instead and
        # deriving the (pos, w) frame by posexplode keeps the SAME doubles
        # (the array is the sort-by-pos of the identical weight rows) while
        # the per-iteration state is a materialized single row.
        w_row = w_df.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda s: s["w"]
            ).alias("wl")
        ).localCheckpoint(eager=True)
        w_df = w_row.select(F.posexplode("wl").alias("pos", "w"))
    return w_df, w_row


def q_embedding_linear_probe(spark: SparkSession, sf: str) -> DataFrame:
    """Binary linear probe (target: label % 2) trained with {ITERS}
    full-batch gradient steps from w=0, lr={LR}; returns the final
    per-dimension weight and the training accuracy. Gradient step:
    w <- w - lr/n * X^T (s(Xw) - y) with the algebraic sigmoid s.

    Every iteration is: broadcast the 1-row weight array, one scan of
    the embeddings computing the per-row margin, posexplode to (pos,
    x·m) contributions, ONE 64-key groupBy (map-side combined), and a
    64-row join to form the next weights. No driver round-trip for
    model state; the one bounded scalar is n (corpus size)."""
    e = _probe_input(spark, sf)
    n = float(e.count())  # one bounded scalar
    w_df, w_row = _train_probe(e, n)

    acc = (
        e.crossJoin(F.broadcast(w_row))
        .select(
            (
                (_fold_dot(F.col("v"), F.col("wl")) > 0)
                == (F.col("y") == 1.0)
            )
            .cast("double")
            .alias("ok")
        )
        .agg(F.round(F.avg("ok"), 6).alias("train_accuracy"))
    )
    return w_df.crossJoin(F.broadcast(acc)).select(
        "pos", F.round("w", 9).alias("weight"), "train_accuracy"
    )


_SQL_DOT = "list_sum(list_transform(list_zip(v, wl), p -> p[1]*p[2]))"


def _gd_ctes() -> list[str]:
    """The unrolled {ITERS}-step GD CTE chain (e … w{ITERS}) — shared
    by the train and apply oracles so both score from identical
    weights, mirroring ``_train_probe`` on the Spark side."""
    dot = _SQL_DOT
    ctes = [
        "e AS (SELECT vec_id, CAST(label % 2 AS DOUBLE) AS y,"
        " CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM e)",
        "m0 AS (SELECT y, v, ROUND(0.5 - y, 9) AS m FROM e)",
        f"g0 AS (SELECT i-1 AS pos,"
        f" CAST(SUM(CAST(floor(v[i]*1e7+0.5) AS DECIMAL(18,0))"
        f" * CAST(m AS DECIMAL(18,9))) AS DOUBLE) / 1e7 AS s"
        f" FROM m0, range(1,{DIM + 1}) r(i) GROUP BY i-1)",
        f"w1 AS (SELECT pos, 0.0 - {LR} * s / n.c AS w FROM g0, n)",
    ]
    for k in range(1, ITERS):
        ctes += [
            f"wl{k} AS (SELECT list(w ORDER BY pos) AS wl FROM w{k})",
            f"m{k} AS (SELECT y, v,"
            f" ROUND(0.5 + z/(2*(1+abs(z))) - y, 9) AS m FROM ("
            f"SELECT y, v, {dot} AS z FROM e, wl{k}))",
            f"g{k} AS (SELECT i-1 AS pos,"
            f" CAST(SUM(CAST(floor(v[i]*1e7+0.5) AS DECIMAL(18,0))"
            f" * CAST(m AS DECIMAL(18,9))) AS DOUBLE) / 1e7 AS s"
            f" FROM m{k}, range(1,{DIM + 1}) r(i) GROUP BY i-1)",
            f"w{k + 1} AS (SELECT g.pos, w.w - {LR} * g.s / n.c AS w"
            f" FROM g{k} g JOIN w{k} w USING (pos), n)",
        ]
    return ctes


def _probe_oracle() -> str:
    dot = _SQL_DOT
    ctes = _gd_ctes()
    ctes += [
        f"wlf AS (SELECT list(w ORDER BY pos) AS wl FROM w{ITERS})",
        f"acc AS (SELECT ROUND(AVG(CASE WHEN ({dot} > 0) = (y = 1.0)"
        f" THEN 1.0 ELSE 0.0 END), 6) AS train_accuracy FROM e, wlf)",
    ]
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT CAST(pos AS INTEGER) AS pos,"
        f" ROUND(w, 9) AS weight, acc.train_accuracy FROM w{ITERS}, acc"
    )


SQL_EMBEDDING_LINEAR_PROBE = _probe_oracle()


def q_quality_classifier_apply(spark: SparkSession, sf: str) -> DataFrame:
    """The APPLY half of the linear probe — the fastText-style quality
    classifier run a curation pipeline executes after training: score
    EVERY embedding with the trained weights (p = s(w·x), the same
    algebraic sigmoid), bucket scores into deciles, and report each
    bucket's population, positive count, and mean score — the
    score-distribution table that picks the keep threshold (train on a
    labeled slice, apply to the corpus, cut where the buckets separate).
    Completes the train→apply loop the way ``tokenizer_bpe_apply``
    closes ``tokenizer_bpe_train``.

    Determinism: identical weights by construction (the loop and its
    unrolled-CTE oracle are shared with ``embedding_linear_probe``
    verbatim); p is ROUND(·, 9) of a sequential-fold dot through the
    exp-free sigmoid; the decile boundary compare is floor(p*10) on
    identical doubles (the algebraic sigmoid's open (0,1) range keeps
    floor in 0..9); the mean is an exact DECIMAL(18,9) sum divided
    once.

    Scale shape: training is the probe's {ITERS} bounded-state passes;
    scoring is ONE corpus scan against the broadcast 1-row weight
    vector; the report groupBy has <= 10 keys (map-side combined to
    nothing)."""
    e = _probe_input(spark, sf)
    n = float(e.count())  # one bounded scalar
    _, w_row = _train_probe(e, n)
    scored = e.crossJoin(F.broadcast(w_row)).select(
        "y",
        F.round(_alg_sigmoid(_fold_dot(F.col("v"), F.col("wl"))), 9).alias("p"),
    )
    return scored.groupBy(
        F.floor(F.col("p") * 10).cast("int").alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.sum((F.col("y") == 1.0).cast("long")).alias("n_pos"),
        F.round(
            F.sum(F.col("p").cast("decimal(18,9)")).cast("double") / F.count("*"), 6
        ).alias("mean_score"),
    )


def _apply_oracle() -> str:
    dot = _SQL_DOT
    ctes = _gd_ctes()
    ctes += [
        f"wlf AS (SELECT list(w ORDER BY pos) AS wl FROM w{ITERS})",
        f"scored AS (SELECT y, ROUND(0.5 + z/(2*(1+abs(z))), 9) AS p FROM ("
        f"SELECT y, {dot} AS z FROM e, wlf))",
    ]
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT CAST(floor(p*10) AS INTEGER)"
        " AS bucket, COUNT(*) AS n,"
        " CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,"
        " ROUND(CAST(SUM(CAST(p AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6)"
        " AS mean_score"
        " FROM scored GROUP BY 1"
    )


SQL_QUALITY_CLASSIFIER_APPLY = _apply_oracle()


def q_quality_calibration_report(spark: SparkSession, sf: str) -> DataFrame:
    """Reliability diagram + expected calibration error (ECE) for the
    trained probe — the check run BEFORE a classifier's score threshold
    is trusted: per decile bucket, mean predicted probability vs the
    EMPIRICAL positive rate, their gap, and the bucket's ECE
    contribution (|gap| weighted by bucket population / corpus). The
    summed contributions ARE the standard ECE (Guo et al. 2017's
    binned form); a well-calibrated probe has per-bucket gaps near 0.
    Shares the GD loop and scoring with ``quality_classifier_apply``
    verbatim — same weights, same buckets, one more derived table.

    Determinism: identical weights/scores by construction; predicted
    means are exact DECIMAL(18,9) sums divided once; empirical rates
    and the population weight are integer-ratio divisions; the gap is
    one subtraction of those identical doubles, rounded for display
    AFTER the |gap|·weight product.

    Scale shape: identical to the apply half (training's bounded-state
    passes + ONE scoring scan) — the report is a second aggregation
    over the same <= 10-key groupBy output."""
    e = _probe_input(spark, sf)
    n = float(e.count())  # one bounded scalar
    _, w_row = _train_probe(e, n)
    scored = e.crossJoin(F.broadcast(w_row)).select(
        "y",
        F.round(_alg_sigmoid(_fold_dot(F.col("v"), F.col("wl"))), 9).alias("p"),
    )
    b = scored.groupBy(
        F.floor(F.col("p") * 10).cast("int").alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.sum((F.col("y") == 1.0).cast("long")).alias("n_pos"),
        F.sum(F.col("p").cast("decimal(18,9)")).alias("sp"),
    )
    mean_p = F.col("sp").cast("double") / F.col("n")
    frac_pos = F.col("n_pos") / F.col("n")
    gap = mean_p - frac_pos
    return b.select(
        "bucket",
        "n",
        F.round(mean_p, 6).alias("mean_predicted"),
        F.round(frac_pos, 6).alias("frac_positive"),
        F.round(gap, 6).alias("gap"),
        F.round(F.abs(gap) * (F.col("n") / F.lit(n)), 9).alias("ece_contrib"),
    )


def _calibration_oracle() -> str:
    dot = _SQL_DOT
    ctes = _gd_ctes()
    ctes += [
        f"wlf AS (SELECT list(w ORDER BY pos) AS wl FROM w{ITERS})",
        f"scored AS (SELECT y, ROUND(0.5 + z/(2*(1+abs(z))), 9) AS p FROM ("
        f"SELECT y, {dot} AS z FROM e, wlf))",
        "b AS (SELECT CAST(floor(p*10) AS INTEGER) AS bucket, COUNT(*) AS n,"
        " CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,"
        " SUM(CAST(p AS DECIMAL(18,9))) AS sp"
        " FROM scored GROUP BY 1)",
    ]
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT bucket, n,"
        " ROUND(CAST(sp AS DOUBLE) / n, 6) AS mean_predicted,"
        " ROUND(n_pos * 1.0 / n, 6) AS frac_positive,"
        " ROUND(CAST(sp AS DOUBLE) / n - n_pos * 1.0 / n, 6) AS gap,"
        " ROUND(abs(CAST(sp AS DOUBLE) / n - n_pos * 1.0 / n)"
        " * (n * 1.0 / n_all.c), 9) AS ece_contrib"
        " FROM b, (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM e) n_all"
    )


SQL_QUALITY_CALIBRATION_REPORT = _calibration_oracle()


# (edge name, child table, child key, parent table, parent key,
#  parent is dim-sized → broadcast). "Dim-sized" means FIXED cardinality
# regardless of scale factor (nation=25, region=5); part/supplier/
# customer/orders all grow linearly with SF, and F.broadcast is a hard
# hint Catalyst honors regardless of size — force-broadcasting an
# SF-scaling table would OOM the audit at exactly the scale it exists
# for. Their joins stay shuffles (or AQE picks broadcast at runtime
# when the parent happens to be small).
FK_EDGES = [
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey", False),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey", False),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey", False),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey", False),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey", True),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey", True),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey", True),
]


def q_integrity_audit(spark: SparkSession, sf: str) -> DataFrame:
    """One row per FK edge: child row count and orphan count (child keys
    absent from the parent). ONE pass over each child per edge: a left
    join against the deduped parent keys with a hit flag yields row
    count and orphan count from the same aggregate (the earlier
    anti-join + separate count formulation scanned every child twice).
    The distinct() on parent keys is kept deliberately — it makes the
    row count robust even when the parent's "primary key" is itself
    corrupt with duplicates, which is precisely the load-state this
    audit exists to catch. Fixed-size dims broadcast; SF-scaling
    parents shuffle on the key, which is the join the warehouse pays
    anyway. NULL child keys count as orphans — a NULL FK fails the
    constraint (a NULL equi-join key never matches)."""
    parts = []
    for name, child, ckey, parent, pkey, dim in FK_EDGES:
        c = table(spark, sf, child).select(F.col(ckey).alias("k"))
        p = (
            table(spark, sf, parent)
            .select(F.col(pkey).alias("k"))
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        if dim:
            p = F.broadcast(p)
        # pre-aggregate the child to (key, multiplicity) BEFORE the parent
        # join — the join shuffle carries distinct child keys instead of
        # every fact row, and the same exact integer totals fall out of the
        # multiplicity sums (NULL keys keep their own group and still never
        # match, so they stay counted as orphans; an empty child still
        # reports 0 rows via the coalesce, and n_orphans stays NULL-on-empty
        # exactly as the row-level sum did).
        ck = c.groupBy("k").agg(F.count(F.lit(1)).alias("cn"))
        parts.append(
            ck.join(p, "k", "left").agg(
                F.lit(name).alias("fk_edge"),
                F.coalesce(F.sum("cn"), F.lit(0)).alias("n_child_rows"),
                F.sum(
                    F.when(F.col("hit").isNull(), F.col("cn")).otherwise(0)
                ).alias("n_orphans"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


def _sql_integrity_audit() -> str:
    sels = []
    for name, child, ckey, parent, pkey, _ in FK_EDGES:
        sels.append(
            f"""SELECT '{name}' AS fk_edge,
  (SELECT COUNT(*) FROM {child}) AS n_child_rows,
  (SELECT COUNT(*) FROM {child} c
   WHERE c.{ckey} IS NULL
      OR NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pkey} = c.{ckey})
  ) AS n_orphans"""
        )
    return "\nUNION ALL\n".join(sels)


PROFILE_COLS = [
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
]


def q_dataset_profile(spark: SparkSession, sf: str) -> DataFrame:
    """ANALYZE TABLE lineitem: per numeric column, null count, exact
    distinct count, rounded min/max — the statistics a cost-based
    optimizer feeds on. All metrics for all columns come from ONE scan:
    count_distinct columns share the aggregate (Spark expands to an
    expand+partial-agg plan, still a single pass over the fact table);
    output is long-format (column, metric values), 8 rows."""
    li = table(spark, sf, "lineitem")
    aggs = []
    for c in PROFILE_COLS:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.round(F.min(F.col(c).cast("double")), 6).alias(f"{c}__min"),
            F.round(F.max(F.col(c).cast("double")), 6).alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__nulls").alias("null_count"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_value"),
            F.col(f"{c}__max").alias("max_value"),
        )
        for c in PROFILE_COLS
    ]
    return wide.select(F.explode(F.array(*rows)).alias("s")).select("s.*")


def _sql_dataset_profile() -> str:
    sels = []
    for c in PROFILE_COLS:
        sels.append(
            f"""SELECT '{c}' AS column,
  CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
  COUNT(DISTINCT {c}) AS n_distinct,
  ROUND(MIN(CAST({c} AS DOUBLE)), 6) AS min_value,
  ROUND(MAX(CAST({c} AS DOUBLE)), 6) AS max_value
FROM lineitem"""
        )
    return "\nUNION ALL\n".join(sels)


STOP_GATE_DEN = 20  # keep iff n_stop * 20 >= n_tokens (ratio >= 5%)


def q_quality_gate_agreement(spark: SparkSession, sf: str) -> DataFrame:
    """Agreement report between the Gopher rule gate
    (``gopher_quality_gate``) and a C4-style stopword-density gate
    (keep iff the doc has tokens and stopwords ≥ 1/{STOP_GATE_DEN} of
    them — an integer cross-multiply, so the 5% boundary has no float
    exposure): population, per-gate keep counts, both-keep count, the
    kept-set Jaccard, and binary Cohen's kappa.

    Plan: both gates are zero-shuffle map passes over one corpus scan
    each; the join is doc-keyed; everything after runs on ONE
    4-cell-backed row. All ratios are single integer divisions."""
    ga = q_gopher_quality_gate(spark, sf).select(
        "doc_id", F.col("keep").alias("keep_a")
    )
    t = table(spark, sf, "documents").select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    )
    n_tok = F.size("toks")
    n_stop = F.size(F.filter(F.col("toks"), lambda x: x.isin(*STOPWORDS_EN)))
    gb = t.select(
        "doc_id",
        (
            (n_tok > 0) & (n_stop * F.lit(STOP_GATE_DEN) >= n_tok)
        ).alias("keep_b"),
    )
    j = ga.join(gb, "doc_id")
    agg = j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep_a").cast("long")).alias("n_keep_gopher"),
        F.sum(F.col("keep_b").cast("long")).alias("n_keep_stopword"),
        F.sum((F.col("keep_a") & F.col("keep_b")).cast("long")).alias(
            "n_both"
        ),
    )
    n = F.col("n_docs")
    a = F.col("n_keep_gopher")
    b = F.col("n_keep_stopword")
    both = F.col("n_both")
    po = (both + (n - a - b + both)) / n
    pe = (a * b + (n - a) * (n - b)) / (n * n)
    # degenerate guards (nothing kept → Jaccard 0/0; both gates
    # constant → p_e = 1 and kappa 0/0): NULL in BOTH engines
    return agg.select(
        "n_docs",
        "n_keep_gopher",
        "n_keep_stopword",
        "n_both",
        F.round(
            F.when(a + b - both > 0, both / (a + b - both)), 6
        ).alias("keep_jaccard"),
        F.round(
            F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe)), 6
        ).alias("kappa"),
    )


def _gate_agreement_oracle() -> str:

    inlist = ",".join(f"'{w}'" for w in STOPWORDS_EN)
    return f"""
WITH gop AS ({SQL_GOPHER_QUALITY_GATE}),
tk AS (
  SELECT doc_id,
    {SQL_TOKENS} AS toks
  FROM documents
),
gb AS (
  SELECT doc_id,
    len(toks) > 0
      AND len(list_filter(toks, x -> x IN ({inlist}))) * {STOP_GATE_DEN}
          >= len(toks) AS keep_b
  FROM tk
),
agg AS (
  SELECT COUNT(*) AS n_docs,
    CAST(SUM(CASE WHEN gop.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_gopher,
    CAST(SUM(CASE WHEN gb.keep_b THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_stopword,
    CAST(SUM(CASE WHEN gop.keep AND gb.keep_b THEN 1 ELSE 0 END) AS BIGINT) AS n_both
  FROM gop JOIN gb ON gop.doc_id = gb.doc_id
)
SELECT n_docs, n_keep_gopher, n_keep_stopword, n_both,
  ROUND(CASE WHEN n_keep_gopher + n_keep_stopword - n_both > 0
    THEN n_both * 1.0 / (n_keep_gopher + n_keep_stopword - n_both) END, 6)
    AS keep_jaccard,
  ROUND(CASE WHEN (n_keep_gopher * n_keep_stopword
          + (n_docs - n_keep_gopher) * (n_docs - n_keep_stopword)) * 1.0
          / (n_docs * n_docs) < 1.0 THEN
    ((n_both + (n_docs - n_keep_gopher - n_keep_stopword + n_both)) * 1.0 / n_docs
     - (n_keep_gopher * n_keep_stopword
        + (n_docs - n_keep_gopher) * (n_docs - n_keep_stopword)) * 1.0
       / (n_docs * n_docs))
    / (1.0 - (n_keep_gopher * n_keep_stopword
              + (n_docs - n_keep_gopher) * (n_docs - n_keep_stopword)) * 1.0
             / (n_docs * n_docs)) END, 6) AS kappa
FROM agg
"""


QUERIES: dict[str, Query] = {
    "quality_outliers": Query(q_quality_outliers, SQL_QUALITY_OUTLIERS),
    "gopher_quality_gate": Query(q_gopher_quality_gate, SQL_GOPHER_QUALITY_GATE),
    "events_anomaly_mad": Query(q_events_anomaly_mad, SQL_EVENTS_ANOMALY_MAD),
    "cross_source_overlap": Query(
        q_cross_source_overlap, SQL_CROSS_SOURCE_OVERLAP
    ),
    "events_drift_psi": Query(q_events_drift_psi, SQL_EVENTS_DRIFT_PSI),
    "events_drift_ks": Query(q_events_drift_ks, SQL_EVENTS_DRIFT_KS),
    "dedup_inflation_report": Query(
        q_dedup_inflation_report, SQL_DEDUP_INFLATION_REPORT
    ),
    "split_leakage_audit": Query(
        q_split_leakage_audit, SQL_SPLIT_LEAKAGE_AUDIT
    ),
    "l_diversity_audit": Query(q_l_diversity_audit, SQL_L_DIVERSITY_AUDIT),
    "k_anonymity_audit": Query(q_k_anonymity_audit, SQL_K_ANONYMITY_AUDIT),
    "embedding_linear_probe": Query(
        q_embedding_linear_probe, SQL_EMBEDDING_LINEAR_PROBE
    ),
    "quality_classifier_apply": Query(
        q_quality_classifier_apply, SQL_QUALITY_CLASSIFIER_APPLY
    ),
    "quality_calibration_report": Query(
        q_quality_calibration_report, SQL_QUALITY_CALIBRATION_REPORT
    ),
    "integrity_audit": Query(q_integrity_audit, _sql_integrity_audit()),
    "dataset_profile": Query(q_dataset_profile, _sql_dataset_profile()),
    "quality_gate_agreement": Query(
        q_quality_gate_agreement, _gate_agreement_oracle()
    ),
}
