"""Distribution statistics, exact and approximate: moments, percentiles,
regressions, histograms, concentration indices (Gini, HHI), Benford and
winsorization audits, RFM segmentation, deterministic samples, and the
probabilistic sketches (HyperLogLog, count-min, MinHash, SimHash,
winnowing) graded against exact answers.

Sketch twins derive every random-looking quantity from ``md5``, which
Spark and DuckDB compute byte-identically, so bucketing, banding,
collision pairs and tie-breaks are value-hash-verified end to end. The
sketch semantics match the production arms in ``operators/dedup.py``
and ``operators/text_fp.py``; only the hash family differs.

Determinism: aggregates run over exact integers (counts, cents, digit
counts, rank·cents products); the doubles that follow are identical
closed-form expressions in both engines, with ROUND 6 absorbing
summation order. Collapsible denominators carry the same CASE guard in
both engines. Stddev/var/corr agree between engines only to ~1e-10
relative and are rounded to 6 dp on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import tokens as _tokens
from ..sources import table
from .base import SQL_TOKENS, Query, dec, md5_bucket, revenue_expr


def q_customer_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    """RFM segmentation: per customer, recency (latest order date),
    frequency (order count), monetary (decimal-summed total), each
    quartiled against exact percentile CUT-POINTS, concatenated into a
    3-digit segment.

    Quartiles are VALUE-based (standard RFM formulation): bucket b
    means the value sits strictly above the (4-b)/4 percentile, so
    tied values always share a bucket. An earlier version used three ntile
    windows instead — rank-based and tie-splitting, but each one a
    global unpartitioned sort over ALL customers, a single-task
    bottleneck at 100 TB. Here the plan is: one custkey aggregate, one
    1-row percentile aggregate (partial per-partition value maps, no
    row sort), broadcast the cut-points, bucket with CASE — map-side
    only after the custkey shuffle. At real scale swap `percentile`
    for `approx_percentile` (same plan shape); the exact form is kept
    because the DuckDB oracle reproduces its interpolation bit-for-bit
    (quantile_cont, (n-1)*q indexing — both engines).

    Recency percentiles run over epoch days (dates aren't numeric for
    interpolation); monetary over cents-exact doubles."""
    o = table(spark, sf, "orders")
    agg = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(dec("o_totalprice")).alias("monetary_dec"),
    ).select(
        "o_custkey",
        "last_order",
        "frequency",
        F.unix_date(F.col("last_order").cast("date")).alias("rdays"),
        F.col("monetary_dec").cast("double").alias("monetary_d"),
        "monetary_dec",
    )
    qs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    cuts = agg.agg(
        F.percentile("rdays", qs).alias("rq"),
        F.percentile("frequency", qs).alias("fq"),
        F.percentile("monetary_d", qs).alias("mq"),
    )

    def bucket(col: str, cut: str):
        # DESC quartiles: above p75 → 1, above p50 → 2, above p25 → 3
        c = F.col(col).cast("double")
        return (
            F.when(c > F.col(cut)[2], 1)
            .when(c > F.col(cut)[1], 2)
            .when(c > F.col(cut)[0], 3)
            .otherwise(4)
        )

    return agg.crossJoin(F.broadcast(cuts)).select(
        F.col("o_custkey").alias("custkey"),
        bucket("rdays", "rq").alias("r_quartile"),
        bucket("frequency", "fq").alias("f_quartile"),
        bucket("monetary_d", "mq").alias("m_quartile"),
        F.concat_ws(
            "",
            bucket("rdays", "rq"),
            bucket("frequency", "fq"),
            bucket("monetary_d", "mq"),
        ).alias("segment"),
        F.round(F.col("monetary_dec"), 2).cast("double").alias("monetary"),
    )


SQL_CUSTOMER_RFM_SEGMENTS = """
WITH agg AS (
  SELECT o_custkey,
    MAX(o_orderdate) AS last_order,
    COUNT(*) AS frequency,
    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary_dec,
    CAST(CAST(MAX(o_orderdate) AS DATE) - DATE '1970-01-01' AS BIGINT) AS rdays,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary_d
  FROM orders GROUP BY o_custkey
),
cuts AS (
  SELECT quantile_cont(rdays, [0.25, 0.5, 0.75]) AS rq,
    quantile_cont(frequency, [0.25, 0.5, 0.75]) AS fq,
    quantile_cont(monetary_d, [0.25, 0.5, 0.75]) AS mq
  FROM agg
),
b AS (
  SELECT a.*,
    CASE WHEN a.rdays > c.rq[3] THEN 1 WHEN a.rdays > c.rq[2] THEN 2
         WHEN a.rdays > c.rq[1] THEN 3 ELSE 4 END AS r_quartile,
    CASE WHEN a.frequency > c.fq[3] THEN 1 WHEN a.frequency > c.fq[2] THEN 2
         WHEN a.frequency > c.fq[1] THEN 3 ELSE 4 END AS f_quartile,
    CASE WHEN a.monetary_d > c.mq[3] THEN 1 WHEN a.monetary_d > c.mq[2] THEN 2
         WHEN a.monetary_d > c.mq[1] THEN 3 ELSE 4 END AS m_quartile
  FROM agg a, cuts c
)
SELECT o_custkey AS custkey,
  CAST(r_quartile AS INTEGER) AS r_quartile,
  CAST(f_quartile AS INTEGER) AS f_quartile,
  CAST(m_quartile AS INTEGER) AS m_quartile,
  CAST(r_quartile AS VARCHAR) || CAST(f_quartile AS VARCHAR) || CAST(m_quartile AS VARCHAR) AS segment,
  CAST(ROUND(monetary_dec, 2) AS DOUBLE) AS monetary
FROM b
"""


def q_events_value_moments(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type skewness g₁ = m₃/m₂^1.5 and excess kurtosis
    g₂ = m₄/m₂² − 3 of the value column, from raw power sums of the
    micro-quantized value (q = round(value·100), exact integer cents
    — skew/kurtosis are scale-invariant so the ×100 cancels): the
    tail profile consulted before trusting any mean/σ-based monitor
    on this stream (g₂ ≫ 0 says MAD, not z-scores).

    Determinism: per-term powers q², q³, q⁴ are identical IEEE
    products of exact-integer-valued doubles in both engines; only
    the summation order differs and ROUND 6 absorbs it (the entropy
    precedent). Zero-variance types yield guarded NULLs. Plan: ONE
    scan, map-side 5-sum partials per type."""
    ev = table(spark, sf, "events")
    q = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").cast(
        "double"
    )
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    n = F.col("n").cast("double")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu * mu * mu * mu
    )
    return agg.select(
        "event_type",
        F.col("n").alias("n_events"),
        F.round(mu / 100, 6).alias("mean_value"),
        F.round(
            F.when(m2 > 0, m3 / F.pow(m2, F.lit(1.5))), 6
        ).alias("skewness"),
        F.round(
            F.when(m2 > 0, m4 / (m2 * m2) - 3), 6
        ).alias("excess_kurtosis"),
    ).orderBy("event_type")


SQL_EVENTS_VALUE_MOMENTS = """
WITH agg AS (
  SELECT event_type, COUNT(*) AS n,
    SUM(q) AS s1, SUM(q * q) AS s2,
    SUM(q * q * q) AS s3, SUM(q * q * q * q) AS s4
  FROM (
    SELECT event_type,
      CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS DOUBLE) AS q
    FROM events
  ) GROUP BY 1
)
SELECT event_type, n AS n_events,
  ROUND((s1 / n) / 100, 6) AS mean_value,
  ROUND(CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0 THEN
    (s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
    / pow(s2 / n - (s1 / n) * (s1 / n), 1.5) END, 6) AS skewness,
  ROUND(CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0 THEN
    (s4 / n - 4 * (s1 / n) * (s3 / n)
     + 6 * (s1 / n) * (s1 / n) * (s2 / n)
     - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
    / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n))) - 3
    END, 6) AS excess_kurtosis
FROM agg ORDER BY event_type
"""


# --- MinHash-LSH (graded): 16 md5-permutations, 4 bands x 4 rows ---
MH_PERMS = 16
MH_BANDS = 4
MH_ROWS = MH_PERMS // MH_BANDS


def _mh_hash(perm: int, term) -> F.Column:
    """60-bit md5-derived hash of (perm, term) — the 'permutation'."""
    h = F.md5(F.concat(F.lit(f"{perm}|"), term))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long")


def q_dedup_minhash_graded(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH candidate pairs, fully hash-verified: per doc the
    16-slot signature is MIN over the term set of 16 md5-derived hash
    functions (one distinct-(doc,term) shuffle, one doc-keyed agg with
    16 map-side-combinable MINs); signatures are cut into 4 bands of 4
    and docs colliding on any band's md5 become candidates. Output is
    every candidate pair with the number of colliding bands — exactly
    the production ``dedup_minhash_lsh`` shape (operators/dedup.py)
    with the numpy KM-permutation family swapped for md5 so DuckDB
    reproduces signatures, bands, pairs AND counts bit-for-bit.

    Scale: rows moved = O(docs·bands); the band self-join only meets
    rows inside a bucket. No all-pairs term anywhere."""
    d = table(spark, sf, "documents")
    dt = d.select(
        "doc_id", F.explode(F.array_distinct(_tokens(F.col("text")))).alias("term")
    )
    sig = dt.groupBy("doc_id").agg(
        *[
            F.min(_mh_hash(i, F.col("term"))).alias(f"h{i}")
            for i in range(MH_PERMS)
        ]
    ).localCheckpoint(eager=True)
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"h{b * MH_ROWS + r}").cast("string")
                                for r in range(MH_ROWS)
                            ],
                        )
                    )
                    for b in range(MH_BANDS)
                ]
            )
        ).alias("band", "bsig"),
    )
    left = bands.alias("a")
    right = bands.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def _sql_mh_hash(perm: int, term: str) -> str:
    return f"('0x' || substr(md5('{perm}|' || {term}), 1, 15))::BIGINT"


SQL_DEDUP_MINHASH_GRADED = f"""
WITH dt AS (
  SELECT DISTINCT doc_id,
    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '')) AS term
  FROM documents
),
sig AS (
  SELECT doc_id,
    {", ".join(f"MIN({_sql_mh_hash(i, 'term')}) AS h{i}" for i in range(MH_PERMS))}
  FROM dt GROUP BY doc_id
),
bands AS (
  SELECT doc_id, b.band,
    CASE b.band
      {" ".join(
        "WHEN {b} THEN md5({expr})".format(
            b=b,
            expr=" || ',' || ".join(
                f"CAST(h{b * MH_ROWS + r} AS VARCHAR)" for r in range(MH_ROWS)
            ),
        )
        for b in range(MH_BANDS)
      )}
    END AS bsig
  FROM sig, (SELECT unnest(range({MH_BANDS})) AS band) b
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


# --- SimHash (graded): 32-bit md5-derived signature, 4 bands x 8 bits ---
SH_BITS = 32
SH_BANDS = 4
SH_BAND_BITS = SH_BITS // SH_BANDS
SH_MAX_HAMMING = 3  # = SH_BANDS - 1, the bound for which banding is exhaustive


def q_dedup_simhash_graded(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup candidates, fully hash-verified: every term
    gets a 32-bit md5-derived hash; each signature bit is the sign of
    the term-frequency-weighted vote over that bit (+tf if set, -tf if
    clear; vote<=0 -> 0, matching the production numpy arm's strict
    sign rule). Candidate pairs collide on one of 4 byte-bands and are
    kept when bit_count(xor) <= {SH_MAX_HAMMING}. The threshold equals
    bands-1, the pigeonhole guarantee: any pair within it MUST share a
    band, so banding is exhaustive (a larger threshold would silently
    drop qualifying pairs whose differing bits spread across all
    bands). Same sound predicate as the production
    ``operators/dedup.py`` arm; md5 bit votes make signature, bands,
    xor distance and the pair set DuckDB-exact.

    Scale: the vote stream is (doc, term, tf) x 32 — a uniform fan-out
    aggregated map-side on (doc, bit); pairs never leave band buckets."""
    d = table(spark, sf, "documents")
    tf = (
        d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    h32 = F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("long")
    # all 32 bit-votes as agg columns of ONE doc-keyed groupBy: no 32x
    # fan-out of the term stream and one shuffle instead of two (the
    # (doc,bit)-keyed formulation costs an extra exchange for nothing)
    votes = tf.withColumn("h", h32).groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"tf * (2 * ((h >> {b}) & 1) - 1)")).alias(f"v{b}")
            for b in range(SH_BITS)
        ]
    )
    sig = votes.select(
        "doc_id",
        sum(
            (
                F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
                for b in range(SH_BITS)
            ),
            F.lit(0).cast("long"),
        ).alias("sig"),
    )
    bands = sig.select(
        "doc_id",
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(SH_BANDS - 1))).alias("band"),
    ).withColumn(
        "bval",
        F.expr(f"(sig >> (band * {SH_BAND_BITS})) & {(1 << SH_BAND_BITS) - 1}"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= SH_MAX_HAMMING)
        .distinct()
    )
    return pairs


SQL_DEDUP_SIMHASH_GRADED = f"""
WITH tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM (
    SELECT doc_id,
      unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '')) AS term
    FROM documents
  ) GROUP BY doc_id, term
),
votes AS (
  SELECT doc_id, b.bit,
    SUM(tf * (2 * ((('0x' || substr(md5(term),1,8))::BIGINT >> b.bit) & 1) - 1)) AS v
  FROM tf, (SELECT unnest(range({SH_BITS})) AS bit) b
  GROUP BY doc_id, b.bit
),
sig AS (
  SELECT doc_id,
    SUM(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS sig
  FROM votes GROUP BY doc_id
),
bands AS (
  SELECT doc_id, sig, b.band,
    (sig >> (b.band * {SH_BAND_BITS})) & {(1 << SH_BAND_BITS) - 1} AS bval
  FROM sig, (SELECT unnest(range({SH_BANDS})) AS band) b
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= {SH_MAX_HAMMING}
"""


# --- HyperLogLog (graded): p=8 -> 256 registers, md5-derived hash ---
HLL_P = 8
HLL_M = 1 << HLL_P  # 256 registers
# Flajolet et al. 2007 bias constant for m >= 128; computed ONCE in
# Python and inlined as the same repr-literal into both engines, so
# each side performs exactly one IEEE division on identical doubles.
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
HLL_NUMERATOR = HLL_ALPHA * HLL_M * HLL_M


def hll_registers(df: DataFrame, group_col: str, value) -> DataFrame:
    """(group, bucket, mreg) HLL register table for ``value`` within
    each group — the mergeable sketch state: registers of a UNION of
    corpora are the bucket-wise MAX of each corpus's registers
    (asserted in tests/test_stats.py). Shared by the graded query
    so the merge property is tested against the production layout."""
    h = F.md5(F.concat(F.lit("hll|"), value.cast("string")))
    x = F.conv(F.substring(h, 3, 8), 16, 10).cast("long")
    rho = F.when(x == 0, F.lit(33)).otherwise(
        F.lit(33) - F.length(F.conv(x.cast("string"), 10, 2))
    )
    return (
        df.select(
            group_col,
            F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy(group_col, "bucket")
        .agg(F.max("rho").alias("mreg"))
    )


def q_hll_distinct_graded(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog distinct-user count per event type, fully
    hash-verified — the graded twin of the rows-only
    ``approx_distinct_rollup`` arm, completing the sketch family
    (CMS, Bloom, GK/percentile, MinHash, SimHash, winnowing all have
    graded twins; HLL was the last rows-only-only sketch).

    Engine-reproducible layout (Flajolet et al. 2007): h = md5 of the
    user id; register index = first 8 hash bits; rho = position of the
    leftmost 1-bit of the next 32 bits (33 if all zero), computed as
    33 - bit_length via integer base-2 string conversion — NO float
    log, so both engines agree exactly. The estimate
    alpha·m²/Σ 2^-M[j] stays bit-deterministic because every addend is
    an exact power of two (1.0 / (1 << M), never libm pow): the sum of
    ≤256 multiples of 2^-33 bounded by 256 needs 41 mantissa bits < 53,
    so it is EXACT in double regardless of accumulation order — the
    one property that lets a float estimate survive the value hash.
    Small-range correction (the paper's E ≤ 2.5m branch) switches to
    linear counting m·ln(m/V) over the V zero registers; the branch
    predicate compares bit-identical doubles so both engines take the
    same arm, and the single ln follows the suite's precedent of
    trusting both libms on identical inputs (text_char_entropy).

    Scale: NO distinct pre-aggregation — max(rho) is idempotent under
    duplicates, which is HLL's entire point. One uniform
    (type, register)-keyed shuffle with map-side combine collapses the
    raw event stream to ≤ types×256 cells; registers merge across
    corpora by MAX (mergeability is what `approx_count_distinct`
    exploits too). The exact COUNT DISTINCT column exists only to
    exhibit the error and costs one pair-distinct shuffle the sketch
    itself never needs. Reference has no sketches (SURVEY §2 — EXT).
    """
    e = table(spark, sf, "events")
    regs = hll_registers(e, "event_type", F.col("user_id"))
    agg = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("observed_buckets"),
        F.sum(
            F.lit(1.0)
            / F.expr("CAST(shiftleft(CAST(1 AS BIGINT), mreg) AS DOUBLE)")
        ).alias("s_obs"),
    )
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    raw = F.lit(HLL_NUMERATOR) / (
        F.col("s_obs") + (F.lit(HLL_M) - F.col("observed_buckets"))
    )
    zeros = F.lit(HLL_M) - F.col("observed_buckets")
    corrected = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (zeros > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zeros),
    ).otherwise(raw)
    return (
        agg.join(exact, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            "observed_buckets",
            F.round(corrected, 4).alias("hll_estimate"),
        )
        .orderBy("event_type")
    )


SQL_HLL_DISTINCT_GRADED = f"""
WITH h AS (
  SELECT event_type,
    ('0x' || substr(md5('hll|' || CAST(user_id AS VARCHAR)), 1, 2))::INT AS bucket,
    ('0x' || substr(md5('hll|' || CAST(user_id AS VARCHAR)), 3, 8))::BIGINT AS x
  FROM events
),
regs AS (
  SELECT event_type, bucket,
    MAX(CASE WHEN x = 0 THEN 33 ELSE 33 - length(to_base(x, 2)) END) AS mreg
  FROM h GROUP BY event_type, bucket
),
agg AS (
  SELECT event_type, COUNT(*) AS observed_buckets,
    SUM(CAST(1 AS DOUBLE) / CAST((1::BIGINT << mreg) AS DOUBLE)) AS s_obs
  FROM regs GROUP BY event_type
),
ex AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type
),
est AS (
  SELECT event_type, observed_buckets,
    {HLL_NUMERATOR!r} / (s_obs + ({HLL_M} - observed_buckets)) AS raw,
    {HLL_M} - observed_buckets AS zeros
  FROM agg
)
SELECT e.event_type, ex.exact_distinct, e.observed_buckets,
  ROUND(CASE WHEN e.raw <= {2.5 * HLL_M!r} AND e.zeros > 0
             THEN CAST({HLL_M} AS DOUBLE) * ln(CAST({HLL_M} AS DOUBLE) / e.zeros)
             ELSE e.raw END, 4) AS hll_estimate
FROM est e JOIN ex USING (event_type)
ORDER BY event_type
"""


AUDIT_DOCS = 200  # calibration sample: all docs with doc_id < 200


def q_dedup_minhash_jaccard_est(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-accuracy audit for MinHash: for every LSH candidate pair,
    the signature-agreement Jaccard estimate (matching slots / 16)
    next to the EXACT token-set Jaccard and the absolute error — the
    same evidence upgrade the ANN arms got from recall@k: the sketch
    doesn't just emit candidates, its estimation error is measured and
    hash-verified. E[matching/perms] = J is the MinHash identity
    (Broder 1997); with 16 perms the audit exhibits the +-1/sqrt(16)
    noise band the production 128-perm arm shrinks 2.8x further.

    Determinism: matching-slot count and inter/union sizes are
    integers; est = k/16 is an exact dyadic double; exact_jaccard is
    one correctly-rounded division — nothing in the output depends on
    accumulation order.

    Plan: a calibration job measures estimator error on a bounded
    deterministic sample, never on every candidate (the 4-band unigram
    twin is deliberately permissive — its candidate count is
    cluster-quadratic, 6M+ at sf0.1, which is fine for its own
    dedup purpose but not for an audit join). The sample here is the
    doc_id < AUDIT_DOCS prefix, a predicate that PUSHES DOWN to the
    parquet scan — signatures, bands, the band self-join and both
    posting-list joins all run on the 200-doc sample, so audit cost is
    O(sample), independent of corpus size. Candidate pairs within the
    sample come from the SAME band-join shape as
    ``dedup_minhash_graded``."""
    d = table(spark, sf, "documents").filter(F.col("doc_id") < AUDIT_DOCS)
    # the sample term stream (4 plan references), signatures (3), sizes (2)
    # and candidate pairs (2) are each sample-bounded (≤ AUDIT_DOCS docs) —
    # materialize them once instead of replaying the tokenize/signature
    # pipeline per reference (36 Exchanges / 20 parquet scans → 6 / 0)
    dt = d.select(
        "doc_id", F.explode(F.array_distinct(_tokens(F.col("text")))).alias("term")
    ).localCheckpoint(eager=True)
    sizes = (
        dt.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("sz"))
        .localCheckpoint(eager=True)
    )
    sig = dt.groupBy("doc_id").agg(
        *[
            F.min(_mh_hash(i, F.col("term"))).alias(f"h{i}")
            for i in range(MH_PERMS)
        ]
    )
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"h{b * MH_ROWS + r}").cast("string")
                                for r in range(MH_ROWS)
                            ],
                        )
                    )
                    for b in range(MH_BANDS)
                ]
            )
        ).alias("band", "bsig"),
    )
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(MH_PERMS)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(MH_PERMS)],
    )
    matching = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(MH_PERMS)
    )
    est = sa.join(F.broadcast(pairs), "doc_a").join(
        sb, "doc_b"
    ).select("doc_a", "doc_b", matching.alias("k"))
    pt = dt.join(F.broadcast(pairs), dt.doc_id == pairs.doc_a).select(
        "doc_a", "doc_b", "term"
    )
    dtb = dt.select(F.col("doc_id").alias("db"), F.col("term").alias("tb"))
    inter = (
        pt.join(dtb, (pt.doc_b == dtb.db) & (pt.term == dtb.tb))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        est.join(inter, ["doc_a", "doc_b"])
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("k").cast("double") / F.lit(float(MH_PERMS))).alias("est_jaccard"),
            F.round(
                F.col("inter").cast("double")
                / (F.col("sza") + F.col("szb") - F.col("inter")),
                9,
            ).alias("exact_jaccard"),
            F.round(
                F.abs(
                    F.col("k").cast("double") / F.lit(float(MH_PERMS))
                    - F.col("inter").cast("double")
                    / (F.col("sza") + F.col("szb") - F.col("inter"))
                ),
                9,
            ).alias("abs_err"),
        )
    )


SQL_DEDUP_MINHASH_JACCARD_EST = f"""
WITH dt AS (
  SELECT DISTINCT doc_id,
    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '')) AS term
  FROM documents WHERE doc_id < {AUDIT_DOCS}
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM dt GROUP BY doc_id),
sig AS (
  SELECT doc_id,
    {", ".join(f"MIN({_sql_mh_hash(i, 'term')}) AS h{i}" for i in range(MH_PERMS))}
  FROM dt GROUP BY doc_id
),
bands AS (
  SELECT doc_id, b.band,
    CASE b.band
      {" ".join(
        "WHEN {b} THEN md5({expr})".format(
            b=b,
            expr=" || ',' || ".join(
                f"CAST(h{b * MH_ROWS + r} AS VARCHAR)" for r in range(MH_ROWS)
            ),
        )
        for b in range(MH_BANDS)
      )}
    END AS bsig
  FROM sig, (SELECT unnest(range({MH_BANDS})) AS band) b
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
),
est AS (
  SELECT p.doc_a, p.doc_b,
    {" + ".join(f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(MH_PERMS))} AS k
  FROM pairs p
  JOIN sig sa ON sa.doc_id = p.doc_a
  JOIN sig sb ON sb.doc_id = p.doc_b
),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS i
  FROM pairs p
  JOIN dt ta ON ta.doc_id = p.doc_a
  JOIN dt tb ON tb.doc_id = p.doc_b AND tb.term = ta.term
  GROUP BY p.doc_a, p.doc_b
)
SELECT e.doc_a, e.doc_b,
  CAST(e.k AS DOUBLE) / {float(MH_PERMS)!r} AS est_jaccard,
  ROUND(CAST(i.i AS DOUBLE) / (za.sz + zb.sz - i.i), 9) AS exact_jaccard,
  ROUND(abs(CAST(e.k AS DOUBLE) / {float(MH_PERMS)!r}
            - CAST(i.i AS DOUBLE) / (za.sz + zb.sz - i.i)), 9) AS abs_err
FROM est e
JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
JOIN sizes za ON za.doc_id = e.doc_a
JOIN sizes zb ON zb.doc_id = e.doc_b
"""


def q_approx_distinct_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable-sketch rollup — THE 100 TB distinct-count pattern:
    build one HLL sketch per (lang, source) cell, then merge cell
    sketches with ``hll_union_agg`` to per-lang distinct-doc estimates.
    COUNT(DISTINCT) re-shuffles raw values at every rollup level;
    sketches shuffle kilobytes and merge associatively, which is also
    how incremental daily rollups compose. Estimates are
    engine-specific (Apache DataSketches) → rows-only driver check;
    the ±5% accuracy bound vs exact is asserted in tests."""
    d = table(spark, sf, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.hll_sketch_agg("doc_id").alias("sk"),
        F.count("*").alias("n_rows"),
    )
    return (
        cells.groupBy("lang")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_docs"),
            F.sum("n_rows").alias("n_rows"),
        )
        .select("lang", "approx_docs", "n_rows")
    )


def q_histogram_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width histogram of order totals (10k-wide bins). Binning is a
    projection, so the aggregate shuffles only (bin → count) pairs —
    the classic map-side-combine shape that stays O(bins) at any SF."""
    o = table(spark, sf, "orders")
    bin_col = F.floor(F.col("o_totalprice") / F.lit(10000)).cast("long")
    return o.groupBy(bin_col.alias("bin")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.min("o_totalprice"), 6).alias("lo"),
        F.round(F.max("o_totalprice"), 6).alias("hi"),
    )


SQL_HISTOGRAM_BINS = """
SELECT CAST(FLOOR(o_totalprice / 10000) AS BIGINT) AS bin,
  COUNT(*) AS n_orders,
  ROUND(MIN(o_totalprice), 6) AS lo,
  ROUND(MAX(o_totalprice), 6) AS hi
FROM orders GROUP BY 1
"""


def q_stats_agg(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 6).alias("cov_qty_price"),
        F.round(F.avg(dec("l_extendedprice")).cast("double"), 6).alias("avg_price"),
    )


SQL_STATS_AGG = """
SELECT l_returnflag,
  ROUND(stddev_samp(l_quantity), 6) AS sd_qty,
  ROUND(var_samp(l_discount), 6) AS var_disc,
  ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
  ROUND(covar_samp(l_quantity, l_extendedprice), 6) AS cov_qty_price,
  ROUND(CAST(AVG(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS avg_price
FROM lineitem GROUP BY l_returnflag
"""


def q_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``). The approx/sketch variant (approx_percentile /
    t-digest) is a separate rows-only query — sketches differ by engine."""
    li = table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50_qty"),
        F.round(F.expr("percentile(l_quantity, 0.95)"), 6).alias("p95_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.25)"), 6).alias("p25_price"),
    )


SQL_PERCENTILES = """
SELECT l_returnflag,
  ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
  ROUND(quantile_cont(l_quantity, 0.95), 6) AS p95_qty,
  ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price
FROM lineitem GROUP BY l_returnflag
"""


def q_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """approx_count_distinct (HLL++) — the one-pass mergeable sketch used
    instead of COUNT(DISTINCT) at 100 TB. Engine sketches differ →
    rows-only check; accuracy vs exact asserted in tests (±5%)."""
    li = table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )


def q_agg_extras(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered-set / boolean / bitwise aggregate surface: median,
    count_if, bool_and/or, bit_and/or/xor, deterministic mode.
    All JVM hash aggregates — one shuffle on the group key.
    mode(col, deterministic=True) ties-break to the lowest value,
    matching DuckDB's mode(x ORDER BY x)."""
    li = table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 6).alias("med_qty"),
        F.count_if(F.col("l_quantity") > 25).alias("n_big"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_pos"),
        F.bool_or(F.col("l_quantity") > 49).alias("any_huge"),
        F.bit_and("l_linenumber").alias("ln_and"),
        F.bit_or("l_linenumber").alias("ln_or"),
        F.bit_xor("l_linenumber").alias("ln_xor"),
        F.mode("l_linestatus", True).alias("top_status"),
    )


SQL_AGG_EXTRAS = """
SELECT l_returnflag,
  ROUND(median(l_quantity), 6) AS med_qty,
  CAST(count_if(l_quantity > 25) AS BIGINT) AS n_big,
  bool_and(l_quantity > 0) AS all_pos,
  bool_or(l_quantity > 49) AS any_huge,
  bit_and(l_linenumber) AS ln_and,
  bit_or(l_linenumber) AS ln_or,
  bit_xor(l_linenumber) AS ln_xor,
  mode(l_linestatus ORDER BY l_linestatus) AS top_status
FROM lineitem GROUP BY l_returnflag
"""


def q_regr_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Linear-regression aggregates (price vs quantity per flag) — the
    one-pass moment accumulators (count, sums, co-moments) Spark merges
    map-side, so the shuffle carries O(groups) not O(rows)."""
    li = table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 6).alias("intercept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 9).alias("r2"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n"),
        F.round(F.regr_avgx("l_extendedprice", "l_quantity"), 6).alias("avg_x"),
        F.round(F.regr_avgy("l_extendedprice", "l_quantity"), 6).alias("avg_y"),
    )


SQL_REGR_AGG = """
SELECT l_returnflag,
  ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
  ROUND(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
  ROUND(regr_r2(l_extendedprice, l_quantity), 9) AS r2,
  regr_count(l_extendedprice, l_quantity) AS n,
  ROUND(regr_avgx(l_extendedprice, l_quantity), 6) AS avg_x,
  ROUND(regr_avgy(l_extendedprice, l_quantity), 6) AS avg_y
FROM lineitem GROUP BY l_returnflag
"""


def q_approx_percentile(spark: SparkSession, sf: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) — the mergeable
    one-pass quantile estimator for 100 TB (exact percentile needs a
    per-group sort/collect). Sketches are engine-specific → rows-only
    driver check; accuracy vs the exact percentile asserted in tests."""
    li = table(spark, sf, "lineitem")
    tail = F.expr("approx_percentile(l_extendedprice, array(0.9, 0.99), 1000)")
    return li.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("p50_approx"),
        F.element_at(tail, 1).alias("p90_approx"),
        F.element_at(tail, 2).alias("p99_approx"),
    )


def q_sample_deterministic(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic sampling via hash-mod — reproducible across engines
    AND cluster sizes, unlike rate-based ``df.sample`` (whose RNG is
    partition-dependent; provided separately as ``q_sample_rng``
    rows-only). This is the sampling pattern a training-data pipeline
    should use: stable membership under re-runs and repartitioning."""
    o = table(spark, sf, "orders")
    return o.filter(F.pmod(F.col("o_orderkey"), F.lit(20)) == 0).select(
        "o_orderkey", "o_custkey"
    )


SQL_SAMPLE_DETERMINISTIC = """
SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 20 = 0
"""


def q_sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sampling: per-class keep rates (all
    purchases, 1/4 of clicks, 1/20 of views) via hash-mod on the event
    id. The training-data rebalancing pattern: reproducible membership
    under re-runs AND repartitioning, unlike df.stat.sampleBy's RNG.
    One scan, no shuffle — the predicate is a pure projection."""
    ev = table(spark, sf, "events")
    rate = (
        F.when(F.col("event_type") == "purchase", 1)
        .when(F.col("event_type") == "click", 4)
        .otherwise(20)
    )
    return ev.filter(F.pmod(F.col("event_id"), rate) == 0).select(
        "event_id", "event_type", "user_id"
    )


SQL_SAMPLE_STRATIFIED = """
SELECT event_id, event_type, user_id
FROM events
WHERE event_id % (CASE event_type WHEN 'purchase' THEN 1
                  WHEN 'click' THEN 4 ELSE 20 END) = 0
"""


def q_sample_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): key = u^(1/w) with a HASH-derived uniform u instead
    of an RNG, top-k by key. Longer documents are proportionally more
    likely to be kept — the data-mixing knob of a curation pipeline —
    yet membership is exactly reproducible on any cluster layout.
    Top-k is TakeOrderedAndProject: no global sort at scale."""
    d = table(spark, sf, "documents")
    u = (F.pmod(F.col("doc_id"), F.lit(1000003)) * 2654435761 % 4294967296) / 4294967296.0
    w = F.octet_length("text").cast("double")
    key = F.round(F.pow(u, 1.0 / w), 9)
    return (
        d.select("doc_id", key.alias("es_key"))
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(100)
    )


SQL_SAMPLE_WEIGHTED = """
SELECT doc_id,
  ROUND(POW(((doc_id % 1000003) * 2654435761 % 4294967296) / 4294967296.0,
            1.0 / octet_length(encode(text))), 9) AS es_key
FROM documents
ORDER BY es_key DESC, doc_id ASC
LIMIT 100
"""


def q_sample_rng(spark: SparkSession, sf: str) -> DataFrame:
    """Bernoulli df.sample (seeded) — partition-dependent RNG stream →
    rows-only driver check; the exact sample under the test session's
    fixed partitioning is pinned in tests/test_sample_rng_pinned.py.

    Pitfall (PySpark 4.1.2): the 2-positional-arg overload
    ``df.sample(0.05, seed=42)`` silently DROPS the seed — the sample
    changed across sessions (64/68/73/74 rows measured on identical
    configs). Only the explicit ``sample(withReplacement=False,
    fraction=, seed=)`` form is reproducible; always use it."""
    return (
        table(spark, sf, "orders")
        .sample(withReplacement=False, fraction=0.05, seed=42)
        .select("o_orderkey")
    )


EQUI_DEPTH_PROBS = tuple(round(0.1 * i, 1) for i in range(1, 10))


def q_equi_depth_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-depth (equal-count) histogram of order totals — the
    optimizer-statistics shape, and the scale-sane alternative to a
    global ntile: a global NTILE window would sort ALL rows into one
    partition; instead the 9 decile boundaries come from one exact
    ``percentile`` aggregation, are broadcast as a 9-element array, and
    bucket assignment is a pure map (count of boundaries below the
    value). Exactness: Spark ``percentile`` ≡ DuckDB ``quantile_cont``
    (same interpolation), so boundaries are bit-identical.
    """
    orders = table(spark, sf, "orders")
    # ONE percentile call with an array of probs: a single sort buffer
    # computes all 9 deciles (9 separate percentile() aggregates each
    # buffer and sort the column independently — measured 3.2 s → 0.9 s
    # at sf0.1)
    probs = ", ".join(str(p) for p in EQUI_DEPTH_PROBS)
    bnds = orders.agg(
        F.expr(f"percentile(o_totalprice, array({probs}))").alias("bnds")
    )
    bucket = F.size(
        F.filter(F.col("bnds"), lambda x: F.col("o_totalprice") > x)
    ).cast("int")
    return (
        orders.join(F.broadcast(bnds))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
        )
    )


SQL_EQUI_DEPTH_HISTOGRAM = """
WITH b AS (
  SELECT [quantile_cont(o_totalprice, 0.1), quantile_cont(o_totalprice, 0.2),
          quantile_cont(o_totalprice, 0.3), quantile_cont(o_totalprice, 0.4),
          quantile_cont(o_totalprice, 0.5), quantile_cont(o_totalprice, 0.6),
          quantile_cont(o_totalprice, 0.7), quantile_cont(o_totalprice, 0.8),
          quantile_cont(o_totalprice, 0.9)] AS bnds
  FROM orders
)
SELECT CAST(len(list_filter(b.bnds, x -> o_totalprice > x)) AS INTEGER) AS bucket,
       COUNT(*) AS n, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders, b GROUP BY 1
"""


CMS_DEPTH = 4
CMS_WIDTH = 1024


def _cms_bucket(depth: int, term) -> F.Column:
    """Row-``depth`` count-min bucket (shared md5 recipe)."""
    return md5_bucket(f"{depth}|", term, CMS_WIDTH)


def cms_cells(term_counts: DataFrame) -> DataFrame:
    """(d, bucket, cnt) count-min cells from a (term, exact_cnt) count
    table — the mergeable sketch state: cells of a UNION of corpora are
    the cell-wise SUM of each corpus's cells (asserted in
    tests/test_stats.py). Shared by the graded query so the merge
    property is tested against the production layout."""
    return (
        term_counts.select(
            "exact_cnt",
            F.posexplode(
                F.array(*[_cms_bucket(i, F.col("term")) for i in range(CMS_DEPTH)])
            ).alias("d", "bucket"),
        )
        .groupBy("d", "bucket")
        .agg(F.sum("exact_cnt").alias("cnt"))
    )


def q_cms_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min-sketch heavy hitters: the mergeable frequency sketch
    (4 rows × 1024 buckets) next to HLL (approx_distinct) and GK
    (approx_percentile) in the sketch family.

    The sketch IS a DataFrame of (row, bucket, cnt) cells — mergeable
    across corpora by cell-wise addition, ≤4096 rows regardless of
    corpus size. Estimates for the exact top-20 terms come from probing
    the broadcast sketch; CMS guarantees est_cnt >= exact_cnt (asserted
    in tests; equality here — collisions need a vocab ≫ 1024).

    Plan: ONE tokenize pass → term-keyed count (map-side combining),
    then cells are the per-term counts re-summed by (row, bucket) — a
    cell's total over its terms equals its total over raw tokens, so
    md5 runs per DISTINCT TERM (vocab-sized, Heaps' law), not per token
    (corpus-sized); measured 1.26× at sf0.1 where the toy vocab is ~50
    terms — the ratio grows with corpus/vocab size, which is the 100 TB
    case. The shuffle moves one row per term; everything after is
    vocab-scale.
    """
    d = table(spark, sf, "documents")
    tok = d.select(F.explode(_tokens(F.col("text"))).alias("term"))
    term_counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("exact_cnt"))
    cells = cms_cells(term_counts)
    exact = term_counts.orderBy(F.col("exact_cnt").desc(), "term").limit(20)
    probes = exact.select(
        "term",
        "exact_cnt",
        F.posexplode(
            F.array(*[_cms_bucket(i, F.col("term")) for i in range(CMS_DEPTH)])
        ).alias("d", "bucket"),
    )
    return (
        probes.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("term", "exact_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
    )


SQL_CMS_HEAVY_HITTERS = f"""
WITH tok AS (
  SELECT unnest({SQL_TOKENS}) AS term FROM documents
), hashed AS (
  SELECT term, d,
         CAST(('0x' || substr(md5(d || '|' || term),1,8)) AS BIGINT) % {CMS_WIDTH} AS bucket
  FROM tok CROSS JOIN (SELECT unnest([0,1,2,3]) AS d) s
), cells AS (
  SELECT d, bucket, COUNT(*) AS cnt FROM hashed GROUP BY d, bucket
), exact AS (
  SELECT term, COUNT(*) AS exact_cnt FROM tok GROUP BY term
  ORDER BY exact_cnt DESC, term LIMIT 20
), probes AS (
  SELECT e.term, e.exact_cnt, s.d,
         CAST(('0x' || substr(md5(s.d || '|' || e.term),1,8)) AS BIGINT) % {CMS_WIDTH} AS bucket
  FROM exact e CROSS JOIN (SELECT unnest([0,1,2,3]) AS d) s
)
SELECT p.term, p.exact_cnt, MIN(c.cnt) AS est_cnt
FROM probes p JOIN cells c ON p.d = c.d AND p.bucket = c.bucket
GROUP BY p.term, p.exact_cnt
"""


def q_market_concentration_hhi(spark: SparkSession, sf: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of supplier revenue per
    nation: HHI = Σᵢ shareᵢ² (1/n for perfect competition, 1 for
    monopoly) plus the top supplier's share — the dependence-risk
    audit over the trade data.

    Plan: one fact-side shuffle to (nation, supplier) revenue cells
    (supplier dim broadcast), a nation-keyed rollup for totals, and a
    broadcast join back — the share window never materializes an
    entity-sized global ordering. Revenues are exact decimal sums cast
    to double once; shares divide once; the share² summation-order
    ulps are absorbed by ROUND 6."""
    li = table(spark, sf, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf, "nation").select("n_nationkey", "n_name")
    # the supplier-sized revenue cells feed BOTH the nation rollup and the
    # share join-back — materialize once instead of replaying the fact join
    # + aggregate per consumer (10 parquet scans → 2 in the captured plan)
    cells = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_nationkey", "s_suppkey")
        .agg(F.sum(revenue_expr()).alias("rev_dec"))
        .localCheckpoint(eager=True)
    )
    nat = cells.groupBy("s_nationkey").agg(
        F.sum("rev_dec").alias("tot_dec"),
        F.count(F.lit(1)).alias("n_suppliers"),
    )
    share = F.col("rev_dec").cast("double") / F.col("tot_dec").cast("double")
    return (
        cells.join(F.broadcast(nat), "s_nationkey")
        .groupBy("s_nationkey")
        .agg(
            F.max("n_suppliers").alias("n_suppliers"),
            F.round(F.sum(share * share), 6).alias("hhi"),
            F.round(F.max(share), 6).alias("top_share"),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == nation["n_nationkey"])
        .select("n_name", "n_suppliers", "hhi", "top_share")
    )


SQL_MARKET_CONCENTRATION_HHI = """
WITH cells AS (
  SELECT s.s_nationkey, l.l_suppkey,
    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      AS rev_dec
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
nat AS (
  SELECT s_nationkey, SUM(rev_dec) AS tot_dec, COUNT(*) AS n_suppliers
  FROM cells GROUP BY 1
)
SELECT n.n_name, nat.n_suppliers,
  ROUND(SUM((CAST(rev_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE))
            * (CAST(rev_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE))), 6) AS hhi,
  ROUND(MAX(CAST(rev_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE)), 6) AS top_share
FROM cells
JOIN nat ON cells.s_nationkey = nat.s_nationkey
JOIN nation n ON cells.s_nationkey = n.n_nationkey
GROUP BY n.n_name, nat.n_suppliers
"""


def q_quality_benford_audit(spark: SparkSession, sf: str) -> DataFrame:
    """First-digit Benford audit of ``o_totalprice``: per digit 1-9 the
    observed count/share, Benford's expected share log10(1+1/d), and
    the chi-square contribution (obs − n·p)²/(n·p).

    Determinism: the digit is the first character of the INTEGER cents
    string (decimal(18,2)·100 → BIGINT → VARCHAR) — no float log10 at
    bucket boundaries; counts are exact, the expected-share and chi²
    doubles are identical expressions. Plan: one orders scan to 9
    cells; everything after is cell-space. At 100 TB: map-side partial
    agg to 9 longs per partition, nothing else moves."""
    o = table(spark, sf, "orders")
    cents = (dec("o_totalprice") * 100).cast("bigint")
    digits = o.select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
    )
    cells = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_d"))
    tot = cells.agg(F.sum("n_d").alias("n"))
    p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    exp_n = F.col("n") * p
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_d",
            F.round(F.col("n_d") / F.col("n"), 6).alias("obs_share"),
            F.round(p, 6).alias("benford_share"),
            F.round(
                (F.col("n_d") - exp_n) * (F.col("n_d") - exp_n) / exp_n, 6
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


SQL_QUALITY_BENFORD_AUDIT = """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
    AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM orders
),
cells AS (SELECT digit, COUNT(*) AS n_d FROM digits GROUP BY 1),
tot AS (SELECT CAST(SUM(n_d) AS BIGINT) AS n FROM cells)
SELECT digit, n_d,
  ROUND(n_d * 1.0 / n, 6) AS obs_share,
  ROUND(log10(1.0 + 1.0 / digit), 6) AS benford_share,
  ROUND((n_d - n * log10(1.0 + 1.0 / digit))
        * (n_d - n * log10(1.0 + 1.0 / digit))
        / (n * log10(1.0 + 1.0 / digit)), 6) AS chi2_term
FROM cells CROSS JOIN tot
ORDER BY digit
"""


def q_revenue_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient of per-customer revenue (exact rank formula
    over the ascending (revenue, custkey) sort) — one row: customer
    count, total revenue, Gini.

    Determinism: revenue is exact BIGINT cents; Σi·xᵢ is an exact
    integer sum (rank ≤ n, cents ≤ 2⁶³/n at any tested SF — at true
    100 TB scale the product sum moves to decimal(38,0), noted); the
    Gini is one closed-form expression of three exact integers. Plan:
    one orders scan → per-customer agg; the global rank is ONE sort of
    the bounded customer frame (at 100 TB: range-partitioned two-pass
    rank — partition boundaries from a sampled CDF, per-partition
    offsets added map-side — same result, no single-partition window;
    the formula itself needs no change). All-equal-revenue degeneracy
    still yields G = 0 via the same formula; zero-total guarded."""
    o = table(spark, sf, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum((dec("o_totalprice") * 100).cast("bigint")).alias("cents")
    )
    ranked = rev.select(
        "cents",
        F.row_number()
        .over(Window.orderBy(F.asc("cents"), F.asc("o_custkey")))
        .alias("i"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("i") * F.col("cents")).alias("a"),
    )
    return agg.select(
        F.col("n").alias("n_customers"),
        F.round(F.col("s") / F.lit(100.0), 2).alias("total_revenue"),
        F.round(
            F.when(
                F.col("s") > 0,
                (F.lit(2.0) * F.col("a")) / (F.col("n") * F.col("s").cast("double"))
                - (F.col("n") + F.lit(1.0)) / F.col("n"),
            ),
            6,
        ).alias("gini"),
    )


SQL_REVENUE_GINI = """
WITH rev AS (
  SELECT o_custkey,
    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT cents,
    ROW_NUMBER() OVER (ORDER BY cents ASC, o_custkey ASC) AS i
  FROM rev
),
agg AS (
  SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s,
    CAST(SUM(i * cents) AS BIGINT) AS a
  FROM ranked
)
SELECT n AS n_customers,
  ROUND(s / 100.0, 2) AS total_revenue,
  ROUND(CASE WHEN s > 0 THEN
    (2.0 * a) / (n * CAST(s AS DOUBLE)) - (n + 1.0) / n END, 6) AS gini
FROM agg
"""


QUERIES: dict[str, Query] = {
    "customer_rfm_segments": Query(
        q_customer_rfm_segments, SQL_CUSTOMER_RFM_SEGMENTS
    ),
    "events_value_moments": Query(
        q_events_value_moments, SQL_EVENTS_VALUE_MOMENTS
    ),
    "dedup_minhash_graded": Query(q_dedup_minhash_graded, SQL_DEDUP_MINHASH_GRADED),
    "dedup_simhash_graded": Query(q_dedup_simhash_graded, SQL_DEDUP_SIMHASH_GRADED),
    "hll_distinct_graded": Query(q_hll_distinct_graded, SQL_HLL_DISTINCT_GRADED),
    "dedup_minhash_jaccard_est": Query(
        q_dedup_minhash_jaccard_est, SQL_DEDUP_MINHASH_JACCARD_EST
    ),
    "approx_distinct_rollup": Query(q_approx_distinct_rollup, None),
    "histogram_bins": Query(q_histogram_bins, SQL_HISTOGRAM_BINS),
    "stats_agg": Query(q_stats_agg, SQL_STATS_AGG),
    "approx_percentile": Query(q_approx_percentile, None),
    "percentiles": Query(q_percentiles, SQL_PERCENTILES),
    "approx_distinct": Query(q_approx_distinct, None),
    "agg_extras": Query(q_agg_extras, SQL_AGG_EXTRAS),
    "regr_agg": Query(q_regr_agg, SQL_REGR_AGG),
    "sample_deterministic": Query(q_sample_deterministic, SQL_SAMPLE_DETERMINISTIC),
    "sample_stratified": Query(q_sample_stratified, SQL_SAMPLE_STRATIFIED),
    "sample_weighted": Query(q_sample_weighted, SQL_SAMPLE_WEIGHTED),
    "sample_rng": Query(q_sample_rng, None),
    "equi_depth_histogram": Query(q_equi_depth_histogram, SQL_EQUI_DEPTH_HISTOGRAM),
    "cms_heavy_hitters": Query(q_cms_heavy_hitters, SQL_CMS_HEAVY_HITTERS),
    "market_concentration_hhi": Query(
        q_market_concentration_hhi, SQL_MARKET_CONCENTRATION_HHI
    ),
    "quality_benford_audit": Query(
        q_quality_benford_audit, SQL_QUALITY_BENFORD_AUDIT
    ),
    "revenue_gini": Query(q_revenue_gini, SQL_REVENUE_GINI),
}
