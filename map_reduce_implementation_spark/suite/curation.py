"""Training-data curation: benchmark decontamination (exact, n-gram
overlap, Bloom filter, semantic), PII redaction, domain mixing (quotas,
temperature resampling, token budgets), data selection (DSIR,
perplexity buckets), filter cascades, boilerplate removal, chunking,
sequence packing, deterministic splits and shuffles, and changelog
compaction.

Each query is one declarative plan with a bit-exact DuckDB oracle.
Hashes that must agree across engines are md5-derived (murmur3 and
xxhash differ per engine). Mixture weights use ``sqrt``, which is
correctly rounded everywhere, never ``pow``; sums that are later
compared are decimal; the unigram LMs behind DSIR and perplexity
buckets are Laplace-smoothed integer ratios over a shared vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import tokens
from ..operators.similarity import _as_double
from ..sources import table
from .base import (
    SQL_TOKENS,
    SQL_UNIGRAM_NLL_CTE,
    Query,
    md5_bucket,
    shingles,
    shingles_of,
    unigram_avg_nll,
)


def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing ≥1 distinct
    5-gram shingle with the eval set (here: doc_id % 10 == 0 stands in
    for a benchmark suite). Output = flagged doc, overlap shingle count,
    and overlap ratio vs the doc's own shingle count.

    100 TB shape: eval sets are tiny (benchmarks are MBs) → the distinct
    eval-shingle set is **broadcast**, so the training side never
    shuffles; the plan is scan → hash-join(broadcast) → partial agg.
    Shingles are xxhash64-hashed 8-byte keys (same all-numeric trick as
    the dedup suite — no n-gram strings cross the exchange)."""
    # the hashed shingle stream feeds three consumers (eval set, per-doc
    # sizes, hit counts) — each lazy reference replayed the corpus
    # tokenize+shingle pass (3 documents scans → 1); the materialized rows
    # are 2 longs each
    sh = shingles(spark, sf, 5).localCheckpoint(eager=True)
    ev = (
        sh.filter(F.col("doc_id") % 10 == 0)
        .select("shingle")
        .distinct()
    )
    train = sh.filter(F.col("doc_id") % 10 != 0)
    sizes = train.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        train.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        hits.join(sizes, "doc_id")
        .select(
            "doc_id",
            "n_overlap",
            "n_shingles",
            F.round(F.col("n_overlap") / F.col("n_shingles"), 6).alias(
                "overlap_ratio"
            ),
        )
    )


SQL_DECONTAMINATE = f"""
WITH toks AS (
  SELECT doc_id,
    {SQL_TOKENS} AS ts
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
    ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] AS shingle
  FROM toks, range(1, 100000) r(i)
  WHERE i + 4 <= len(ts)
),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
train AS (SELECT * FROM sh WHERE doc_id % 10 <> 0),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY 1),
hits AS (
  SELECT t.doc_id, COUNT(*) AS n_overlap
  FROM train t JOIN ev ON t.shingle = ev.shingle
  GROUP BY 1
)
SELECT h.doc_id, h.n_overlap, s.n_shingles,
       ROUND(h.n_overlap * 1.0 / s.n_shingles, 6) AS overlap_ratio
FROM hits h JOIN sizes s ON h.doc_id = s.doc_id
"""


# Deterministic PII injection (the synthetic corpus has none) so the
# redaction path has real work: same expression on both engines.
_PII_EMAIL = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]+"
_PII_PHONE = "555-[0-9]{4}"
_PII_IP = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"


def q_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction: count and mask emails / phone numbers / IPv4s with
    typed placeholder tokens. All JVM ``regexp_replace``/``regexp_count``
    (RE2-compatible patterns, no lookarounds — portable to the DuckDB
    oracle). One scan, zero shuffles — embarrassingly parallel at any
    scale; output carries md5(redacted) so the oracle proves the
    *transformed text*, not just the counts."""
    d = table(spark, sf, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
            )
            .when(F.col("doc_id") % 7 == 1, F.lit(" call 555-0142 now"))
            .when(F.col("doc_id") % 7 == 2, F.lit(" from host 10.1.2.3 port 80"))
            .otherwise(F.lit("")),
        ).alias("t"),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _PII_EMAIL, "<EMAIL>"),
            _PII_IP,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return aug.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(_PII_EMAIL)).alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(_PII_PHONE)).alias("n_phones"),
        F.regexp_count(F.col("t"), F.lit(_PII_IP)).alias("n_ips"),
        F.md5(red).alias("redacted_md5"),
    )


SQL_PII_REDACT = """
WITH aug AS (
  SELECT doc_id,
    text || CASE
      WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      WHEN doc_id % 7 = 1 THEN ' call 555-0142 now'
      WHEN doc_id % 7 = 2 THEN ' from host 10.1.2.3 port 80'
      ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]+')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(t, '555-[0-9]{4}')) AS INTEGER) AS n_phones,
  CAST(len(regexp_extract_all(t, '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+')) AS INTEGER) AS n_ips,
  md5(regexp_replace(
        regexp_replace(
          regexp_replace(t, '[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]+', '<EMAIL>', 'g'),
          '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+', '<IP>', 'g'),
        '555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
FROM aug
"""


def q_quota_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Domain mixing / per-source quota sampling: keep at most 5 docs
    per (lang, source) cell, chosen by a deterministic md5 order (so the
    sample is stable across runs and engines), doc_id as tie-break.
    One shuffle on the quota key; per-group state is a streaming top-5
    (rank + filter → Spark's WindowExec with partial sort). At 100 TB
    this is the mixture-weights enforcement pass before training."""
    d = table(spark, sf, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "lang", "source", F.col("rn").alias("quota_rank"))
    )


SQL_QUOTA_SAMPLE = """
SELECT doc_id, lang, source, CAST(rn AS INTEGER) AS quota_rank
FROM (
  SELECT doc_id, lang, source,
    ROW_NUMBER() OVER (
      PARTITION BY lang, source
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) WHERE rn <= 5
"""


def q_sequence_pack(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing (concat-and-chunk, GPT-style): within each lang
    stream, docs in doc_id order are concatenated and cut into
    2048-token packs; each doc reports its pack id and offset. The
    running total is one window cumsum per lang — a single shuffle,
    no sequential driver loop, and the semantics are exactly the
    deterministic packing a dataloader replays. Docs crossing a
    boundary span two packs (standard concat-and-chunk)."""
    d = table(spark, sf, "documents")
    t = d.select("doc_id", "lang", F.size(tokens(F.col("text"))).alias("n_tokens"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return t.select(
        "doc_id",
        "lang",
        "n_tokens",
        (cum / 2048).cast("long").alias("pack_id"),
        (cum % 2048).cast("long").alias("pack_offset"),
    )


SQL_SEQUENCE_PACK = f"""
WITH t AS (
  SELECT doc_id, lang,
    len({SQL_TOKENS}) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
    COALESCE(SUM(n_tokens) OVER (
      PARTITION BY lang ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM t
)
SELECT doc_id, lang, n_tokens,
  CAST(cum // 2048 AS BIGINT) AS pack_id,
  CAST(cum % 2048 AS BIGINT) AS pack_offset
FROM c
"""


def q_train_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic global training-order shuffle: rank docs by a
    Knuth multiplicative hash of doc_id (engine-portable integer
    arithmetic — exact in both engines, reproducible across epochs by
    changing the seed constant).

    A naive ``row_number() OVER (ORDER BY key)`` funnels every row into
    ONE partition (Spark warns: "Moving all data to a single
    partition") — the classic global-ranking scale-killer. This plan
    does two-phase distributed ranking instead: the key space is cut
    into 256 contiguous range buckets; ranks are computed per-bucket in
    parallel, then offset by a prefix sum over the (tiny, 256-row)
    bucket counts broadcast back. One data shuffle, no single-partition
    stage; the oracle is still the simple global ROW_NUMBER."""
    d = table(spark, sf, "documents")
    key = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    step = 4294967296 // 256
    keyed = d.select(
        "doc_id",
        key.alias("shuffle_key"),
        (key / F.lit(step)).cast("long").alias("bucket"),
    )
    wb = Window.partitionBy("bucket").orderBy("shuffle_key", "doc_id")
    intra = keyed.withColumn("intra", F.row_number().over(wb))
    counts = keyed.groupBy("bucket").agg(F.count("*").alias("n"))
    wp = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    prefix = counts.select(
        "bucket", F.coalesce(F.sum("n").over(wp), F.lit(0)).alias("offset")
    )
    return intra.join(F.broadcast(prefix), "bucket").select(
        "doc_id",
        "shuffle_key",
        (F.col("offset") + F.col("intra")).cast("int").alias("shuffle_rank"),
    )


SQL_TRAIN_SHUFFLE = """
SELECT doc_id,
  (doc_id * 2654435761) % 4294967296 AS shuffle_key,
  CAST(ROW_NUMBER() OVER (
    ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS INTEGER) AS shuffle_rank
FROM documents
"""


def q_domain_mix_report(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-mixture report: per (lang, source) doc count, char volume,
    corpus share, and the cumulative share within each lang ordered by
    descending count (the "what covers 90% of my German data" view that
    drives mixture reweighting). One grouped agg (the report is
    cell-count-sized — tiny) + one window over it; the corpus total
    rides along as a window over an empty frame of the AGGREGATED rows,
    never a second scan of the raw data."""
    d = table(spark, sf, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars_total")
    )
    w_all = Window.partitionBy()
    w_cum = (
        Window.partitionBy("lang")
        .orderBy(F.desc("n_docs"), F.asc("source"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return cells.select(
        "lang",
        "source",
        "n_docs",
        "n_chars_total",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w_all), 6).alias(
            "corpus_share"
        ),
        F.round(
            F.sum("n_docs").over(w_cum) / F.sum("n_docs").over(Window.partitionBy("lang")),
            6,
        ).alias("lang_cum_share"),
    )


SQL_DOMAIN_MIX_REPORT = """
WITH cells AS (
  SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
  FROM documents GROUP BY lang, source
)
SELECT lang, source, n_docs, n_chars_total,
  ROUND(n_docs * 1.0 / SUM(n_docs) OVER (), 6) AS corpus_share,
  ROUND(
    SUM(n_docs) OVER (
      PARTITION BY lang ORDER BY n_docs DESC, source ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    * 1.0 / SUM(n_docs) OVER (PARTITION BY lang), 6) AS lang_cum_share
FROM cells
"""


RESAMPLE_BUDGET = 10_000


def q_domain_temperature_resample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source temperature resampling weights (α=0.5): w = sqrt(n),
    share = w / Σw, expected = budget × share. The denominator Σw is a
    SEQUENTIAL fold over the source-sorted weight list — 20 domains,
    one tiny single-row aggregate — so Spark and the oracle add the
    same doubles in the same order (a plain SUM would be
    partition-order dependent). One uniform groupBy shuffle on the
    heavy stream; everything after is domain-count-sized."""
    d = table(spark, sf, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = counts.select(
        "source", "n_docs", F.sqrt(F.col("n_docs").cast("double")).alias("w")
    )
    tot = w.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "w"))),
            F.lit(0.0),
            lambda acc, x: acc + x["w"],
        ).alias("tw")
    )
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round("w", 6).alias("weight"),
        F.round(F.col("w") / F.col("tw"), 6).alias("share"),
        F.round(F.lit(float(RESAMPLE_BUDGET)) * F.col("w") / F.col("tw"), 1).alias(
            "expected_samples"
        ),
    )


SQL_DOMAIN_TEMPERATURE_RESAMPLE = f"""
WITH c AS (
  SELECT source, COUNT(*) AS n_docs, sqrt(CAST(COUNT(*) AS DOUBLE)) AS w
  FROM documents GROUP BY source
),
t AS (SELECT list_sum(list(w ORDER BY source)) AS tw FROM c)
SELECT c.source, c.n_docs,
  ROUND(c.w, 6) AS weight,
  ROUND(c.w / t.tw, 6) AS share,
  ROUND({RESAMPLE_BUDGET}.0 * c.w / t.tw, 1) AS expected_samples
FROM c, t
"""


PPL_KEEP_PER_BUCKET = 3


def q_perplexity_bucket_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-stratified sampling: score every doc with the unigram
    avg-NLL (broadcast LM, the CCNet-style cheap perplexity), cut the
    corpus into quartile buckets by exact percentile CUT-POINTS (the
    customer_rfm_segments pattern — one 1-row aggregate broadcast into
    a CASE, no global window over doc rows), then keep a deterministic
    md5-ordered top-{PPL_KEEP_PER_BUCKET} per bucket so every quality
    stratum is represented in the sample. The per-bucket rank is a
    4-partition window whose exchange is capped by WindowGroupLimit
    (rank ≤ k prunes map-side before the shuffle)."""
    # the per-doc NLL frame feeds the cut-point aggregate AND the bucketing
    # pass — materialize once instead of replaying the unigram-LM scoring
    # pipeline per consumer (8 parquet scans → 0 rescans)
    nll = (
        unigram_avg_nll(spark, sf)
        .select("doc_id", "avg_nll")
        .localCheckpoint(eager=True)
    )
    qs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    cuts = nll.agg(F.percentile("avg_nll", qs).alias("cq"))
    bucketed = nll.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "avg_nll",
        F.when(F.col("avg_nll") > F.col("cq")[2], 4)
        .when(F.col("avg_nll") > F.col("cq")[1], 3)
        .when(F.col("avg_nll") > F.col("cq")[0], 2)
        .otherwise(1)
        .alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        bucketed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PPL_KEEP_PER_BUCKET)
        .select("doc_id", "avg_nll", "bucket", F.col("rn").alias("bucket_rank"))
    )


SQL_PERPLEXITY_BUCKET_SAMPLE = SQL_UNIGRAM_NLL_CTE + f""",
cuts AS (SELECT quantile_cont(avg_nll, [0.25, 0.5, 0.75]) AS cq FROM nll),
b AS (
  SELECT n.doc_id, n.avg_nll,
    CASE WHEN n.avg_nll > c.cq[3] THEN 4 WHEN n.avg_nll > c.cq[2] THEN 3
         WHEN n.avg_nll > c.cq[1] THEN 2 ELSE 1 END AS bucket
  FROM nll n, cuts c
)
SELECT doc_id, avg_nll, CAST(bucket AS INTEGER) AS bucket,
  CAST(rn AS INTEGER) AS bucket_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY bucket ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM b
) WHERE rn <= {PPL_KEEP_PER_BUCKET}
"""


def q_dataset_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 90/5/5 train/valid/test split with per-(split,
    lang) accounting — the reproducible-split contract: assignment
    depends only on doc_id (md5 bucket, the engine-reproducible hash
    recipe shared with the CMS/Bloom sketches), so re-runs, backfills
    and other engines all agree on membership with NO stored split
    table. The assignment is a zero-shuffle map; the audit is one
    (split, lang)-keyed aggregate over ~|splits|·|langs| cells, and the
    share-of-split window runs over those aggregated cells only."""
    d = table(spark, sf, "documents")
    b = md5_bucket("split|", F.col("doc_id").cast("string"), 100)
    split = (
        F.when(b < 90, F.lit("train"))
        .when(b < 95, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    cells = (
        d.select(
            split.alias("split"),
            "lang",
            F.size(tokens("text")).alias("ntok"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").alias("n_tokens"),
        )
    )
    w = Window.partitionBy("split")
    return cells.select(
        "split",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(w).cast("double"), 9
        ).alias("doc_share"),
    )


SQL_DATASET_SPLIT = f"""
WITH assigned AS (
  SELECT
    CASE WHEN ('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'train'
         WHEN ('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 95 THEN 'valid'
         ELSE 'test' END AS split,
    lang,
    len({SQL_TOKENS}) AS ntok
  FROM documents
),
cells AS (
  SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens
  FROM assigned GROUP BY split, lang
)
SELECT split, lang, n_docs, n_tokens,
  ROUND(n_docs / CAST(SUM(n_docs) OVER (PARTITION BY split) AS DOUBLE), 9) AS doc_share
FROM cells
"""


# newlines, so the segment is a fixed 16-token window (segmentation is
# corpus-specific everywhere; the dedup semantics are C4's: exact
# match, corpus-wide, keep the globally-first occurrence)
EVAL_MOD = 17  # eval slice = doc_id % 17 == 0 (synthetic held-out set)
OVERLAP_NGRAM = 8
OVERLAP_THRESHOLD = 0.1


def q_decontaminate_ngram_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """GPT-3-style n-gram decontamination with the overlap-FRACTION
    policy: the eval slice (doc_id % {EVAL_MOD} == 0 stands in for a
    held-out benchmark) contributes a distinct {OVERLAP_NGRAM}-gram
    set; every training doc reports what fraction of its own distinct
    {OVERLAP_NGRAM}-grams collide with it, and is flagged when the
    fraction reaches {OVERLAP_THRESHOLD}. The siblings: ``decontaminate``
    flags any doc sharing ≥1 shingle (and omits clean docs from its
    output); ``bloom_decontaminate`` is the sketch-gated form of the
    same any-hit rule. This entry is the calibrated POLICY variant —
    a single boilerplate n-gram no longer nukes a document, the
    threshold is tunable per benchmark, and every training doc gets an
    explicit keep/flag verdict (clean and shingle-less docs included),
    which is what the downstream filter join actually consumes.

    Scale shape: shingles are hashed int64s (the shingle-pipeline
    argument); the eval set joins as a left-semi on the shingle key —
    one uniform shuffle here, a broadcast in production where eval
    benchmarks are KBs against a 100 TB corpus. Per-doc counts are
    two map-side-combined groupBys; train docs with no shingles
    (< {OVERLAP_NGRAM} tokens) surface with frac 0.0 via the left
    joins — every training doc gets a verdict."""
    d = table(spark, sf, "documents")
    ev = (
        shingles_of(d.filter(F.col("doc_id") % EVAL_MOD == 0), OVERLAP_NGRAM)
        .select("shingle")
        .distinct()
    )
    tr_docs = d.filter(F.col("doc_id") % EVAL_MOD != 0)
    # the training shingle stream feeds two consumers (per-doc counts + the
    # semi-join hit counts); lazily each replayed the tokenize+shingle pass
    # over the corpus.
    tr_sh = shingles_of(tr_docs, OVERLAP_NGRAM).localCheckpoint(eager=True)
    counts = tr_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        tr_sh.join(ev, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    n_sh = F.coalesce(F.col("n_shingles"), F.lit(0)).alias("n_shingles")
    n_hit = F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits")
    frac = F.when(
        F.coalesce(F.col("n_shingles"), F.lit(0)) > 0,
        F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_shingles"),
    ).otherwise(F.lit(0.0))
    return (
        tr_docs.select("doc_id")
        .join(counts, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            n_sh,
            n_hit,
            F.round(frac, 9).alias("overlap_frac"),
            (frac >= OVERLAP_THRESHOLD).alias("is_contaminated"),
        )
    )


SQL_DECONTAMINATE_NGRAM_OVERLAP = f"""
WITH toks AS (
  SELECT doc_id,
    {SQL_TOKENS} AS ts
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
    ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' ||
    ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6] || ' ' || ts[i+7] AS shingle
  FROM toks, range(1, 100000) r(i)
  WHERE i + {OVERLAP_NGRAM - 1} <= len(ts)
),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {EVAL_MOD} = 0),
tr AS (SELECT * FROM sh WHERE doc_id % {EVAL_MOD} <> 0),
counts AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY 1),
hits AS (
  SELECT doc_id, COUNT(*) AS n_hits FROM tr
  WHERE shingle IN (SELECT shingle FROM ev) GROUP BY 1
)
SELECT d.doc_id,
  CAST(coalesce(c.n_shingles, 0) AS BIGINT) AS n_shingles,
  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
  ROUND(CASE WHEN coalesce(c.n_shingles, 0) > 0
        THEN coalesce(h.n_hits, 0) * 1.0 / c.n_shingles ELSE 0.0 END, 9)
    AS overlap_frac,
  (CASE WHEN coalesce(c.n_shingles, 0) > 0
        THEN coalesce(h.n_hits, 0) * 1.0 / c.n_shingles ELSE 0.0 END)
    >= {OVERLAP_THRESHOLD} AS is_contaminated
FROM documents d
LEFT JOIN counts c ON c.doc_id = d.doc_id
LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.doc_id % {EVAL_MOD} <> 0
"""


DECON_EVAL_N = 32  # eval set = first-N vectors (fixed, corpus-independent)
DECON_THRESHOLD = 0.42  # ≈ p99 of train-vs-eval max-cosine on the corpus


def q_decontaminate_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic decontamination: training vectors (vec_id ≥
    {DECON_EVAL_N}) whose max cosine to the FIXED eval set (vec_id <
    {DECON_EVAL_N}) exceeds {DECON_THRESHOLD} are flagged — per label:
    train size, flagged count, and the hottest similarity. Catches the
    paraphrased/near-duplicate eval leakage that the n-gram policies
    (``decontaminate``, ``decontaminate_ngram_overlap``) cannot see.

    Plan: the eval set is a bounded broadcast (in production it is an
    external, corpus-independent artifact — here the first-N vectors
    so both engines reproduce it); ONE corpus scan computes
    |eval| sequential-fold cosines per row (exact, the proven
    list-fold == F.aggregate recipe), a vec-keyed max, then a label
    rollup. Candidate volume is n·|eval| — linear in the corpus."""
    e = table(spark, sf, "embeddings")
    ev = (
        e.filter(F.col("vec_id") < DECON_EVAL_N)
        .select(
            F.col("vec_id").alias("eval_id"),
            _as_double("embedding").alias("qv"),
        )
    )
    tr = e.filter(F.col("vec_id") >= DECON_EVAL_N).select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    sims = tr.crossJoin(F.broadcast(ev)).select(
        "vec_id",
        "label",
        (dot / (nrm(F.col("v")) * nrm(F.col("qv")))).alias("sim"),
    )
    per_vec = sims.groupBy("vec_id", "label").agg(
        F.max("sim").alias("max_sim")
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.count(
                F.when(F.col("max_sim") >= DECON_THRESHOLD, 1)
            ).alias("n_flagged"),
            F.round(F.max("max_sim"), 9).alias("hottest_sim"),
        )
        .orderBy("label")
    )


SQL_DECONTAMINATE_SEMANTIC = f"""
WITH ev AS (
  SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {DECON_EVAL_N}
),
tr AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id >= {DECON_EVAL_N}
),
sims AS (
  SELECT tr.vec_id, tr.label,
    list_sum(list_transform(list_zip(tr.v, ev.qv), x -> x[1] * x[2]))
    / (sqrt(list_sum(list_transform(tr.v, x -> x * x)))
       * sqrt(list_sum(list_transform(ev.qv, x -> x * x)))) AS sim
  FROM tr CROSS JOIN ev
),
per_vec AS (
  SELECT vec_id, label, MAX(sim) AS max_sim FROM sims GROUP BY 1, 2
)
SELECT label, COUNT(*) AS n_train,
  COUNT(CASE WHEN max_sim >= {DECON_THRESHOLD} THEN 1 END) AS n_flagged,
  ROUND(MAX(max_sim), 9) AS hottest_sim
FROM per_vec GROUP BY label ORDER BY label
"""


# cascade thresholds sit inside the observed metric distributions
# (token count 10-100 median 54; distinct/total 5th-95th pct
# 0.31-0.82; mean word length 4.17-4.85) so every stage drops a
# non-degenerate, non-total slice at both sf0.01 and sf0.1
MIN_TOKENS = 24
MIN_TTR = 0.38
WLEN_LO, WLEN_HI = 4.3, 4.75

MIX_BUDGET = 1_000_000  # target training tokens for the mixing table

BOILER_MIN_DOCS = 2  # segment df (distinct docs, within source) => boilerplate
SEG_TOKENS = 16  # same segmentation unit as dedup_line_level (suite.dedup)


def _doc_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """One scan of documents → the per-doc scalars the cascade gates on."""
    d = table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.size(tokens("text")).alias("n_tok"),
        F.size(F.array_distinct(tokens("text"))).alias("n_dist"),
        F.aggregate(
            F.transform(tokens("text"), lambda t: F.length(t)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("sum_len"),
    )


def q_filter_cascade_report(spark: SparkSession, sf: str) -> DataFrame:
    """Filter-cascade waterfall: docs flow through an ORDERED cascade
    (1 too_short: < {MIN_TOKENS} tokens; 2 too_repetitive:
    distinct/total < {MIN_TTR}; 3 word_len_out_of_range: mean token
    length outside [{WLEN_LO}, {WLEN_HI}]) and each doc charges its
    drop to the FIRST stage it fails — the attribution rule that makes
    per-stage drop counts sum to total drops, which is what an
    ablation table needs (naive per-filter counts double-charge docs
    failing several filters). Output: one row per stage with docs
    entering, dropped, surviving, and the conditional drop rate.

    Scale shape: ONE scan computes the three per-doc scalars and the
    first-failed-stage label; the groupBy is 4-key (map-side combined
    to nothing); the waterfall window runs over a 3-row frame. The
    4-row stage-count frame is localCheckpointed so the total and the
    per-stage branches don't each replay the corpus scan — the report
    costs exactly one pass over the corpus regardless of stage count."""
    m = _doc_metrics(spark, sf)
    ttr = F.col("n_dist") / F.col("n_tok")
    wlen = F.col("sum_len") / F.col("n_tok")
    ff = (
        F.when(F.col("n_tok") < MIN_TOKENS, 1)
        .when(ttr < MIN_TTR, 2)
        .when((wlen < WLEN_LO) | (wlen > WLEN_HI), 3)
        .otherwise(0)
    )
    per = (
        m.select(ff.alias("ff"))
        .groupBy("ff")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)  # <=4 rows; reused by tot + join
    )
    tot = per.agg(F.sum("n").alias("total"))
    dim = spark.range(1).select(
        F.posexplode(
            F.array(
                F.lit("too_short"),
                F.lit("too_repetitive"),
                F.lit("word_len_out_of_range"),
            )
        ).alias("idx0", "stage_name")
    ).select((F.col("idx0") + 1).cast("int").alias("stage"), "stage_name")
    joined = (
        dim.join(per, dim.stage == per.ff, "left")
        .select("stage", "stage_name", F.coalesce("n", F.lit(0)).alias("n_dropped"))
        .crossJoin(F.broadcast(tot))
    )
    w = Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, -1)
    n_in = F.col("total") - F.coalesce(F.sum("n_dropped").over(w), F.lit(0))
    return joined.select(
        "stage",
        "stage_name",
        n_in.alias("n_in"),
        "n_dropped",
        (n_in - F.col("n_dropped")).alias("n_out"),
        F.round(F.col("n_dropped") / n_in, 6).alias("drop_rate"),
    )


SQL_FILTER_CASCADE_REPORT = f"""
WITH m AS (
  SELECT doc_id,
    len(ts) AS n_tok, len(list_distinct(ts)) AS n_dist,
    list_sum(list_transform(ts, x -> len(x))) AS sum_len
  FROM (
    SELECT doc_id,
      {SQL_TOKENS} AS ts
    FROM documents
  )
),
ffs AS (
  SELECT CASE
    WHEN n_tok < {MIN_TOKENS} THEN 1
    WHEN n_dist * 1.0 / n_tok < {MIN_TTR} THEN 2
    WHEN sum_len * 1.0 / n_tok < {WLEN_LO} OR sum_len * 1.0 / n_tok > {WLEN_HI} THEN 3
    ELSE 0 END AS ff
  FROM m
),
per AS (SELECT ff, COUNT(*) AS n FROM ffs GROUP BY ff),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM per),
dim AS (
  SELECT * FROM (VALUES
    (1, 'too_short'), (2, 'too_repetitive'), (3, 'word_len_out_of_range')
  ) AS t(stage, stage_name)
),
j AS (
  SELECT d.stage, d.stage_name, CAST(coalesce(p.n, 0) AS BIGINT) AS n_dropped, tot.total
  FROM dim d LEFT JOIN per p ON p.ff = d.stage, tot
)
SELECT CAST(stage AS INTEGER) AS stage, stage_name,
  CAST(total - coalesce(SUM(n_dropped) OVER (
    ORDER BY stage ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
    AS BIGINT) AS n_in,
  n_dropped,
  CAST(total - coalesce(SUM(n_dropped) OVER (
    ORDER BY stage ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
    - n_dropped AS BIGINT) AS n_out,
  ROUND(n_dropped * 1.0 / (total - coalesce(SUM(n_dropped) OVER (
    ORDER BY stage ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)), 6)
    AS drop_rate
FROM j
"""


def q_token_budget_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical token-budget mixing table: a {MIX_BUDGET}-token
    training budget splits FIRST across languages by sqrt-temperature
    over each language's available tokens, THEN within each language
    across sources the same way; every (lang, source) cell reports its
    target tokens and EPOCHS = target/available — the repeat factor
    whose >1 values flag upsampled domains (the LLaMA-corpus-table
    view). The flat siblings: ``domain_temperature_resample`` weights
    DOC counts for a sampler, ``domain_mix_report`` reports the
    as-is shares; this entry PLANS the mixture in token units with the
    two-level split a multilingual curriculum actually uses.

    Determinism: weights are sqrt() only (IEEE-exact — no pow(x, a)
    libm exposure); both Σsqrt denominators are SEQUENTIAL folds over
    key-sorted lists (lang level: ~langs entries; source level: fold
    per lang over its sources) so both engines add the same doubles in
    the same order; epochs is a single division of identical doubles;
    ROUND at display only, and the upsampled flag compares the
    UNROUNDED epochs.

    Scale shape: one corpus scan → (lang, source) token sums (uniform
    map-side-combined groupBy); everything downstream is
    cell-count-sized (tiny). The two denominator folds and the final
    join never touch the raw corpus again."""
    d = table(spark, sf, "documents")
    cells = (
        d.select("lang", "source", F.size(tokens("text")).alias("nt"))
        .groupBy("lang", "source")
        .agg(F.sum("nt").alias("cell_tokens"))
        .localCheckpoint(eager=True)  # cell-count rows; the lang/global
        # denominator branches and the final join would otherwise each
        # replay the corpus scan (3 scans observed without this)
    )
    lang_tot = cells.groupBy("lang").agg(
        F.sum("cell_tokens").alias("lang_tokens"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct("source", F.sqrt(F.col("cell_tokens").cast("double")).alias("w"))
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["w"],
        ).alias("src_denom"),
    )
    g = lang_tot.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct("lang", F.sqrt(F.col("lang_tokens").cast("double")).alias("w"))
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["w"],
        ).alias("g_denom")
    )
    j = cells.join(lang_tot, "lang").crossJoin(F.broadcast(g))
    lang_share = F.sqrt(F.col("lang_tokens").cast("double")) / F.col("g_denom")
    src_share = F.sqrt(F.col("cell_tokens").cast("double")) / F.col("src_denom")
    target = F.lit(float(MIX_BUDGET)) * lang_share * src_share
    epochs = target / F.col("cell_tokens")
    return j.select(
        "lang",
        "source",
        "cell_tokens",
        F.round(lang_share, 6).alias("lang_share"),
        F.round(src_share, 6).alias("src_share"),
        F.round(target, 1).alias("target_tokens"),
        F.round(epochs, 6).alias("epochs"),
        (epochs > 1.0).alias("upsampled"),
    )


SQL_TOKEN_BUDGET_MIX = f"""
WITH cells AS (
  SELECT lang, source, CAST(SUM(len(list_filter(
    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS BIGINT)
    AS cell_tokens
  FROM documents GROUP BY lang, source
),
lt AS (
  SELECT lang, CAST(SUM(cell_tokens) AS BIGINT) AS lang_tokens,
    list_sum(list(sqrt(CAST(cell_tokens AS DOUBLE)) ORDER BY source)) AS src_denom
  FROM cells GROUP BY lang
),
g AS (SELECT list_sum(list(sqrt(CAST(lang_tokens AS DOUBLE)) ORDER BY lang)) AS g_denom FROM lt)
SELECT c.lang, c.source, c.cell_tokens,
  ROUND(sqrt(CAST(l.lang_tokens AS DOUBLE)) / g.g_denom, 6) AS lang_share,
  ROUND(sqrt(CAST(c.cell_tokens AS DOUBLE)) / l.src_denom, 6) AS src_share,
  ROUND({MIX_BUDGET}.0 * (sqrt(CAST(l.lang_tokens AS DOUBLE)) / g.g_denom)
    * (sqrt(CAST(c.cell_tokens AS DOUBLE)) / l.src_denom), 1) AS target_tokens,
  ROUND({MIX_BUDGET}.0 * (sqrt(CAST(l.lang_tokens AS DOUBLE)) / g.g_denom)
    * (sqrt(CAST(c.cell_tokens AS DOUBLE)) / l.src_denom) / c.cell_tokens, 6) AS epochs,
  ({MIX_BUDGET}.0 * (sqrt(CAST(l.lang_tokens AS DOUBLE)) / g.g_denom)
    * (sqrt(CAST(c.cell_tokens AS DOUBLE)) / l.src_denom) / c.cell_tokens) > 1.0
    AS upsampled
FROM cells c JOIN lt l ON c.lang = l.lang, g
"""


def q_boilerplate_removal(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style within-domain boilerplate removal: a {SEG_TOKENS}-
    token segment occurring in >= {BOILER_MIN_DOCS} DISTINCT documents
    of the SAME source is boilerplate (nav bars, footers, licence
    blocks — text shared across a domain's pages), and EVERY occurrence
    is removed. The contrast with ``dedup_line_level`` (C4) is the
    point: C4 keeps the globally-FIRST copy of a duplicated segment;
    CCNet-style boilerplate removal keeps NONE, and only counts
    repetition within the domain. Per doc: segments seen, segments
    removed, md5 of the surviving re-assembled text.

    Scale shape: ONE segment explode; the distinct-doc count is two
    STACKED windows instead of a groupBy + join back (which would
    re-scan and re-explode the corpus for the second side): first-
    occurrence-within-doc flags over (source, seg, doc_id), summed
    over (source, seg) — df arrives without ever materializing a
    per-segment doc set (a collect_set would hold every doc id of a
    viral footer in one row). Then one per-doc re-assembly groupBy.
    At 100 TB the window key would be xxhash64(source, seg); raw text
    kept here so the oracle is exact (dedup_line_level's argument)."""
    d = table(spark, sf, "documents")
    tokd = d.select("doc_id", "source", tokens("text").alias("ts"))
    nseg = F.floor((F.size("ts") - 1) / SEG_TOKENS).cast("int")
    segs = tokd.select(
        "doc_id",
        "source",
        F.posexplode(
            F.transform(
                F.when(F.size("ts") > 0, F.sequence(F.lit(0), nseg)).otherwise(
                    F.array().cast("array<int>")
                ),
                lambda i: F.array_join(
                    F.slice("ts", i * SEG_TOKENS + 1, SEG_TOKENS), " "
                ),
            )
        ).alias("seg_idx", "seg"),
    )
    w_doc = Window.partitionBy("source", "seg", "doc_id").orderBy("seg_idx")
    w_seg = Window.partitionBy("source", "seg")
    flagged = (
        segs.withColumn(
            "first_in_doc", (F.row_number().over(w_doc) == 1).cast("long")
        )
        .withColumn("ndoc", F.sum("first_in_doc").over(w_seg))
        .withColumn("boiler", F.col("ndoc") >= BOILER_MIN_DOCS)
    )
    kept_struct = F.when(
        ~F.col("boiler"), F.struct("seg_idx", F.col("seg").alias("s"))
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.col("boiler").cast("int")).alias("n_removed"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["s"]
                ),
                " ",
            )
        ).alias("kept_hash"),
    )


SQL_BOILERPLATE_REMOVAL = f"""
WITH toks AS (
  SELECT doc_id, source,
    {SQL_TOKENS} AS ts
  FROM documents
),
segs AS (
  -- range bound = 100k segments (1.6M tokens/doc) >> the corpus max
  -- (~100 tokens); the Spark side's sequence() is unbounded, so the
  -- bound must stay far above any real doc
  SELECT doc_id, source, CAST(g.i AS INTEGER) AS seg_idx,
    array_to_string(ts[g.i*{SEG_TOKENS}+1 : g.i*{SEG_TOKENS}+{SEG_TOKENS}], ' ') AS seg
  FROM toks, range(0, 100000) g(i)
  WHERE len(ts) > 0 AND g.i <= (len(ts)-1) // {SEG_TOKENS}
),
sdf AS (
  SELECT source, seg, COUNT(DISTINCT doc_id) AS ndoc FROM segs GROUP BY source, seg
)
SELECT s.doc_id, COUNT(*) AS n_segments,
  CAST(SUM(CASE WHEN d.ndoc >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_removed,
  md5(coalesce(string_agg(CASE WHEN d.ndoc < {BOILER_MIN_DOCS} THEN s.seg END,
    ' ' ORDER BY s.seg_idx), '')) AS kept_hash
FROM segs s JOIN sdf d ON s.source = d.source AND s.seg = d.seg
GROUP BY s.doc_id
"""


DSIR_TARGET_LANG = "en"  # the high-quality target slice
DSIR_TOP_N = 100  # selected pretraining subset size


def q_dsir_importance_sample(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR selection: top-{DSIR_TOP_N} raw documents by average
    per-token log importance ratio under Laplace-smoothed unigram LMs
    of the target ({DSIR_TARGET_LANG}) slice vs the raw pool.

    Plan: ONE tokenize pass builds the term-keyed count frame that
    carries BOTH models (raw count + target-slice count per term,
    vocabulary-sized — Heaps' law keeps it broadcastable at any corpus
    scale); that frame is localCheckpoint'd so the model and its
    normalizing scalars derive from the materialized vocabulary
    instead of each replaying the corpus tokenize (the
    filter_cascade_report pattern — without it this plan scans
    documents 6×, with it exactly 2×: once to count, once to score);
    scoring re-joins the broadcast model to the token stream (one
    doc-keyed shuffle), and the top-N is a TakeOrderedAndProject —
    per-partition heaps, never a global sort. The three scalars
    (target/raw token totals, shared vocab size) ride a 1-row
    broadcast frame, nothing collects to the driver."""
    d = table(spark, sf, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("term")
    )
    raw_ctf = tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("raw_ctf"),
        F.count(F.when(F.col("lang") == DSIR_TARGET_LANG, 1)).alias(
            "tgt_ctf"
        ),
    ).localCheckpoint(eager=True)
    scalars = raw_ctf.agg(
        F.sum("raw_ctf").alias("raw_total"),
        F.sum("tgt_ctf").alias("tgt_total"),
        F.count(F.lit(1)).alias("vocab"),
    )
    model = raw_ctf.crossJoin(F.broadcast(scalars)).select(
        "term",
        (
            F.log(
                (F.col("tgt_ctf") + F.lit(1))
                / (F.col("tgt_total") + F.col("vocab"))
            )
            - F.log(
                (F.col("raw_ctf") + F.lit(1))
                / (F.col("raw_total") + F.col("vocab"))
            )
        ).alias("log_ratio"),
    )
    scored = (
        tok.join(F.broadcast(model), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum("log_ratio") / F.count(F.lit(1)), 6
            ).alias("avg_log_ratio"),
        )
    )
    return scored.orderBy(
        F.desc("avg_log_ratio"), F.asc("doc_id")
    ).limit(DSIR_TOP_N)


SQL_DSIR_IMPORTANCE_SAMPLE = f"""
WITH tok AS (
  SELECT doc_id, lang,
    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '')) AS term
  FROM documents
),
raw_ctf AS (
  SELECT term, COUNT(*) AS raw_ctf,
    COUNT(*) FILTER (WHERE lang = '{DSIR_TARGET_LANG}') AS tgt_ctf
  FROM tok GROUP BY term
),
scalars AS (
  SELECT CAST(SUM(raw_ctf) AS BIGINT) AS raw_total,
    CAST(SUM(tgt_ctf) AS BIGINT) AS tgt_total,
    COUNT(*) AS vocab
  FROM raw_ctf
),
model AS (
  SELECT term,
    ln((tgt_ctf + 1) * 1.0 / (tgt_total + vocab))
      - ln((raw_ctf + 1) * 1.0 / (raw_total + vocab)) AS log_ratio
  FROM raw_ctf CROSS JOIN scalars
),
scored AS (
  SELECT tok.doc_id, COUNT(*) AS n_tokens,
    ROUND(SUM(model.log_ratio) / COUNT(*), 6) AS avg_log_ratio
  FROM tok JOIN model ON tok.term = model.term
  GROUP BY tok.doc_id
)
SELECT doc_id, n_tokens, avg_log_ratio FROM scored
ORDER BY avg_log_ratio DESC, doc_id ASC LIMIT {DSIR_TOP_N}
"""


CHUNK_SIZE = 128
CHUNK_STRIDE = 96


def q_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping fixed-window document chunking (context packing for
    embedding / retrieval indexes): size 128, stride 96 → 32-char
    overlap between consecutive chunks.

    Spark shape: ``sequence()`` generates the start offsets per doc and
    ``posexplode`` fans them out — all JVM array expressions, zero
    shuffles, and the explode multiplies rows AFTER column pruning so
    only (doc_id, text) ever flows. At 100 TB this is a pure map stage:
    chunking parallelism equals scan parallelism, no repartition needed.
    Chunk content is returned as md5 so the row stays narrow; a real
    sink would carry the substring itself.
    """
    d = table(spark, sf, "documents").select("doc_id", "text")
    starts = F.sequence(
        F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(CHUNK_STRIDE)
    )
    chunk = F.expr(f"substring(text, start_pos, {CHUNK_SIZE})")
    return (
        d.select("doc_id", "text", F.posexplode(starts).alias("chunk_idx", "start_pos"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.col("start_pos").cast("int").alias("start_pos"),
            F.length(chunk).alias("chunk_len"),
            F.md5(chunk).alias("chunk_md5"),
        )
    )


SQL_CHUNK_DOCUMENTS = f"""
WITH s AS (
  SELECT doc_id, text,
         unnest(generate_series(1, greatest(length(text),1), {CHUNK_STRIDE})) AS start
  FROM documents
)
SELECT doc_id,
  CAST((start-1)//{CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
  CAST(start AS INTEGER) AS start_pos,
  CAST(length(substr(text, CAST(start AS INTEGER), {CHUNK_SIZE})) AS INTEGER) AS chunk_len,
  md5(substr(text, CAST(start AS INTEGER), {CHUNK_SIZE})) AS chunk_md5
FROM s
"""


def q_upsert_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """Changelog → snapshot compaction (CDC upsert): latest event per
    user, ties broken by event_id. The keep-LAST twin of
    ``dedup_keep_first`` — the shape of every "current state" view over
    an append-only log.

    One user-keyed shuffle; Spark plans the rn=1 filter as
    WindowGroupLimit, keeping only each partition's top row before the
    exchange (the same optimization the top-k-per-group query
    plan-asserts). At 100 TB: compaction cost = one shuffle of the
    changelog, and with the log bucketed by user_id it becomes
    shuffle-free.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        table(spark, sf, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )
    )


SQL_UPSERT_SNAPSHOT = """
SELECT user_id, event_id AS last_event_id, ts AS last_ts,
       event_type AS last_type, value AS last_value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""


BLOOM_M = 8192  # bits
BLOOM_K = 4  # hash functions


def _bloom_bucket(i: int, term) -> F.Column:
    """Hash-``i`` bit position (shared md5 recipe, Bloom prefix/width)."""
    return md5_bucket(f"b{i}|", term, BLOOM_M)


def q_bloom_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter decontamination probe — the sketch the exact
    ``decontaminate`` broadcast set gets replaced with when the eval
    suite grows past broadcast size: a {BLOOM_M}-bit, {BLOOM_K}-hash
    Bloom over the eval docs' (doc_id % 10 == 0) term set, probed by
    every training doc. A term is flagged iff ALL {BLOOM_K} bits hit
    (no false negatives; false positives possible). Output per
    training doc: term count, Bloom-flagged count, EXACT overlap count
    (so the artifact shows the one-sided error: flagged >= exact,
    asserted in tests), and the flag rate.

    100 TB shape: the Bloom IS a DataFrame of set bit positions
    (<= {BLOOM_M} rows regardless of eval size — strictly mergeable by
    union/distinct) broadcast into the probe join; the training stream
    shuffles once for its own per-doc term distinct. md5-derived
    positions make the whole sketch DuckDB-reproducible."""
    d = table(spark, sf, "documents")
    # the term stream feeds five plan references (eval side + the train
    # side's probes / exact / per-doc counts) and the eval term set two —
    # materialize each once instead of re-tokenizing the corpus per consumer
    # (10 scans → 0 rescans)
    dt = d.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("term")
    ).localCheckpoint(eager=True)
    ev_terms = (
        dt.filter(F.col("doc_id") % 10 == 0)
        .select("term")
        .distinct()
        .localCheckpoint(eager=True)
    )
    bits = (
        ev_terms.select(
            F.explode(
                F.array(*[_bloom_bucket(i, F.col("term")) for i in range(BLOOM_K)])
            ).alias("bit")
        )
        .distinct()
    )
    train = dt.filter(F.col("doc_id") % 10 != 0)
    probes = train.select(
        "doc_id",
        "term",
        F.explode(
            F.array(*[_bloom_bucket(i, F.col("term")) for i in range(BLOOM_K)])
        ).alias("bit"),
    )
    term_hits = (
        probes.join(F.broadcast(bits), "bit")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("nbits"))
        .filter(F.col("nbits") == BLOOM_K)
    )
    exact_hits = train.join(F.broadcast(ev_terms), "term")
    per_doc = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_terms"))
    flagged = term_hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bloom_flagged")
    )
    exact = exact_hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        per_doc.join(flagged, "doc_id", "left")
        .join(exact, "doc_id", "left")
        .select(
            "doc_id",
            "n_terms",
            F.coalesce("n_bloom_flagged", F.lit(0)).alias("n_bloom_flagged"),
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
            F.round(
                F.coalesce("n_bloom_flagged", F.lit(0)).cast("double")
                / F.col("n_terms"),
                6,
            ).alias("flag_rate"),
        )
    )


def _sql_bloom_bucket(i: int, term: str) -> str:
    return f"('0x' || substr(md5('b{i}|' || {term}), 1, 8))::BIGINT % {BLOOM_M}"


SQL_BLOOM_DECONTAMINATE = f"""
WITH dt AS (
  SELECT DISTINCT doc_id,
    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '')) AS term
  FROM documents
),
ev AS (SELECT DISTINCT term FROM dt WHERE doc_id % 10 = 0),
bits AS (
  SELECT DISTINCT {_sql_bloom_bucket(0, 'term')} AS bit FROM ev
  {" ".join(f"UNION SELECT DISTINCT {_sql_bloom_bucket(i, 'term')} FROM ev" for i in range(1, BLOOM_K))}
),
train AS (SELECT doc_id, term FROM dt WHERE doc_id % 10 <> 0),
probes AS (
  SELECT doc_id, term,
    unnest([{", ".join(_sql_bloom_bucket(i, "term") for i in range(BLOOM_K))}]) AS bit
  FROM train
),
term_hits AS (
  SELECT doc_id, term FROM probes JOIN bits USING (bit)
  GROUP BY doc_id, term HAVING COUNT(*) = {BLOOM_K}
),
per_doc AS (SELECT doc_id, COUNT(*) AS n_terms FROM train GROUP BY doc_id),
flagged AS (SELECT doc_id, COUNT(*) AS n_bloom_flagged FROM term_hits GROUP BY doc_id),
exact AS (
  SELECT t.doc_id, COUNT(*) AS n_exact FROM train t JOIN ev USING (term)
  GROUP BY t.doc_id
)
SELECT p.doc_id, p.n_terms,
  COALESCE(f.n_bloom_flagged, 0) AS n_bloom_flagged,
  COALESCE(e.n_exact, 0) AS n_exact,
  ROUND(CAST(COALESCE(f.n_bloom_flagged, 0) AS DOUBLE) / p.n_terms, 6) AS flag_rate
FROM per_doc p
LEFT JOIN flagged f ON p.doc_id = f.doc_id
LEFT JOIN exact e ON p.doc_id = e.doc_id
"""


QUERIES: dict[str, Query] = {
    "decontaminate": Query(q_decontaminate, SQL_DECONTAMINATE),
    "pii_redact": Query(q_pii_redact, SQL_PII_REDACT),
    "quota_sample": Query(q_quota_sample, SQL_QUOTA_SAMPLE),
    "sequence_pack": Query(q_sequence_pack, SQL_SEQUENCE_PACK),
    "train_shuffle": Query(q_train_shuffle, SQL_TRAIN_SHUFFLE),
    "domain_mix_report": Query(q_domain_mix_report, SQL_DOMAIN_MIX_REPORT),
    "domain_temperature_resample": Query(
        q_domain_temperature_resample, SQL_DOMAIN_TEMPERATURE_RESAMPLE
    ),
    "perplexity_bucket_sample": Query(
        q_perplexity_bucket_sample, SQL_PERPLEXITY_BUCKET_SAMPLE
    ),
    "dataset_split": Query(q_dataset_split, SQL_DATASET_SPLIT),
    "decontaminate_ngram_overlap": Query(
        q_decontaminate_ngram_overlap, SQL_DECONTAMINATE_NGRAM_OVERLAP
    ),
    "decontaminate_semantic": Query(
        q_decontaminate_semantic, SQL_DECONTAMINATE_SEMANTIC
    ),
    "filter_cascade_report": Query(
        q_filter_cascade_report, SQL_FILTER_CASCADE_REPORT
    ),
    "token_budget_mix": Query(q_token_budget_mix, SQL_TOKEN_BUDGET_MIX),
    "boilerplate_removal": Query(q_boilerplate_removal, SQL_BOILERPLATE_REMOVAL),
    "dsir_importance_sample": Query(
        q_dsir_importance_sample, SQL_DSIR_IMPORTANCE_SAMPLE
    ),
    "chunk_documents": Query(q_chunk_documents, SQL_CHUNK_DOCUMENTS),
    "bloom_decontaminate": Query(q_bloom_decontaminate, SQL_BLOOM_DECONTAMINATE),
    "upsert_snapshot": Query(q_upsert_snapshot, SQL_UPSERT_SNAPSHOT),
}
