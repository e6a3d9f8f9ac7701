"""Deduplication: exact, n-gram Jaccard (plain, capped, prefix-filtered),
containment, fuzzy Levenshtein, MinHash-LSH, SimHash, embedding-cosine
and semantic (SemDeDup) arms, connected-component clusters and their
keep policies, line- and span-level cuts, incremental dedup, and the
LSH band-geometry tuning table.

Scale shapes: exact dedup is one hash-keyed shuffle (uniform, no skew).
Shingle Jaccard is an inverted-index self-join on the shingle, with
ultra-frequent shingles capped (``max_df``) as the skew valve;
intersections count capped shingles while denominators stay uncapped.
MinHash and SimHash only verify pairs that share an LSH band bucket, so
cost is O(n·bands), not O(n²). Their production kernels hash with
engine-specific families and are rows-checked; the md5 twins in
``suite.stats`` are hash-graded. Cluster labels come from the iterative
connected-components loop, checked against a recursive-CTE fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import minhash_lsh_pairs, simhash_arrow
from ..sources import table
from .base import SQL_SHINGLE_SIZES_CTE, SQL_TOKENS, Query, shingles, shingles_of


def q_dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    """CAPPED asymmetric containment over hashed shingle sets (d1 < d2
    both directions reported via contained_doc). Same posting-list
    shape as jaccard — intersections come from the shingle-keyed
    self-join, set sizes from one aggregate — but the denominator is
    per-SIDE, so a short quoted doc scores high even when symmetric
    Jaccard stays low.

    Semantics, stated honestly: the df <= max_df cap (same shape as
    ``operators.dedup.jaccard_pairs``' ``max_df``) drops shingles whose
    corpus document-frequency exceeds the cap BEFORE the self-join, so
    the numerator — and therefore the reported containment — is a
    LOWER BOUND of true |A∩B|/min(|A|,|B|): overlap carried entirely
    by ultra-common (df > max_df) shingles is not seen. That is the
    price that bounds per-shingle pair fan-out at max_df·(max_df-1)/2
    and keeps the join linear-ish at 100 TB; boilerplate-only overlap
    is usually unwanted in a near-dup signal anyway. (An earlier version
    shipped df == 2 exactly, a much looser bound, while the docstring claimed
    true containment — both sides now compute df <= 20.)"""
    max_df = 20
    # the shingle stream feeds four plan references (sizes, df_counts, both
    # self-join sides) and the size frame two — materialize each once
    # instead of re-tokenizing the corpus per consumer (12 parquet scans → 0
    # rescans in the captured plan; the jaccard_pairs operator got the same
    # fix)
    sh = shingles(spark, sf, 5).localCheckpoint(eager=True)
    sizes = (
        sh.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("c"))
    capped = sh.join(
        df_counts.filter(F.col("c") <= max_df).select("shingle"), "shingle"
    )
    inter = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    both = inter.join(sa, "d1").join(sb, "d2")
    # containment in the SMALLER set: 10*inter >= 8*min(n1,n2), exact ints
    return (
        both.filter(
            F.col("inter") * 10 >= F.least("n1", "n2") * 8
        )
        .select(
            "d1",
            "d2",
            F.when(F.col("n1") <= F.col("n2"), F.col("d1"))
            .otherwise(F.col("d2"))
            .alias("contained_doc"),
            F.round(
                F.col("inter") / F.least("n1", "n2").cast("double"), 9
            ).alias("containment"),
        )
    )


SQL_DEDUP_CONTAINMENT = f"""
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
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
df AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 20),
capped AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN df USING (shingle)),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.d1, i.d2,
  CASE WHEN sa.n <= sb.n THEN i.d1 ELSE i.d2 END AS contained_doc,
  ROUND(i.inter / CAST(LEAST(sa.n, sb.n) AS DOUBLE), 9) AS containment
FROM inter i
JOIN sizes sa ON sa.doc_id = i.d1
JOIN sizes sb ON sb.doc_id = i.d2
WHERE i.inter * 10 >= LEAST(sa.n, sb.n) * 8
"""


def window_hash_frames(
    spark: SparkSession, sf: str, n: int = 10
) -> tuple[DataFrame, DataFrame]:
    """Shared span-dedup plumbing: (bound, wins) where ``bound`` is
    (doc_id, hts: per-token xxhash64 array) and ``wins`` is the
    position-preserving hash of every ``n``-token window
    (doc_id, pos, whash). Used by both the detection query below and
    ``q_dedup_span_removal`` — ONE implementation so window
    size, tokenization and the short-doc guard cannot drift apart.

    Short-doc guard: ``sequence(1, 0)`` is DESCENDING in Spark, so a
    doc with < n tokens would evaluate ``slice(hts, 0, n)`` and throw —
    when/otherwise makes short docs yield zero windows instead."""
    from ..functions import tokens

    d = table(spark, sf, "documents")
    # both consumers reference ``wins`` twice (global window counts +
    # join-back) and span_removal additionally reads ``bound`` — lazily that
    # replayed the corpus tokenize + window-hash build per reference (10
    # scans in the before-plan). Materialize each once: one tokenize pass,
    # one in-memory window build, every downstream branch reads materialized
    # longs.
    bound = d.select(
        "doc_id",
        F.transform(tokens("text"), lambda t: F.xxhash64(t)).alias("hts"),
    ).localCheckpoint(eager=True)
    wins = bound.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.when(
                    F.size("hts") >= n,
                    F.sequence(F.lit(1), F.size("hts") - (n - 1)),
                ).otherwise(F.array().cast("array<int>")),
                lambda i: F.xxhash64(F.slice("hts", i, n)),
            )
        ).alias("pos", "whash"),
    ).localCheckpoint(eager=True)
    return bound, wins


# the matching DuckDB CTE pair (toks + w) for n=10 windows — composed
# into both span-dedup oracles so the SQL twin can't drift either
SQL_TOKS_WINDOWS_CTE = f"""
WITH toks AS (
  SELECT doc_id,
    {SQL_TOKENS} AS ts
  FROM documents
),
w AS (
  SELECT doc_id, i AS pos,
    ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4]
      || ' ' || ts[i+5] || ' ' || ts[i+6] || ' ' || ts[i+7] || ' ' || ts[i+8]
      || ' ' || ts[i+9] AS win
  FROM toks, range(1, 100000) r(i)
  WHERE i + 9 <= len(ts)
)"""


def q_dedup_repeated_substrings(spark: SparkSession, sf: str) -> DataFrame:
    """Exact repeated-substring detection (the span-level dedup of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): every 10-token window is hashed; a window is REPEATED if
    its hash occurs more than once in the whole corpus. Per doc:
    window count, repeated count, repeated fraction — the signal a
    pipeline uses to CUT spans rather than drop documents.

    Plan: position-preserving window hashes (same bound-tokens trick as
    ``shingles`` — no n-gram strings materialized, positions kept), one
    uniform hash-keyed aggregate for global counts, join back, one
    doc-keyed aggregate. Two shuffles, both on uniform keys; the window
    stream is longs, never text. Scales like the shingle pipeline."""
    _, wins = window_hash_frames(spark, sf, 10)
    counts = wins.groupBy("whash").agg(F.count(F.lit(1)).alias("c"))
    return (
        wins.join(counts, "whash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("n_repeated"),
            F.round(
                F.avg(F.when(F.col("c") > 1, 1.0).otherwise(0.0)), 9
            ).alias("repeated_frac"),
        )
    )


SQL_DEDUP_REPEATED_SUBSTRINGS = SQL_TOKS_WINDOWS_CTE + """,
counts AS (SELECT win, COUNT(*) AS c FROM w GROUP BY 1)
SELECT w.doc_id, COUNT(*) AS n_windows,
  CAST(SUM(CASE WHEN counts.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
  ROUND(AVG(CASE WHEN counts.c > 1 THEN 1.0 ELSE 0.0 END), 9) AS repeated_frac
FROM w JOIN counts USING (win)
GROUP BY w.doc_id
"""


SPAN_N = 10


def q_dedup_span_removal(spark: SparkSession, sf: str) -> DataFrame:
    """Span-cut accounting: a token is removed when ANY corpus-repeated
    {SPAN_N}-token window covers it (Lee et al. 2022's ExactSubstr cut
    rule — the sibling query ``dedup_repeated_substrings`` only scores
    windows; this one applies the cut and reports what survives).

    Plan: position-preserving hashed windows (longs, never text), one
    uniform window-hash aggregate for global counts, join-back, then
    covered positions explode into at most {SPAN_N} rows per repeated
    window before a doc-keyed distinct — every shuffle key is uniform
    and the covered stream is bounded by {SPAN_N}× the repeated-window
    count, not by corpus size. Short docs yield zero windows (same
    guard as the detection query) and come back whole. Window building
    is ``window_hash_frames`` — the SAME implementation the
    detection query uses, so tokenization, window size and the
    short-doc guard cannot drift between score and cut."""
    n = SPAN_N
    bound, wins = window_hash_frames(spark, sf, n)
    counts = wins.groupBy("whash").agg(F.count(F.lit(1)).alias("c"))
    covered = (
        wins.join(counts.filter(F.col("c") > 1).select("whash"), "whash")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (n - 1))
            ).alias("tp"),
        )
        .distinct()
    )
    removed = covered.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_removed"))
    base = bound.select("doc_id", F.size("hts").alias("n_tokens"))
    return (
        base.join(removed, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            (F.col("n_tokens") - F.coalesce("n_removed", F.lit(0))).alias(
                "kept_tokens"
            ),
            F.when(F.col("n_tokens") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce("n_removed", F.lit(0))
                    / F.col("n_tokens").cast("double"),
                    9,
                )
            )
            .alias("removed_frac"),
        )
    )


SQL_DEDUP_SPAN_REMOVAL = SQL_TOKS_WINDOWS_CTE + f""",
counts AS (SELECT win FROM w GROUP BY win HAVING COUNT(*) > 1),
cov AS (
  SELECT DISTINCT w.doc_id, w.pos + j AS tp
  FROM w JOIN counts USING (win), range(0, {SPAN_N}) r(j)
),
removed AS (SELECT doc_id, COUNT(*) AS n_removed FROM cov GROUP BY doc_id)
SELECT t.doc_id, len(t.ts) AS n_tokens,
  COALESCE(r.n_removed, 0) AS n_removed,
  len(t.ts) - COALESCE(r.n_removed, 0) AS kept_tokens,
  CASE WHEN len(t.ts) = 0 THEN 0.0
       ELSE ROUND(COALESCE(r.n_removed, 0) / CAST(len(t.ts) AS DOUBLE), 9)
  END AS removed_frac
FROM toks t LEFT JOIN removed r USING (doc_id)
"""


SEG_TOKENS = 16  # C4 dedupes at line granularity; this corpus has no


def q_dedup_line_level(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style segment-level exact dedup, keep-first corpus-wide:
    each document splits into consecutive {SEG_TOKENS}-token segments;
    a segment instance survives iff it is the globally FIRST occurrence
    of that exact segment text (order = (doc_id, seg_idx)); the output
    reports per doc how many segments survived and the md5 of the
    re-assembled surviving text — the full C4 §2.2 recipe (their unit
    is the line; the corpus here has no newlines, so the unit is a
    fixed token window).

    Scale shape: ONE shuffle keyed by the segment text (the window
    partition); groups are tiny (dup multiplicity), so the per-group
    sort is O(dups). Re-assembly is a per-doc groupBy — second uniform
    shuffle. At 100 TB the partition key would be xxhash64(seg) to
    keep the sort comparator cheap (collision odds n²/2⁶⁵, the shingle
    argument); kept as the raw text here so the oracle is exact.
    Documents with zero tokens produce no segments and are excluded —
    upstream quality gates drop empty docs before dedup anyway."""
    from ..functions import tokens

    d = table(spark, sf, "documents")
    tokd = d.select("doc_id", tokens("text").alias("ts"))
    nseg = F.floor((F.size("ts") - 1) / SEG_TOKENS).cast("int")
    segs = tokd.select(
        "doc_id",
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
    w = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    ranked = segs.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct("seg_idx", F.col("seg").alias("s"))
    )
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["s"]
                ),
                " ",
            )
        ).alias("kept_hash"),
    )


SQL_DEDUP_LINE_LEVEL = f"""
WITH toks AS (
  SELECT doc_id,
    {SQL_TOKENS} AS ts
  FROM documents
),
segs AS (
  SELECT doc_id, CAST(g.i AS INTEGER) AS seg_idx,
    array_to_string(ts[g.i*{SEG_TOKENS}+1 : g.i*{SEG_TOKENS}+{SEG_TOKENS}], ' ') AS seg
  FROM toks, range(0, 100000) g(i)
  WHERE len(ts) > 0 AND g.i <= (len(ts)-1) // {SEG_TOKENS}
),
rn AS (
  SELECT doc_id, seg_idx, seg,
    ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS r
  FROM segs
)
SELECT doc_id, COUNT(*) AS n_segments,
  CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  md5(coalesce(string_agg(CASE WHEN r = 1 THEN seg END, ' ' ORDER BY seg_idx), ''))
    AS kept_hash
FROM rn GROUP BY doc_id
"""


NEW_MOD = 10  # "incoming crawl delta" = doc_id % 10 == 3
NEW_REM = 3


def q_dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental-ingestion dedup — the ASYMMETRIC variant every
    standing pipeline runs on each crawl delta: NEW docs (the
    doc_id % {NEW_MOD} == {NEW_REM} slice stands in for the delta) are
    checked against the STANDING corpus; the standing corpus is never
    re-deduped. Per new doc: exact-dup flag (content hash seen in the
    old corpus), nearest near-dup old doc (capped-shingle Jaccard ≥ 0.5,
    keeper = min old id), and the final keep decision. The batch arms
    (``dedup_exact``/``dedup_fuzzy_clusters``) re-dedup the WHOLE corpus
    — quadratic in history length across crawls; this shape touches each
    old doc once per delta.

    Scale: the old-hash set joins as a left-semi on an md5 key (at real
    scale a Bloom-gated semi-join — ``bloom_decontaminate``'s sketch);
    near-dup candidates come from the same capped posting lists as
    ``dedup_ngram_jaccard_capped`` (pair fan-out bounded by the df cap),
    filtered to cross-side pairs only."""
    from ..operators.dedup import jaccard_pairs

    d = table(spark, sf, "documents")
    is_new = F.col("doc_id") % NEW_MOD == NEW_REM
    old_hashes = (
        d.filter(~is_new).select(F.md5("text").alias("h")).distinct()
    )
    new_docs = d.filter(is_new).select("doc_id", F.md5("text").alias("h"))
    exact_ids = new_docs.join(old_hashes, "h", "left_semi").select("doc_id")
    pairs = jaccard_pairs(shingles(spark, sf, 5), threshold=0.5, max_df=FUZZY_MAX_DF)
    side = lambda c: F.col(c) % NEW_MOD == NEW_REM
    near = (
        pairs.filter(side("d1") != side("d2"))
        .select(
            F.when(side("d1"), F.col("d1")).otherwise(F.col("d2")).alias("new_id"),
            F.when(side("d1"), F.col("d2")).otherwise(F.col("d1")).alias("old_id"),
        )
        .groupBy("new_id")
        .agg(F.min("old_id").alias("near_dup_of"))
    )
    ex = exact_ids.withColumn("is_exact_dup", F.lit(True))
    return (
        d.filter(is_new)
        .select("doc_id")
        .join(ex, "doc_id", "left")
        .join(near, F.col("doc_id") == F.col("new_id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("is_exact_dup"), F.lit(False)).alias("is_exact_dup"),
            "near_dup_of",
            (
                F.coalesce(F.col("is_exact_dup"), F.lit(False)).__invert__()
                & F.col("near_dup_of").isNull()
            ).alias("is_kept"),
        )
    )


SQL_DEDUP_INCREMENTAL = f"""
WITH {{shingle_cte}},
fdf AS (SELECT shingle, COUNT(*) AS c FROM sh GROUP BY 1),
fcapped AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN fdf USING (shingle)
  WHERE fdf.c <= {{cap}}
),
p0 AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM fcapped a JOIN fcapped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jpairs AS (
  SELECT d1, d2
  FROM p0
  JOIN sizes sa ON sa.doc_id = d1
  JOIN sizes sb ON sb.doc_id = d2
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5
),
near AS (
  SELECT CASE WHEN d1 % {NEW_MOD} = {NEW_REM} THEN d1 ELSE d2 END AS new_id,
         MIN(CASE WHEN d1 % {NEW_MOD} = {NEW_REM} THEN d2 ELSE d1 END) AS near_dup_of
  FROM jpairs
  WHERE (d1 % {NEW_MOD} = {NEW_REM}) <> (d2 % {NEW_MOD} = {NEW_REM})
  GROUP BY 1
),
oldh AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % {NEW_MOD} <> {NEW_REM}
)
SELECT d.doc_id,
  (md5(d.text) IN (SELECT h FROM oldh)) AS is_exact_dup,
  n.near_dup_of,
  (NOT (md5(d.text) IN (SELECT h FROM oldh)) AND n.near_dup_of IS NULL) AS is_kept
FROM documents d
LEFT JOIN near n ON n.new_id = d.doc_id
WHERE d.doc_id % {NEW_MOD} = {NEW_REM}
"""


# Stop-shingle cap shared by the two production fuzzy-dedup entries
# (levenshtein verify + cluster pipeline) and mirrored verbatim in their
# oracles' df CTEs. Same magnitude as dedup_containment's df<=20: large
# enough never to touch genuine near-dup overlap on this corpus, small
# enough that a boilerplate shingle's pair fan-out df·(df-1)/2 is bounded
# by a constant regardless of corpus size.
FUZZY_MAX_DF = 20


SQL_DEDUP_INCREMENTAL = SQL_DEDUP_INCREMENTAL.format(
    shingle_cte=SQL_SHINGLE_SIZES_CTE, cap=FUZZY_MAX_DF
)


PF_THRESHOLD = 0.5  # Jaccard cut (matches dedup_ngram_jaccard)


def q_prefix_filter_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Set-similarity join with PREFIX FILTERING (SSJoin, Chaudhuri et
    al. 2006; PPJoin, Xiao et al. 2008) — the third sub-quadratic
    candidate-generation family in the repo, next to df-capping
    (changes semantics: drops hot shingles from scores) and MinHash
    banding (probabilistic: can miss pairs). Prefix filtering is
    EXACT and LOSSLESS: order each doc's shingles by global rarity
    (df ASC, shingle ASC) and index only the first
    |s| − ceil(t·|s|) + 1 of them; any pair with Jaccard ≥ t
    provably shares a prefix shingle (J ≥ t forces |B| ≥ t·|A|, so
    the required overlap exceeds what the dropped suffix can cover),
    so verifying candidates with the exact Jaccard reproduces the
    full O(n²)-free answer bit-for-bit.

    Plan: df is one shingle-keyed aggregate; the per-doc rarity rank
    is a doc-partitioned window; the candidate self-join keys on
    PREFIX shingles only — a boilerplate shingle (huge df) lands in
    almost no prefixes, so the very key that blows up the plain
    posting-list join is filtered out by construction, WITHOUT
    touching scores. Verification re-joins candidates against the
    full shingle lists (work bounded by candidates, not pairs). The
    oracle is the PLAIN quadratic pair join — hash-equality proves
    the optimized path is semantics-preserving, the gemm-candidate
    convention (operators/similarity.py)."""
    # five consumers (df, rank, sizes, both verify sides) — materialize
    # the shingle stream ONCE instead of re-tokenizing per branch
    # (modest at sf0.1, ~2.1 → 1.9 s warm — the doc-keyed rank window
    # dominates locally — but at corpus scale five tokenize passes
    # would; a cluster run persists the stream)
    sh = shingles(spark, sf, 5).localCheckpoint(eager=True)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w_doc = Window.partitionBy("doc_id").orderBy(
        F.asc("df"), F.asc("shingle")
    )
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn("rnk", F.row_number().over(w_doc))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    prefix = ranked.filter(
        F.col("rnk")
        <= F.col("n") - F.ceil(F.col("n") * F.lit(PF_THRESHOLD)) + 1
    ).select("doc_id", "shingle")
    cands = (
        prefix.alias("pa")
        .join(prefix.alias("pb"), "shingle")
        .filter(F.col("pa.doc_id") < F.col("pb.doc_id"))
        .select(
            F.col("pa.doc_id").alias("d1"), F.col("pb.doc_id").alias("d2")
        )
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cands.join(sh.alias("sa"), F.col("d1") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("d2") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.alias("za"), F.col("d1") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("d2") == F.col("zb.doc_id"))
        .select(
            "d1",
            "d2",
            (
                F.col("inter")
                / (F.col("za.n") + F.col("zb.n") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= PF_THRESHOLD)
    )


def q_dedup_cluster_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster census — the post-dedup audit table: group
    docs into exact-content clusters (md5(text), ``dedup_exact``'s
    key), then report the cluster-SIZE histogram: how many clusters of
    each multiplicity, how many docs they hold, how many are excess
    copies (size-1 per cluster — exactly the docs dedup would delete),
    and each size's share of the corpus. The size-1 row doubles as the
    unique-doc count, so the table totals to the corpus and the
    excess_share column totals to the overall duplication rate.

    Scale shape: one content-hash groupBy (the dedup shuffle itself),
    one histogram groupBy over cluster rows, and windows over the
    histogram frame (bounded by max multiplicity, ~tens of rows). The
    census adds nothing beyond the dedup pass a pipeline already
    runs."""
    d = table(spark, sf, "documents")
    sizes = d.groupBy(F.md5("text").alias("h")).agg(F.count("*").alias("sz"))
    hist = sizes.groupBy("sz").agg(F.count("*").alias("n_clusters"))
    w = Window.partitionBy()
    n_docs = F.col("sz") * F.col("n_clusters")
    excess = (F.col("sz") - 1) * F.col("n_clusters")
    total = F.sum(n_docs).over(w)
    return hist.select(
        F.col("sz").alias("cluster_size"),
        "n_clusters",
        n_docs.alias("n_docs"),
        excess.alias("excess_docs"),
        F.round(n_docs / total, 6).alias("corpus_share"),
        F.round(excess / total, 6).alias("excess_share"),
    )


SQL_DEDUP_CLUSTER_STATS = """
WITH sizes AS (
  SELECT md5(text) AS h, COUNT(*) AS sz FROM documents GROUP BY md5(text)
),
hist AS (SELECT sz, COUNT(*) AS n_clusters FROM sizes GROUP BY sz)
SELECT sz AS cluster_size, n_clusters,
  CAST(sz * n_clusters AS BIGINT) AS n_docs,
  CAST((sz - 1) * n_clusters AS BIGINT) AS excess_docs,
  ROUND(sz * n_clusters * 1.0 / CAST(SUM(sz * n_clusters) OVER () AS BIGINT), 6)
    AS corpus_share,
  ROUND((sz - 1) * n_clusters * 1.0 / CAST(SUM(sz * n_clusters) OVER () AS BIGINT), 6)
    AS excess_share
FROM hist
"""


def q_dedup_cluster_representatives(spark: SparkSession, sf: str) -> DataFrame:
    """Keep-best representatives of the multi-doc fuzzy-dedup
    clusters: the ``dedup_fuzzy_clusters`` pipeline (capped shingles →
    J ≥ 0.5 verify → iterative CC) followed by a per-cluster
    argmax(n_chars DESC, doc_id ASC) — the RefinedWeb-style "keep the
    richest member" policy next to that entry's keep-minimum-id. One
    row per multi-doc cluster: representative, size, and the length
    spread the representative was chosen over.

    Scale notes inherit from dedup_fuzzy_clusters (bounded pair
    fan-out, O(edges) CC rounds); the selection adds one
    cluster-keyed window over the cluster-membership frame."""
    from ..operators.dedup import connected_components, jaccard_pairs

    pairs = jaccard_pairs(
        shingles(spark, sf, 5), threshold=0.5, max_df=FUZZY_MAX_DF
    )
    edges = pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
    d = table(spark, sf, "documents")
    nodes = d.select(F.col("doc_id").alias("node"))
    cc = connected_components(edges, nodes)
    labeled = cc.join(
        d.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("n_chars"), F.asc("node")
    )
    ranked = labeled.select(
        F.col("label").alias("cluster_id"),
        "node",
        "n_chars",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("label")).alias("sz"),
        F.min("n_chars").over(Window.partitionBy("label")).alias("minc"),
        F.max("n_chars").over(Window.partitionBy("label")).alias("maxc"),
    )
    return (
        ranked.filter((F.col("rk") == 1) & (F.col("sz") > 1))
        .select(
            "cluster_id",
            F.col("sz").alias("cluster_size"),
            F.col("node").alias("rep_doc_id"),
            F.col("n_chars").alias("rep_n_chars"),
            F.col("minc").alias("min_n_chars"),
            F.col("maxc").alias("max_n_chars"),
        )
        .orderBy("cluster_id")
    )


SQL_DEDUP_CLUSTER_REPRESENTATIVES = f"""
WITH RECURSIVE {SQL_SHINGLE_SIZES_CTE},
fdf AS (SELECT shingle, COUNT(*) AS c FROM sh GROUP BY 1),
fcapped AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN fdf USING (shingle)
  WHERE fdf.c <= {FUZZY_MAX_DF}
),
p0 AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM fcapped a JOIN fcapped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT d1 AS a, d2 AS b
  FROM p0
  JOIN sizes sa ON sa.doc_id = d1
  JOIN sizes sb ON sb.doc_id = d2
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5
),
sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
reach(node, anc) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.node, s.b
  FROM reach r JOIN sym s ON s.a = r.anc
),
cc AS (SELECT node, MIN(anc) AS cluster_id FROM reach GROUP BY node),
labeled AS (
  SELECT cc.cluster_id, cc.node, d.n_chars,
    ROW_NUMBER() OVER (PARTITION BY cc.cluster_id
      ORDER BY d.n_chars DESC, cc.node ASC) AS rk,
    COUNT(*) OVER (PARTITION BY cc.cluster_id) AS sz,
    MIN(d.n_chars) OVER (PARTITION BY cc.cluster_id) AS minc,
    MAX(d.n_chars) OVER (PARTITION BY cc.cluster_id) AS maxc
  FROM cc JOIN documents d ON d.doc_id = cc.node
)
SELECT cluster_id, sz AS cluster_size, node AS rep_doc_id,
  n_chars AS rep_n_chars, minc AS min_n_chars, maxc AS max_n_chars
FROM labeled WHERE rk = 1 AND sz > 1
ORDER BY cluster_id
"""


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: group by md5(text); keeper = min(doc_id) (deterministic,
    unlike dropDuplicates' arbitrary row pick)."""
    d = table(spark, sf, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs (J >= 0.5) via posting lists:
    one groupBy(shingle) builds the inverted index, lists of size 1 are
    dropped BEFORE any pair exists (the overwhelming majority), then
    candidate pairs are generated array-side per posting list — one
    shuffle on the shingle key instead of a two-sided self-join shuffle.

    w=5 shingles (standard w-shingling): on a small-vocab corpus 3-grams
    are near-stopwords — every doc shares them, and pair generation
    degenerates toward O(n²) with hot keys (measured 26 s at sf0.1
    vs ~1.3 s with w=5 for the identical pair set above J=0.5).

    100 TB: hot shingles (boilerplate) give quadratic posting lists —
    cap with ``max_df`` (stop-shingle drop, standard practice); uncapped
    here so the DuckDB oracle (plain self-join) matches exactly.

    Measured dead end (kept as a warning): carrying the per-doc shingle
    count THROUGH the explode (struct- or bit-packed into the posting
    list) to skip the sizes branch + joins is 4× SLOWER at sf0.1 —
    CollapseProject inlines the bound gram-array column into every
    expression that references it, re-evaluating the whole
    tokenize→hash→distinct pipeline per reference inside one stage.
    Two branches over one cheap scan beat one branch that computes the
    array twice per row."""
    from ..operators.dedup import jaccard_pairs

    return jaccard_pairs(shingles(spark, sf, 5), threshold=0.5, max_df=None)


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH {SQL_SHINGLE_SIZES_CTE},
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, inter * 1.0 / (sa.n + sb.n - inter) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = d1
JOIN sizes sb ON sb.doc_id = d2
WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5
"""


def q_dedup_ngram_jaccard_capped(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB-safe jaccard wiring: ``max_df`` drops posting lists
    longer than the cap BEFORE pair generation, bounding the per-shingle
    pair blow-up at df·(df-1)/2 regardless of corpus size (the uncapped
    path is quadratic in the hottest shingle's document frequency —
    boilerplate kills it at scale). Semantics are still exact and
    SQL-expressible: intersections count only capped shingles,
    denominators use true (uncapped) shingle-set sizes, so the DuckDB
    oracle reproduces scores bit-for-bit.

    ``max_df=2`` here because the synthetic corpus's hottest shingle has
    df=3-4 — the cap must actually bite for the driver to grade the
    capped code path (at sf0.01 it drops 3 of 25 uncapped pairs). A
    production run uses O(10³)+: large enough to never touch genuine
    near-dup overlap, small enough to stop-list boilerplate."""
    from ..operators.dedup import jaccard_pairs

    return jaccard_pairs(shingles(spark, sf, 5), threshold=0.5, max_df=2)


SQL_DEDUP_NGRAM_JACCARD_CAPPED = f"""
WITH {SQL_SHINGLE_SIZES_CTE},
df AS (SELECT shingle, COUNT(*) AS c FROM sh GROUP BY 1),
capped AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN df USING (shingle)
  WHERE df.c = 2
),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, inter * 1.0 / (sa.n + sb.n - inter) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = d1
JOIN sizes sb ON sb.doc_id = d2
WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash(128 perms) + LSH(32 bands × 4 rows) candidate pairs with
    exact-Jaccard verification >= 0.5. Spark murmur3 signatures → no SQL
    oracle (rows-only check); correctness is tested against the exact
    jaccard query in tests/test_dedup.py."""
    sh = shingles(spark, sf, 5)
    return minhash_lsh_pairs(sh, num_perm=128, bands=32, threshold=0.5)


def q_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """64-bit SimHash per document + hamming-adjacent pair candidates.
    Spark-only (xxhash64 token votes) → rows-only check; the vectorized
    arrow path is asserted bit-identical to the pure-JVM formulation in
    tests/test_dedup_similarity.py."""
    d = table(spark, sf, "documents")
    return simhash_arrow(d, text_col="text", id_col="doc_id")


def q_dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup: label-blocked pair scan, keeper =
    smallest vec_id among each dup's higher-similarity partners. The
    block key bounds the pair space (at scale it is an LSH/IVF bucket,
    same shape as similarity_ann_*). Threshold 0.35 ≈ the synthetic
    corpus's 99.9th percentile — flags only genuine outlier pairs."""
    from ..operators.similarity import cosine_pairs

    pairs = cosine_pairs(
        table(spark, sf, "embeddings"), threshold=0.35, block_col="label"
    )
    return pairs.groupBy(F.col("id2").alias("dup_vec_id")).agg(
        F.min("id1").alias("keeper_vec_id"),
        F.round(F.max("sim"), 9).alias("max_sim"),
    )


SQL_DEDUP_EMBEDDING_COSINE = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
    ROUND(
      list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]))
      / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
         * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 9) AS sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id AND a.label = b.label
)
SELECT id2 AS dup_vec_id, MIN(id1) AS keeper_vec_id, ROUND(MAX(sim), 9) AS max_sim
FROM pairs WHERE sim >= 0.35 GROUP BY id2
"""


SEM_CELLS = 8
# 0.4 ≈ the 99.9th percentile of within-cell sims on the synthetic
# corpus — drops 3.8% at sf0.01 / 11.8% at sf0.1, a realistic dedup
# rate (0.25, the production default over TRAINED centroids, is far
# too greedy under this entry's untrained first-k quantizer: 91%)
SEM_THRESHOLD = 0.4


def q_dedup_semantic_graded(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup with a FULL value oracle — the driver-gradable twin of
    ``dedup_semantic`` (which stays on the fast numpy-gemm path and is
    rows-only because k-means isn't SQL). Same trick as
    ``similarity_ann_ivf_recall``: the quantizer is made
    engine-reproducible — centroids are the first-{SEM_CELLS} vectors,
    ZERO Lloyd iterations — so cell assignment, the within-cell pair
    scan, and the greedy-by-id keep rule are all expressible in
    DuckDB and hash-verified end-to-end, not just row-counted.

    Semantics match semantic_dedup exactly: a vector is dropped iff
    SOME lower-id vector in its cell has cosine >= threshold (kept set
    = per-cell minimal elements). Sims are sequential-fold dot
    products rounded to 9 dp BEFORE the threshold compare, the
    engine-agreement recipe used by every similarity oracle here.

    Scale: centroid collect is SEM_CELLS x dim driver scalars
    (bounded, same as the IVF entries); the query RUNS THE PRODUCTION
    KERNEL — ``semantic_dedup``'s numpy-gemm per-cell scan (one
    cell-keyed shuffle, quadratic term divided by the cell count, the
    SemDeDup shape) — not a slowed-down oracle-shaped twin: an
    interpreted JVM-fold pair scan measured 5.0 s vs 0.6 s at sf0.1.
    The gemm's blocked float64 summation differs from the oracle's
    sequential fold only in the last ulp, and the output carries only
    the DECISIONS (cell, is_kept), which are margin-stable: the
    smallest |sim − threshold| across both SFs is 2.5e-5 and the
    smallest centroid-distance gap 9.4e-5 — eleven orders above the
    1e-15-scale summation-order error (margins measured in
    tests/test_dedup_similarity.py's fold-path cross-check, which
    recomputes the whole query via JVM sequential folds and asserts
    identical decisions)."""
    from ..operators.dedup import semantic_dedup

    e = table(spark, sf, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < SEM_CELLS)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]
    return semantic_dedup(
        e, k=SEM_CELLS, threshold=SEM_THRESHOLD, centroids=cents
    ).select("vec_id", "cell", "is_kept")


SQL_DEDUP_SEMANTIC_GRADED = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cents AS (
  SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < {SEM_CELLS}
),
assign AS (
  SELECT vec_id, c_id AS cell FROM (
    SELECT e.vec_id, c.c_id,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        list_sum(list_transform(list_zip(e.v, c.cv),
                 x -> (x[1]-x[2])*(x[1]-x[2]))) ASC, c.c_id ASC) AS rk
    FROM e, cents c
  ) WHERE rk = 1
),
ev AS (
  SELECT e.vec_id, e.v, a.cell FROM e JOIN assign a USING (vec_id)
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM ev a JOIN ev b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ROUND(
      list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]))
      / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
         * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 9)
    >= {SEM_THRESHOLD}
)
SELECT ev.vec_id, CAST(ev.cell AS INTEGER) AS cell,
  (d.vec_id IS NULL) AS is_kept
FROM ev LEFT JOIN dropped d ON ev.vec_id = d.vec_id
"""


def q_dedup_keep_first(spark: SparkSession, sf: str) -> DataFrame:
    """Keep-first dedup as a window (the QUALIFY pattern): row_number
    over (partition by content-hash, order by doc_id) = 1 retains the
    FULL surviving row, not just the group key — the shape used when
    the kept row's payload must flow on. One shuffle on the hash key;
    vs dedup_exact's groupBy this trades an agg for a per-group sort
    (cheap: groups are tiny) to preserve whole-row output at scale."""
    from pyspark.sql import Window

    d = table(spark, sf, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.md5("text").alias("content_hash"))
    )


SQL_DEDUP_KEEP_FIRST = """
SELECT doc_id, md5(text) AS content_hash
FROM (
  SELECT doc_id, text,
    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
"""


def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Iterative connected-components clustering of duplicate pairs →
    (doc_id, cluster_id = min id in the component). Edges here are the
    exact-dup pairs (same content hash), so the oracle is the min-id
    window over the hash group — but the SPARK side computes it through
    the generic graph loop (operators/dedup.py::connected_components),
    proving the iterative surface against a closed-form oracle."""
    from ..operators.dedup import connected_components

    d = table(spark, sf, "documents")
    groups = d.groupBy(F.md5("text").alias("h")).agg(
        F.collect_list("doc_id").alias("ds")
    )
    edges = (
        groups.filter(F.size("ds") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds) - i - 1), "
                    "y -> struct(x AS src, y AS dst))))"
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
    )
    nodes = d.select(F.col("doc_id").alias("node"))
    cc = connected_components(edges, nodes)
    return cc.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


SQL_DEDUP_CLUSTERS = """
SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS cluster_id
FROM documents
"""


def _fuzzy_augmented(spark: SparkSession, sf: str) -> DataFrame:
    """documents + deterministic small-edit variants (every 11th doc,
    one-char insertions at each ' data ' token — the engine-portable
    injection trick from ``pii_redact``): the synthetic corpus's
    duplicates are exact copies, so the *near*-match path needs true
    positives at nonzero distance. Variant ids are negated (doc 0 → -1):
    disjoint from real non-negative doc_ids at ANY corpus size — an
    additive offset collides once the corpus outgrows it."""
    base = table(spark, sf, "documents").select("doc_id", "text")
    mut = base.filter(F.col("doc_id") % 11 == 0).select(
        (-F.col("doc_id") - 1).alias("doc_id"),
        F.replace(F.col("text"), F.lit(" data "), F.lit(" dataa ")).alias("text"),
    )
    return base.unionAll(mut)


def q_dedup_fuzzy_levenshtein(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance near-dup pairs, sub-quadratic end to end:
    capped-shingle candidate generation → banded Levenshtein verify.

    Candidates = pairs sharing ≥1 shingle whose document frequency is
    ≤ ``FUZZY_MAX_DF`` (w=5 word shingles, the same posting-list shape
    as ``dedup_ngram_jaccard_capped``): per-shingle pair fan-out is
    bounded by df·(df-1)/2 ≤ 190, so candidate count is O(shingles),
    linear in the corpus. An earlier formulation blocked on
    (lang, len_bucket) — constant block COUNT, so block SIZE grew O(n)
    and the self-join was quadratic at scale; this one replaces the
    blocking front-end with the sub-quadratic machinery the repo
    already uses for jaccard dedup, exactly the composition
    ``dedup_fuzzy_clusters`` runs.

    Verify: Spark's three-arg ``levenshtein(l, r, threshold)`` runs the
    banded O(n·k) DP and returns -1 past the threshold — linear per
    pair. Distance is computed on the first 96 chars (the standard
    cheap prefilter stage; survivors would go to a full verify in the
    dedup pipeline). Contract change vs the blocked form: docs shorter
    than 5 tokens yield no shingles and thus no pairs — at production
    scale sub-5-token docs are filtered by the quality gate anyway."""
    aug = _fuzzy_augmented(spark, sf)
    sh = shingles_of(aug, 5)
    posts = sh.groupBy("shingle").agg(F.collect_list("doc_id").alias("ds"))
    cand = (
        posts.filter((F.size("ds") > 1) & (F.size("ds") <= FUZZY_MAX_DF))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds) - i - 1), "
                    "y -> struct(least(x, y) AS d1, greatest(x, y) AS d2))))"
                )
            ).alias("p")
        )
        .select("p.d1", "p.d2")
        .distinct()
    )
    # pref is referenced by BOTH verify-join sides, and each lazy reference
    # replayed the 2-branch augmented-union corpus scan — materialize the
    # narrow (id, 96-char prefix) frame once (6 documents scans → 4)
    pref = aug.select(
        "doc_id", F.substring("text", 1, 96).alias("prefix")
    ).localCheckpoint(eager=True)
    pa, pb = pref.alias("pa"), pref.alias("pb")
    lev = F.levenshtein(F.col("pa.prefix"), F.col("pb.prefix"), 24)
    return (
        cand.join(pa, F.col("d1") == F.col("pa.doc_id"))
        .join(pb, F.col("d2") == F.col("pb.doc_id"))
        .select("d1", "d2", lev.alias("edit_distance"))
        .filter(F.col("edit_distance") >= 0)
    )


# the augmented-corpus shingle CTE prefix shared by the two fuzzy
# oracles (lockstep with _fuzzy_augmented + shingles_of on the Spark side,
# same tokenizer contract as SQL_SHINGLE_SIZES_CTE)
SQL_FUZZY_AUG_SHINGLES_CTE = f"""aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT -doc_id - 1, replace(text, ' data ', ' dataa ')
  FROM documents WHERE doc_id % 11 = 0
),
toks AS (
  SELECT doc_id,
    {SQL_TOKENS} AS ts
  FROM aug
),
sh AS (
  SELECT DISTINCT doc_id,
    ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] AS shingle
  FROM toks, range(1, 100000) r(i)
  WHERE i + 4 <= len(ts)
)"""


SQL_DEDUP_FUZZY_LEVENSHTEIN = f"""
WITH {SQL_FUZZY_AUG_SHINGLES_CTE},
df AS (SELECT shingle, COUNT(*) AS c FROM sh GROUP BY 1),
capped AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN df USING (shingle)
  WHERE df.c <= {FUZZY_MAX_DF}
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
pref AS (SELECT doc_id, substring(text, 1, 96) AS prefix FROM aug)
SELECT d1, d2,
       CAST(levenshtein(pa.prefix, pb.prefix) AS INTEGER) AS edit_distance
FROM cand
JOIN pref pa ON pa.doc_id = d1
JOIN pref pb ON pb.doc_id = d2
WHERE levenshtein(pa.prefix, pb.prefix) <= 24
"""


def q_dedup_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means cluster the embedding
    space, then drop near-duplicate vectors inside each cluster —
    the semantic-level dedup that hash/shingle methods can't see.
    Deterministic (first-k init, fixed iterations, greedy-by-id keep),
    but k-means is not SQL-expressible → rows-only driver check; the
    keep-rule invariants are asserted exactly in
    tests/test_dedup_similarity.py. Quadratic pair scan runs per
    CLUSTER (÷k), driver holds only k×dim floats."""
    from ..operators.dedup import semantic_dedup

    return semantic_dedup(table(spark, sf, "embeddings"), k=8, threshold=0.25)


def q_dedup_fuzzy_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """The production fuzzy-dedup pipeline END-TO-END (the
    RefinedWeb/Pile recipe): capped-shingle candidates → exact-Jaccard
    verification (J ≥ 0.5, the ``dedup_ngram_jaccard_capped`` pair
    semantics at the production cap) →
    connected components → keeper = the cluster's minimum doc_id. The
    sibling ``dedup_clusters`` groups EXACT duplicates, whose
    components are cliques with a closed-form oracle; here edges are
    near-dup pairs, so components are genuine graphs and the oracle is
    a recursive CTE computing each doc's minimum reachable id over the
    symmetric edge set — the iterative Spark loop
    (operators/dedup.py::connected_components, min-label propagation
    with localCheckpoint lineage truncation) is hash-verified against
    a true fixpoint, not a shortcut.

    Scale: pair generation is the capped-posting-list shape with the
    production ``max_df`` cap APPLIED (``FUZZY_MAX_DF``, mirrored in
    the oracle's df CTE — same lockstep as the capped-jaccard pair),
    so per-shingle pair fan-out is bounded df·(df-1)/2 at any corpus
    size; CC moves O(edges) rows per round and dedup graphs are
    near-cliques, converging in 2-3 rounds. Every doc appears in the
    output (singletons keep themselves) — the full keep/drop decision
    a curation pipeline consumes downstream."""
    from ..operators.dedup import connected_components, jaccard_pairs

    pairs = jaccard_pairs(
        shingles(spark, sf, 5), threshold=0.5, max_df=FUZZY_MAX_DF
    )
    edges = pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
    nodes = table(spark, sf, "documents").select(F.col("doc_id").alias("node"))
    cc = connected_components(edges, nodes)
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_kept"),
    )


SQL_DEDUP_FUZZY_CLUSTERS = f"""
WITH RECURSIVE {SQL_SHINGLE_SIZES_CTE},
fdf AS (SELECT shingle, COUNT(*) AS c FROM sh GROUP BY 1),
fcapped AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN fdf USING (shingle)
  WHERE fdf.c <= {FUZZY_MAX_DF}
),
p0 AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM fcapped a JOIN fcapped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT d1 AS a, d2 AS b
  FROM p0
  JOIN sizes sa ON sa.doc_id = d1
  JOIN sizes sb ON sb.doc_id = d2
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5
),
sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
reach(node, anc) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.node, s.b
  FROM reach r JOIN sym s ON s.a = r.anc
)
SELECT node AS doc_id, MIN(anc) AS cluster_id,
  (node = MIN(anc)) AS is_kept
FROM reach GROUP BY node
"""


# (rows-per-band r, bands b): every power-of-two split of the 128-perm
# budget the production sketch already pays for (dedup_minhash_lsh)
BAND_CONFIGS = ((4, 32), (8, 16), (16, 8), (32, 4))
TUNE_MAX_DF = 20  # the production posting-list cap (dedup_containment's)
TUNE_TARGET_J = 0.5  # the committed near-dup threshold


def _square_chain(df: DataFrame, col: str, upto: int) -> DataFrame:
    """Add columns {col}2, {col}4, … {col}{upto} by repeated squaring."""
    k = 1
    prev = col
    while k * 2 <= upto:
        k *= 2
        df = df.withColumn(f"{col}{k}", F.col(prev) * F.col(prev))
        prev = f"{col}{k}"
    return df


def q_minhash_band_analysis(spark: SparkSession, sf: str) -> DataFrame:
    """For each (r, b) with r·b = 128: expected LSH recall on pairs
    with J ≥ {TUNE_TARGET_J} and expected false-candidate rate on
    pairs below it, from P(candidate) = 1 − (1 − J^r)^b evaluated at
    every candidate pair's TRUE Jaccard (capped posting lists at
    df ≤ {TUNE_MAX_DF}, true uncapped denominators — the
    ``dedup_ngram_jaccard_capped`` recipe with threshold 0, so the
    sub-0.5 tail is present to price false candidates).

    Scale shape: the pair scan is the capped posting-list pass the
    dedup pipeline already runs (bounded df·(df−1)/2 fan-out); the
    config grid is a 4-row broadcast over the pairs-sized frame; the
    report agg has 4 keys. Tuning costs one dedup-candidate pass,
    not one dedup run per candidate config."""
    from ..operators.dedup import jaccard_pairs

    pairs = jaccard_pairs(
        shingles(spark, sf, 5), threshold=0.0, max_df=TUNE_MAX_DF
    ).select(F.col("jaccard").alias("j"))
    pj = _square_chain(pairs, "j", 32)
    cfg = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("r"), F.lit(b).alias("bands"))
                    for r, b in BAND_CONFIGS
                ]
            )
        ).alias("c")
    ).select("c.r", "c.bands")
    jr = (
        F.when(F.col("r") == 4, F.col("j4"))
        .when(F.col("r") == 8, F.col("j8"))
        .when(F.col("r") == 16, F.col("j16"))
        .otherwise(F.col("j32"))
    )
    ex = pj.crossJoin(F.broadcast(cfg)).withColumn(
        "x", F.lit(1.0) - jr
    )
    ex = _square_chain(ex, "x", 32)
    xb = (
        F.when(F.col("bands") == 4, F.col("x4"))
        .when(F.col("bands") == 8, F.col("x8"))
        .when(F.col("bands") == 16, F.col("x16"))
        .otherwise(F.col("x32"))
    )
    p9 = F.round(F.lit(1.0) - xb, 9)
    hi = F.col("j") >= TUNE_TARGET_J
    scored = ex.select("r", "bands", "j", p9.alias("p"))
    agg = scored.groupBy("r", "bands").agg(
        F.sum(hi.cast("long")).alias("n_high"),
        F.sum((~hi).cast("long")).alias("n_low"),
        F.sum(F.when(hi, F.col("p").cast("decimal(18,9)")))
        .cast("double")
        .alias("eh"),
        F.coalesce(
            F.sum(F.when(~hi, F.col("p").cast("decimal(18,9)"))).cast("double"),
            F.lit(0.0),
        ).alias("el"),
    )
    return agg.select(
        "r",
        "bands",
        "n_high",
        "n_low",
        F.round("eh", 6).alias("exp_found_high"),
        F.round("el", 6).alias("exp_found_low"),
        F.round(F.col("eh") / F.col("n_high"), 6).alias("expected_recall"),
        F.when(
            F.col("n_low") > 0, F.round(F.col("el") / F.col("n_low"), 6)
        ).otherwise(F.lit(0.0)).alias("expected_false_rate"),
    )


def _band_oracle() -> str:
    # repeated-squaring CTE chains (never pow(): libm last-ulp risk)
    jsq = (
        "j1 AS (SELECT j, j*j AS j2 FROM pj),"
        " j2c AS (SELECT *, j2*j2 AS j4 FROM j1),"
        " j3c AS (SELECT *, j4*j4 AS j8 FROM j2c),"
        " j4c AS (SELECT *, j8*j8 AS j16 FROM j3c),"
        " jx AS (SELECT *, j16*j16 AS j32 FROM j4c)"
    )
    xsq = (
        "x1 AS (SELECT r, bands, j, 1.0 - jr AS x FROM ex),"
        " x2c AS (SELECT *, x*x AS x2 FROM x1),"
        " x3c AS (SELECT *, x2*x2 AS x4 FROM x2c),"
        " x4c AS (SELECT *, x4*x4 AS x8 FROM x3c),"
        " x5c AS (SELECT *, x8*x8 AS x16 FROM x4c),"
        " xx AS (SELECT *, x16*x16 AS x32 FROM x5c)"
    )
    values = ", ".join(f"({r}, {b})" for r, b in BAND_CONFIGS)
    return f"""
WITH {SQL_SHINGLE_SIZES_CTE},
df AS (SELECT shingle, COUNT(*) AS c FROM sh GROUP BY 1),
capped AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN df USING (shingle)
  WHERE df.c BETWEEN 2 AND {TUNE_MAX_DF}
),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pj AS (
  SELECT inter * 1.0 / (sa.n + sb.n - inter) AS j
  FROM pairs
  JOIN sizes sa ON sa.doc_id = d1
  JOIN sizes sb ON sb.doc_id = d2
),
{jsq},
cfg AS (SELECT * FROM (VALUES {values}) AS t(r, bands)),
ex AS (
  SELECT cfg.r, cfg.bands, jx.j,
    CASE cfg.r WHEN 4 THEN j4 WHEN 8 THEN j8 WHEN 16 THEN j16 ELSE j32 END AS jr
  FROM jx, cfg
),
{xsq},
scored AS (
  SELECT r, bands, j,
    ROUND(1.0 - CASE bands WHEN 4 THEN x4 WHEN 8 THEN x8 WHEN 16 THEN x16
                ELSE x32 END, 9) AS p
  FROM xx
),
agg AS (
  SELECT r, bands,
    CAST(SUM(CASE WHEN j >= {TUNE_TARGET_J} THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
    CAST(SUM(CASE WHEN j < {TUNE_TARGET_J} THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
    CAST(SUM(CASE WHEN j >= {TUNE_TARGET_J} THEN CAST(p AS DECIMAL(18,9)) END)
      AS DOUBLE) AS eh,
    coalesce(CAST(SUM(CASE WHEN j < {TUNE_TARGET_J}
      THEN CAST(p AS DECIMAL(18,9)) END) AS DOUBLE), 0.0) AS el
  FROM scored GROUP BY r, bands
)
SELECT CAST(r AS INTEGER) AS r, CAST(bands AS INTEGER) AS bands, n_high, n_low,
  ROUND(eh, 6) AS exp_found_high,
  ROUND(el, 6) AS exp_found_low,
  ROUND(eh / n_high, 6) AS expected_recall,
  CASE WHEN n_low > 0 THEN ROUND(el / n_low, 6) ELSE 0.0 END
    AS expected_false_rate
FROM agg
"""


SQL_MINHASH_BAND_ANALYSIS = _band_oracle()


QUERIES: dict[str, Query] = {
    "dedup_repeated_substrings": Query(
        q_dedup_repeated_substrings, SQL_DEDUP_REPEATED_SUBSTRINGS
    ),
    "dedup_containment": Query(q_dedup_containment, SQL_DEDUP_CONTAINMENT),
    "dedup_span_removal": Query(q_dedup_span_removal, SQL_DEDUP_SPAN_REMOVAL),
    "dedup_line_level": Query(q_dedup_line_level, SQL_DEDUP_LINE_LEVEL),
    "dedup_incremental": Query(q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    # The oracle is the PLAIN pair join at the same threshold: prefix
    # filtering is provably lossless, so hash-equality against the
    # unoptimized formulation is the whole point of the entry.
    "dedup_prefix_filter_pairs": Query(
        q_prefix_filter_pairs, SQL_DEDUP_NGRAM_JACCARD
    ),
    "dedup_cluster_stats": Query(q_dedup_cluster_stats, SQL_DEDUP_CLUSTER_STATS),
    "dedup_cluster_representatives": Query(
        q_dedup_cluster_representatives, SQL_DEDUP_CLUSTER_REPRESENTATIVES
    ),
    "dedup_exact": Query(q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_semantic": Query(q_dedup_semantic, None),
    "dedup_keep_first": Query(q_dedup_keep_first, SQL_DEDUP_KEEP_FIRST),
    "dedup_clusters": Query(q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "dedup_ngram_jaccard": Query(q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "dedup_ngram_jaccard_capped": Query(
        q_dedup_ngram_jaccard_capped, SQL_DEDUP_NGRAM_JACCARD_CAPPED
    ),
    "dedup_fuzzy_levenshtein": Query(
        q_dedup_fuzzy_levenshtein, SQL_DEDUP_FUZZY_LEVENSHTEIN
    ),
    "dedup_minhash_lsh": Query(q_dedup_minhash_lsh, None),
    "dedup_simhash": Query(q_dedup_simhash, None),
    "dedup_embedding_cosine": Query(q_dedup_embedding_cosine, SQL_DEDUP_EMBEDDING_COSINE),
    "dedup_semantic_graded": Query(q_dedup_semantic_graded, SQL_DEDUP_SEMANTIC_GRADED),
    "dedup_fuzzy_clusters": Query(q_dedup_fuzzy_clusters, SQL_DEDUP_FUZZY_CLUSTERS),
    "minhash_band_analysis": Query(
        q_minhash_band_analysis, SQL_MINHASH_BAND_ANALYSIS
    ),
}
