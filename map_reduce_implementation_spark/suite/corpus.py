"""Corpus statistics over the token stream: unigram, bigram and
Kneser-Ney language-model scores, Zipf fit, Good-Turing mass, entropy
rates, mutual information, PMI collocations, Jensen-Shannon divergence
between sources, n-gram saturation, burstiness, hapax share, TF-IDF and
top bigrams.

Determinism: counts are exact integers; probabilities and entropies are
identical closed-form double expressions of them in both engines, with
per-document means rounded after the sum (the unigram-NLL recipe).
The Kneser-Ney discount 0.75 is dyadic, so it has no decimal boundary
exposure. The Zipf fit quantises ln(rank) and ln(freq) to integers
(``floor(x·1e7 + 0.5)``) so every sum is exact. Collapsible
denominators carry the same CASE guard in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import tokens
from ..sources import table
from .base import (
    SQL_TOKENS,
    SQL_UNIGRAM_NLL_CTE,
    Query,
    bigrams,
    md5_bucket,
    unigram_avg_nll,
)


def q_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc top-3 salient terms by tf·idf (idf = ln(N/df)). Two
    shuffles — (doc,term) term frequencies, then term document
    frequencies joined back — plus a per-doc top-k window. The df side
    is a small dictionary (vocab-sized) → broadcast back to the tf
    stream at scale. Deterministic tie-break (score desc, term asc)."""
    d = table(spark, sf, "documents")
    n_docs = d.count()  # scalar, one tiny job — the oracle inlines COUNT(*)
    # tf feeds two consumers (the df dictionary aggregate AND the scored
    # join) — lazily it was replayed per consumer, re-tokenizing the corpus
    # twice. Materialize the (doc, term) cells once; everything downstream
    # is cell-sized, and at 100 TB the second corpus pass disappears.
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(df_), "term").select(
        "doc_id",
        "term",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id",
            "term",
            F.round("score", 6).alias("tfidf"),
            F.col("rk").alias("term_rank"),
        )
    )


SQL_TFIDF_TOP_TERMS = f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
    tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS score
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
)
SELECT doc_id, term, ROUND(score, 6) AS tfidf, CAST(rk AS INTEGER) AS term_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
  FROM scored
) WHERE rk <= 3
"""


# ln(2) as an exact double literal shared by both engines (dividing by
# an engine-evaluated ln(2) would bet on two libm's agreeing; a literal
# doesn't)
_LN2 = 0.6931471805599453


def q_text_char_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Character-level Shannon entropy per document, in bits — the
    cheap gibberish/boilerplate gate (very low entropy = repeated
    filler, very high = random noise; both are cut before tokenization
    ever runs).

    Plan: one char explode (map-side), one (doc, char)-keyed count,
    one doc-keyed sequential fold over the ≤|alphabet| per-doc terms —
    all uniform keys, nothing driver-side. The p·ln p term is computed
    per (doc, char) row with identical double ops in both engines and
    summed in char order (array_sort fold == list_sum(list ORDER BY)),
    the suite's standard deterministic-float idiom."""
    d = table(spark, sf, "documents")
    chars = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("text")),
                lambda i: F.lower("text").substr(i, F.lit(1)),
            )
        ).alias("ch"),
    )
    cc = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("cnt"))
    tot = cc.groupBy("doc_id").agg(F.sum("cnt").alias("n"))
    terms = cc.join(tot, "doc_id").select(
        "doc_id",
        "ch",
        "n",
        (
            (F.col("cnt") / F.col("n"))
            * F.log(F.col("cnt") / F.col("n"))
        ).alias("term"),
    )
    return (
        terms.groupBy("doc_id")
        .agg(
            F.max("n").alias("n_chars"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.collect_list(F.struct("ch", "term")).alias("parts"),
        )
        .select(
            "doc_id",
            "n_chars",
            "n_distinct_chars",
            F.round(
                -F.aggregate(
                    F.array_sort("parts"),
                    F.lit(0.0),
                    lambda acc, s: acc + s["term"],
                )
                / F.lit(_LN2),
                9,
            ).alias("entropy_bits"),
        )
    )


SQL_TEXT_CHAR_ENTROPY = f"""
WITH chars AS (
  SELECT doc_id, substr(lower(text), CAST(i AS INTEGER), 1) AS ch
  FROM documents, range(1, 100000) r(i)
  WHERE i <= len(text)
),
cc AS (SELECT doc_id, ch, COUNT(*) AS cnt FROM chars GROUP BY 1, 2),
tot AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n FROM cc GROUP BY 1),
terms AS (
  SELECT cc.doc_id, cc.ch, tot.n,
    (cc.cnt / CAST(tot.n AS DOUBLE)) * ln(cc.cnt / CAST(tot.n AS DOUBLE)) AS term
  FROM cc JOIN tot USING (doc_id)
)
SELECT doc_id, MAX(n) AS n_chars,
  COUNT(*) AS n_distinct_chars,
  ROUND(-list_sum(list(term ORDER BY ch)) / {_LN2!r}, 9) AS entropy_bits
FROM terms GROUP BY doc_id
"""


KN_DISCOUNT = 0.75  # Chen & Goodman's fixed absolute discount
ZIPF_TOP = 500  # rank-frequency fit over the top-500 terms


def q_kneser_ney_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram score per document: average
    −ln P_KN(cur|prev) with fixed discount D={KN_DISCOUNT},

        P_KN(w₂|w₁) = (c(w₁w₂) − D)/c(w₁·)
                      + D·N₁₊(w₁·)/c(w₁·) · N₁₊(·w₂)/N₁₊(··)

    where N₁₊(w₁·)/N₁₊(·w₂) are the distinct-successor/-predecessor
    counts and N₁₊(··) the distinct-bigram-type total (the continuation
    distribution — "how many contexts does w₂ complete" — the insight
    that makes KN the default smoothing in KenLM-class filters; only
    seen bigrams are scored, so the discounted term is ≥ 1 − D > 0).

    Plan: ONE corpus pass builds the bigram-type count table c₂
    (zip_with shifted slices — no shuffle to form pairs), which is
    localCheckpoint'd; ALL four model statistics (context totals,
    successor/predecessor type counts, the type-total scalar) are then
    vocabulary-bounded aggregates of c₂ — zero further corpus scans
    for the model. Scoring re-joins the broadcast model to the pair
    stream (corpus pass two) and ends in one doc-keyed agg. The type
    total rides a 1-row broadcast frame; nothing collects."""
    d = table(spark, sf, "documents")
    ts = tokens(F.col("text"))
    pairs = d.select("doc_id", F.explode(bigrams(ts)).alias("b")).select(
        "doc_id", "b.prev", "b.cur"
    )
    c2 = (
        pairs.groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("n2"))
        .localCheckpoint(eager=True)
    )
    ctx = c2.groupBy("prev").agg(
        F.sum("n2").alias("n1"), F.count(F.lit(1)).alias("n1fw")
    )
    prec = c2.groupBy("cur").agg(F.count(F.lit(1)).alias("nprec"))
    types = c2.agg(F.count(F.lit(1)).alias("ntypes"))
    model = (
        c2.join(ctx, "prev")
        .join(prec, "cur")
        .crossJoin(F.broadcast(types))
        .select(
            "prev",
            "cur",
            (
                (F.col("n2") - F.lit(KN_DISCOUNT)) / F.col("n1")
                + F.lit(KN_DISCOUNT) * F.col("n1fw") / F.col("n1")
                * (F.col("nprec") / F.col("ntypes"))
            ).alias("p_kn"),
        )
    )
    return (
        pairs.join(F.broadcast(model), ["prev", "cur"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                -F.sum(F.log("p_kn")) / F.count(F.lit(1)), 6
            ).alias("avg_nll_kn"),
        )
    )


SQL_KNESER_NEY_LOGPROB = f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKENS} AS toks
  FROM documents
), bg AS (
  SELECT doc_id, unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS b
  FROM t WHERE len(toks) >= 2
), pairs AS (
  SELECT doc_id, b[1] AS prev, b[2] AS cur FROM bg
),
c2 AS (SELECT prev, cur, COUNT(*) AS n2 FROM pairs GROUP BY 1, 2),
ctx AS (
  SELECT prev, CAST(SUM(n2) AS BIGINT) AS n1, COUNT(*) AS n1fw
  FROM c2 GROUP BY prev
),
prec AS (SELECT cur, COUNT(*) AS nprec FROM c2 GROUP BY cur),
types AS (SELECT COUNT(*) AS ntypes FROM c2),
model AS (
  SELECT c2.prev, c2.cur,
    (n2 - CAST({KN_DISCOUNT} AS DOUBLE)) / n1
      + CAST({KN_DISCOUNT} AS DOUBLE) * n1fw / n1
      * (nprec * 1.0 / ntypes) AS p_kn
  FROM c2
  JOIN ctx ON c2.prev = ctx.prev
  JOIN prec ON c2.cur = prec.cur
  CROSS JOIN types
)
SELECT p.doc_id, COUNT(*) AS n_bigrams,
  ROUND(-SUM(ln(p_kn)) / COUNT(*), 6) AS avg_nll_kn
FROM pairs p JOIN model m ON p.prev = m.prev AND p.cur = m.cur
GROUP BY p.doc_id
"""


def q_zipf_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf rank-frequency fit: OLS of ln(freq) on ln(rank) over the
    top-{ZIPF_TOP} corpus terms — slope, intercept, and R² in one row.
    Natural text sits near slope −1 (Zipf 1949); templated or
    synthetic corpora flatten or kink the curve, so the slope is a
    one-glance corpus-health gate (cf. the corpus statistics tables in
    Gopher, Rae et al. 2021 App. A).

    Plan: term frequencies are one vocabulary-sized aggregate; the
    top-{ZIPF_TOP} cut is a TakeOrderedAndProject (per-partition
    heaps), so the ranking window runs on ≤{ZIPF_TOP} rows — the
    vocab_coverage pattern, never an entity-sized global window.
    ln(rank)/ln(freq) are quantized to integers (floor(x·1e7 + 0.5))
    before the five OLS sums, making every SUM exact and
    order-independent; the closed-form slope/intercept/R² are then
    single identical double expressions in both engines."""
    d = table(spark, sf, "documents")
    tok = d.select(F.explode(tokens(F.col("text"))).alias("term"))
    ctf = tok.groupBy("term").agg(F.count(F.lit(1)).alias("ctf"))
    top = ctf.orderBy(F.desc("ctf"), F.asc("term")).limit(ZIPF_TOP)
    w = Window.orderBy(F.desc("ctf"), F.asc("term"))
    ranked = top.select(F.row_number().over(w).alias("rank"), "ctf")

    def quant(c: Column) -> Column:
        return F.floor(F.log(c) * F.lit(1e7) + F.lit(0.5)).cast("long")

    xy = ranked.select(
        quant(F.col("rank")).alias("x"), quant(F.col("ctf")).alias("y")
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n_terms").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    num = nd * sxy - sx * sy
    den = nd * sxx - sx * sx
    deny = nd * syy - sy * sy
    # degenerate-corpus guards (single term → den = 0; constant
    # frequencies → deny = 0): NULL instead of an engine-dependent
    # NaN-vs-NULL 0/0 — the CASE mirrors the oracle exactly
    return s.select(
        "n_terms",
        F.round(F.when(den > 0, num / den), 6).alias("slope"),
        F.round(
            F.when(den > 0, (sy - (num / den) * sx) / (nd * F.lit(1e7))), 6
        ).alias("intercept"),
        F.round(
            F.when((den > 0) & (deny > 0), num * num / (den * deny)), 6
        ).alias("r2"),
    )


SQL_ZIPF_FIT = f"""
WITH tok AS (
  SELECT unnest({SQL_TOKENS}) AS term
  FROM documents
),
ctf AS (SELECT term, COUNT(*) AS ctf FROM tok GROUP BY term),
top AS (SELECT * FROM ctf ORDER BY ctf DESC, term ASC LIMIT {ZIPF_TOP}),
ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY ctf DESC, term ASC) AS rank, ctf
  FROM top
),
xy AS (
  SELECT CAST(floor(ln(rank) * 1e7 + 0.5) AS BIGINT) AS x,
    CAST(floor(ln(ctf) * 1e7 + 0.5) AS BIGINT) AS y
  FROM ranked
),
s AS (
  SELECT COUNT(*) AS n_terms,
    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy,
    CAST(SUM(y * y) AS BIGINT) AS syy
  FROM xy
),
d AS (
  SELECT n_terms,
    CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
    CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
    CAST(n_terms AS DOUBLE) * CAST(syy AS DOUBLE)
      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny,
    CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd,
    CAST(n_terms AS DOUBLE) AS nd
  FROM s
)
SELECT n_terms,
  ROUND(CASE WHEN den > 0 THEN num / den END, 6) AS slope,
  ROUND(CASE WHEN den > 0
    THEN (syd - (num / den) * sxd) / (nd * 1e7) END, 6) AS intercept,
  ROUND(CASE WHEN den > 0 AND deny > 0
    THEN num * num / (den * deny) END, 6) AS r2
FROM d
"""


SAT_BATCHES = 10  # ingestion batches for the saturation curve


def q_ngram_saturation(spark: SparkSession, sf: str) -> DataFrame:
    """N-gram saturation curve — the "will more of this source help?"
    diminishing-returns audit (Heaps' law, empirically): docs are
    assigned to {SAT_BATCHES} deterministic ingestion batches (the
    stored-nothing md5 recipe from ``dataset_split``), each distinct
    bigram is charged to the FIRST batch that contains it, and the
    per-batch report shows total bigram instances, newly-seen distinct
    bigrams, and the cumulative share of the final vocabulary — a
    flattening curve says the source has stopped contributing novelty.

    Plan: one corpus pass to bigrams, one gram-keyed MIN(batch)
    aggregate (the distinct-type charge), one {SAT_BATCHES}-row
    cumulative window — nothing after the first aggregate scales with
    the corpus."""
    d = table(spark, sf, "documents")
    ts = tokens(F.col("text"))

    batch = md5_bucket("sat|", F.col("doc_id").cast("string"), SAT_BATCHES)
    grams = d.select(
        batch.alias("batch"), F.explode(bigrams(ts)).alias("b")
    ).select("batch", F.concat_ws(" ", "b.prev", "b.cur").alias("gram"))
    # ONE (batch, gram) cell aggregate (map-side combined) is materialized
    # and both model frames derive from it by exact integer identities
    # (first_batch = MIN over the gram's batches, instance counts = Σ cell
    # counts per batch) — one corpus tokenization instead of two, and the
    # shuffle carries cells, not raw gram instances.
    cells = (
        grams.groupBy("batch", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    per_gram = cells.groupBy("gram").agg(
        F.min("batch").alias("first_batch"), F.sum("cnt").alias("cnt")
    )
    instance_counts = cells.groupBy("batch").agg(
        F.sum("cnt").alias("n_instances")
    )
    novelty = per_gram.groupBy("first_batch").agg(
        F.count(F.lit(1)).alias("n_new_grams")
    )
    w_cum = Window.orderBy("batch").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    return (
        instance_counts.join(
            novelty,
            instance_counts["batch"] == novelty["first_batch"],
            "left",
        )
        .select(
            "batch",
            "n_instances",
            F.coalesce(F.col("n_new_grams"), F.lit(0)).alias("n_new_grams"),
        )
        .select(
            "batch",
            "n_instances",
            "n_new_grams",
            F.round(
                F.sum("n_new_grams").over(w_cum)
                / F.sum("n_new_grams").over(w_all),
                6,
            ).alias("cum_vocab_share"),
        )
    )


SQL_NGRAM_SATURATION = f"""
WITH t AS (
  SELECT ('0x' || substr(md5('sat|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      % {SAT_BATCHES} AS batch,
    {SQL_TOKENS} AS toks
  FROM documents
), bg AS (
  SELECT batch, unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS b
  FROM t WHERE len(toks) >= 2
),
grams AS (SELECT batch, b[1] || ' ' || b[2] AS gram FROM bg),
per_gram AS (
  SELECT gram, MIN(batch) AS first_batch FROM grams GROUP BY gram
),
instance_counts AS (
  SELECT batch, COUNT(*) AS n_instances FROM grams GROUP BY batch
),
novelty AS (
  SELECT first_batch, COUNT(*) AS n_new_grams FROM per_gram GROUP BY 1
)
SELECT i.batch, i.n_instances,
  CAST(coalesce(n.n_new_grams, 0) AS BIGINT) AS n_new_grams,
  ROUND(
    SUM(coalesce(n.n_new_grams, 0)) OVER (ORDER BY i.batch
      ROWS UNBOUNDED PRECEDING) * 1.0
    / SUM(coalesce(n.n_new_grams, 0)) OVER (), 6) AS cum_vocab_share
FROM instance_counts i LEFT JOIN novelty n ON i.batch = n.first_batch
"""


JSD_TOP_TERMS = 100
JSD_OOV = "__oov__"
GT_MAX_R = 3


WINSOR_LO = 0.05
WINSOR_HI = 0.95


def q_corpus_jsd_sources(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise JSD (nats) between source unigram distributions over
    the top-{JSD_TOP_TERMS} global terms + OOV, via the entropy
    identity JSD = H(m) − (H(p)+H(q))/2 on a DENSE source×term grid
    (zero cells materialized, so the pair join is a plain inner join —
    no full-outer alignment).

    Plan: ONE corpus tokenization collapses straight to the
    (source, term) count frame — map-side partial agg, the token
    stream itself never materializes — and that |sources|·|vocab|
    frame (localCheckpoint'd) feeds both the global top-K cut
    (TakeOrderedAndProject, ties broken on term) and the OOV-bucketed
    cell counts; the grid is |sources|·(K+1) rows, every later step is
    grid-space and the pair join runs on a broadcast grid.
    Probabilities are exact-integer ratios; entropy terms are guarded
    p>0 identically in both engines."""
    d = table(spark, sf, "documents")
    st = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n_st"))
        .localCheckpoint(eager=True)
    )
    top = (
        st.groupBy("term")
        .agg(F.sum("n_st").alias("c"))
        .orderBy(F.desc("c"), F.asc("term"))
        .limit(JSD_TOP_TERMS)
        .select("term")
    )
    counts = (
        st.join(F.broadcast(top.withColumn("hit", F.lit(1))), "term", "left")
        .select(
            "source",
            F.when(F.col("hit").isNotNull(), F.col("term"))
            .otherwise(F.lit(JSD_OOV))
            .alias("cell"),
            "n_st",
        )
        .groupBy("source", "cell")
        .agg(F.sum("n_st").alias("n_sc"))
    )
    totals = counts.groupBy("source").agg(F.sum("n_sc").alias("n_s"))
    cells = top.select("term").union(
        spark.createDataFrame([(JSD_OOV,)], "term string")
    )
    grid = (
        totals.crossJoin(F.broadcast(cells))
        .join(
            counts.withColumnRenamed("cell", "term"),
            ["source", "term"],
            "left",
        )
        .select(
            "source",
            "term",
            (F.coalesce(F.col("n_sc"), F.lit(0)) / F.col("n_s")).alias("p"),
        )
        # the |sources|·(K+1)-row grid feeds BOTH sides of the pair
        # self-join — lazily its whole counts→totals→grid subtree (3
        # shuffles over the checkpointed st) was replayed per side (16
        # exchanges / 24 scans at sf0.01). Materialized, the self-join reads
        # a tiny in-memory frame twice: 8 exchanges.
        .localCheckpoint(eager=True)
    )
    a, b = grid.alias("a"), grid.alias("b")
    pairs = a.join(
        b,
        (F.col("a.term") == F.col("b.term"))
        & (F.col("a.source") < F.col("b.source")),
    ).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        F.col("a.p").alias("pa"),
        F.col("b.p").alias("pb"),
    )
    m = (F.col("pa") + F.col("pb")) / 2
    term = (
        F.when(m > 0, -m * F.log(m)).otherwise(F.lit(0.0))
        + F.lit(0.5)
        * F.when(F.col("pa") > 0, F.col("pa") * F.log("pa")).otherwise(
            F.lit(0.0)
        )
        + F.lit(0.5)
        * F.when(F.col("pb") > 0, F.col("pb") * F.log("pb")).otherwise(
            F.lit(0.0)
        )
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.round(F.sum(term), 6).alias("jsd_nats"))
        .orderBy("source_a", "source_b")
    )


SQL_CORPUS_JSD_SOURCES = f"""
WITH st AS (
  SELECT source, term, COUNT(*) AS n_st FROM (
    SELECT source, unnest(list_filter(
      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
    FROM documents
  ) GROUP BY 1, 2
),
top AS (
  SELECT term FROM (
    SELECT term, CAST(SUM(n_st) AS BIGINT) AS c FROM st GROUP BY 1
  ) ORDER BY c DESC, term ASC LIMIT {JSD_TOP_TERMS}
),
counts AS (
  SELECT source,
    CASE WHEN top.term IS NOT NULL THEN st.term
      ELSE '{JSD_OOV}' END AS cell,
    CAST(SUM(n_st) AS BIGINT) AS n_sc
  FROM st LEFT JOIN top ON st.term = top.term
  GROUP BY 1, 2
),
totals AS (
  SELECT source, CAST(SUM(n_sc) AS BIGINT) AS n_s FROM counts GROUP BY 1
),
cells AS (SELECT term FROM top UNION ALL SELECT '{JSD_OOV}'),
grid AS (
  SELECT totals.source, cells.term,
    COALESCE(counts.n_sc, 0) * 1.0 / totals.n_s AS p
  FROM totals CROSS JOIN cells
  LEFT JOIN counts
    ON counts.source = totals.source AND counts.cell = cells.term
)
SELECT a.source AS source_a, b.source AS source_b,
  ROUND(SUM(
    (CASE WHEN (a.p + b.p) / 2 > 0
      THEN -((a.p + b.p) / 2) * ln((a.p + b.p) / 2) ELSE 0.0 END)
    + 0.5 * (CASE WHEN a.p > 0 THEN a.p * ln(a.p) ELSE 0.0 END)
    + 0.5 * (CASE WHEN b.p > 0 THEN b.p * ln(b.p) ELSE 0.0 END)
  ), 6) AS jsd_nats
FROM grid a JOIN grid b
  ON a.term = b.term AND a.source < b.source
GROUP BY 1, 2
ORDER BY 1, 2
"""


def q_corpus_good_turing(spark: SparkSession, sf: str) -> DataFrame:
    """Good-Turing estimates per language: token count N, vocab V,
    hapax/dis counts N₁/N₂, unseen mass P₀ = N₁/N, and smoothed
    r* = (r+1)·N_{r+1}/N_r for r = 1..{GT_MAX_R}.

    Plan: one tokenization → (lang, term) counts → a lang-keyed
    frequency-of-frequencies rollup (|langs|·|distinct counts| cells).
    Every ratio is a SINGLE division of exact integers (bit-exact
    unrounded — the proven recipe); empty N_r denominators are NULL
    via the same CASE in both engines."""
    d = table(spark, sf, "documents")
    tc = (
        d.select("lang", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = tc.groupBy("lang").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        *[
            F.count(F.when(F.col("c") == r, 1)).alias(f"n{r}")
            for r in range(1, GT_MAX_R + 2)
        ],
    )
    cols = [
        F.col("lang"),
        F.col("n_tokens"),
        F.col("vocab"),
        F.col("n1"),
        F.col("n2"),
        (F.col("n1") / F.col("n_tokens")).alias("p0_unseen"),
    ]
    for r in range(1, GT_MAX_R + 1):
        cols.append(
            F.when(
                F.col(f"n{r}") > 0,
                F.lit(r + 1) * F.col(f"n{r + 1}") / F.col(f"n{r}"),
            ).alias(f"rstar_{r}")
        )
    return agg.select(*cols).orderBy("lang")


def _gt_oracle() -> str:
    nr = ",\n    ".join(
        f"COUNT(CASE WHEN c = {r} THEN 1 END) AS n{r}"
        for r in range(1, GT_MAX_R + 2)
    )
    rstars = ",\n  ".join(
        f"CASE WHEN n{r} > 0 THEN {r + 1} * n{r + 1} * 1.0 / n{r} END"
        f" AS rstar_{r}"
        for r in range(1, GT_MAX_R + 1)
    )
    return f"""
WITH tc AS (
  SELECT lang, term, COUNT(*) AS c FROM (
    SELECT lang, unnest(list_filter(
      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
    FROM documents
  ) GROUP BY 1, 2
),
agg AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS vocab,
    {nr}
  FROM tc GROUP BY 1
)
SELECT lang, n_tokens, vocab, n1, n2,
  n1 * 1.0 / n_tokens AS p0_unseen,
  {rstars}
FROM agg ORDER BY lang
"""


def q_text_readability(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language Flesch reading-ease from integer proxies:
    206.835 − 1.015·(W/S) − 84.6·(Syl/W) with W = token count,
    S = sentence-mark runs ([.!?]+, clamped ≥1 per doc), Syl =
    vowel-group runs ([aeiouy]+) — the standard heuristic when no
    dictionary syllabifier is in the loop.

    Plan: three regexp counters in ONE corpus scan (map-side integer
    partials per language; nothing else moves). The score is one
    closed-form double expression of three exact integer sums, with
    the zero-word language guarded identically in both engines."""
    d = table(spark, sf, "documents")
    per_doc = d.select(
        "lang",
        F.size(tokens(F.col("text"))).alias("w"),
        F.greatest(
            F.lit(1), F.regexp_count(F.col("text"), F.lit(r"[.!?]+"))
        ).alias("s"),
        F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+")).alias(
            "syl"
        ),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("n_words"),
        F.sum("s").alias("n_sentences"),
        F.sum("syl").alias("n_syllables"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.when(
                F.col("n_words") > 0,
                F.lit(206.835)
                - F.lit(1.015)
                * (F.col("n_words") / F.col("n_sentences").cast("double"))
                - F.lit(84.6)
                * (F.col("n_syllables") / F.col("n_words").cast("double")),
            ),
            6,
        ).alias("flesch_score"),
    ).orderBy("lang")


SQL_TEXT_READABILITY = """
WITH per_doc AS (
  SELECT lang,
    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      x -> x <> '')) AS w,
    greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS s,
    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syl
  FROM documents
),
agg AS (
  SELECT lang, COUNT(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS n_words,
    CAST(SUM(s) AS BIGINT) AS n_sentences,
    CAST(SUM(syl) AS BIGINT) AS n_syllables
  FROM per_doc GROUP BY 1
)
SELECT lang, n_docs, n_words, n_sentences, n_syllables,
  ROUND(CASE WHEN n_words > 0 THEN
    206.835 - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))
    - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)) END, 6)
    AS flesch_score
FROM agg ORDER BY lang
"""


def q_quality_winsorized_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source winsorized length summary: p05/p95 of n_chars,
    counts clipped at each tail, and the winsorized mean — the
    heavy-tail-robust audit next to ``dataset_profile``'s plain
    moments.

    Determinism: F.percentile == quantile_cont (proven bit-exact);
    clipped values are quantized to integer micro-units BEFORE the
    sum (floor(x·10⁶ + 0.5)) so the mean is a single division of
    exact integers. Plan: a 2-column pruned scan aggregates the
    per-source quantiles; the broadcast join back + final rollup reads
    the same pruned columns — nothing wide ever moves."""
    d = table(spark, sf, "documents").select("source", "n_chars")
    q = d.groupBy("source").agg(
        F.percentile("n_chars", F.lit(WINSOR_LO)).alias("p05"),
        F.percentile("n_chars", F.lit(WINSOR_HI)).alias("p95"),
    )
    j = d.join(F.broadcast(q), "source")
    clip = F.least(
        F.greatest(F.col("n_chars").cast("double"), F.col("p05")),
        F.col("p95"),
    )
    qz = F.floor(clip * 1000000 + F.lit(0.5)).cast("bigint")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.max("p05"), 6).alias("p05"),
            F.round(F.max("p95"), 6).alias("p95"),
            F.count(
                F.when(F.col("n_chars") < F.col("p05"), 1)
            ).alias("n_clipped_low"),
            F.count(
                F.when(F.col("n_chars") > F.col("p95"), 1)
            ).alias("n_clipped_high"),
            (F.sum(qz) / (F.count(F.lit(1)) * F.lit(1000000.0))).alias(
                "raw_mean"
            ),
        )
        .select(
            "source",
            "n_docs",
            "p05",
            "p95",
            "n_clipped_low",
            "n_clipped_high",
            F.round("raw_mean", 6).alias("winsorized_mean"),
        )
        .orderBy("source")
    )


SQL_QUALITY_WINSORIZED_STATS = f"""
WITH q AS (
  SELECT source,
    quantile_cont(n_chars, {WINSOR_LO}) AS p05,
    quantile_cont(n_chars, {WINSOR_HI}) AS p95
  FROM documents GROUP BY 1
),
j AS (
  SELECT d.source, d.n_chars, q.p05, q.p95,
    CAST(floor(least(greatest(CAST(d.n_chars AS DOUBLE), q.p05), q.p95)
      * 1000000 + 0.5) AS BIGINT) AS qz
  FROM documents d JOIN q ON d.source = q.source
)
SELECT source, COUNT(*) AS n_docs,
  ROUND(MAX(p05), 6) AS p05, ROUND(MAX(p95), 6) AS p95,
  COUNT(CASE WHEN n_chars < p05 THEN 1 END) AS n_clipped_low,
  COUNT(CASE WHEN n_chars > p95 THEN 1 END) AS n_clipped_high,
  ROUND(CAST(SUM(qz) AS BIGINT) / (COUNT(*) * 1000000.0), 6)
    AS winsorized_mean
FROM j GROUP BY source ORDER BY source
"""


BURSTY_MIN_DF = 5
BURSTY_TOP_K = 20


def q_term_burstiness(spark: SparkSession, sf: str) -> DataFrame:
    """Top-{BURSTY_TOP_K} bursty terms (df ≥ {BURSTY_MIN_DF}):
    burstiness = cf/df — corpus frequency over document frequency,
    the Church–Gale within-document repetition rate. Ordering is on
    the UNROUNDED single integer division (bit-exact in both engines)
    with a term tie-break.

    Plan: one tokenization → (doc, term) counts (map-side partial) →
    term-keyed aggregate → TakeOrderedAndProject cut. Everything
    after the first aggregate is vocabulary-sized."""
    d = table(spark, sf, "documents")
    dt = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = dt.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("c").alias("cf")
    )
    return (
        agg.filter(F.col("df") >= BURSTY_MIN_DF)
        .select(
            "term",
            "df",
            "cf",
            (F.col("cf") / F.col("df")).alias("burstiness"),
        )
        .orderBy(F.desc("burstiness"), F.asc("term"))
        .limit(BURSTY_TOP_K)
    )


SQL_TERM_BURSTINESS = f"""
WITH dt AS (
  SELECT doc_id, term, COUNT(*) AS c FROM (
    SELECT doc_id, unnest(list_filter(
      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
    FROM documents
  ) GROUP BY 1, 2
),
agg AS (
  SELECT term, COUNT(*) AS df, CAST(SUM(c) AS BIGINT) AS cf
  FROM dt GROUP BY 1
)
SELECT term, df, cf, cf * 1.0 / df AS burstiness
FROM agg WHERE df >= {BURSTY_MIN_DF}
ORDER BY burstiness DESC, term ASC LIMIT {BURSTY_TOP_K}
"""


def q_top_bigrams(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level n-gram statistics: top-50 bigrams by document
    frequency — the vocabulary/contamination census of a training
    corpus. Per-doc dedup (array_distinct) happens BEFORE the explode,
    the aggregate combines map-side, and the final top-k is
    TakeOrderedAndProject — shuffle carries (bigram, partial count)
    pairs only, never raw text."""
    d = table(spark, sf, "documents")
    ts = tokens("text")
    n = F.size(ts)
    bigrams = F.zip_with(
        F.slice(ts, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(ts, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        d.select(F.explode(F.array_distinct(bigrams)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("bigram"))
        .limit(50)
    )


SQL_TOP_BIGRAMS = f"""
WITH t AS (
  SELECT doc_id,
    {SQL_TOKENS} AS ts
  FROM documents
),
b AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, greatest(len(ts), 1)),
                                 i -> ts[i] || ' ' || ts[i + 1])) AS bg
  FROM t
)
SELECT u.bigram AS bigram, COUNT(*) AS doc_freq
FROM b, unnest(bg) AS u(bigram)
GROUP BY u.bigram
ORDER BY doc_freq DESC, bigram ASC
LIMIT 50
"""


def q_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM quality score (the cheap stand-in for the CCNet /
    Gopher perplexity filter): train a corpus unigram model (term →
    corpus frequency) and score each document by its average negative
    log-likelihood. High avg-NLL = rare-token soup (gibberish, OCR
    noise); low = boilerplate.

    Plan: one tokenize pass feeds both the model build (term-keyed agg
    → vocabulary-sized table) and the scoring join; the model is
    **broadcast** back (a vocab fits in MBs even at 100 TB corpus
    scale — Heaps' law), so the token stream is shuffled once (doc-keyed
    final agg), never term-keyed on the scoring side. No OOV mass is
    needed because the model and the scored corpus are the same."""
    return unigram_avg_nll(spark, sf)


SQL_UNIGRAM_LOGPROB = SQL_UNIGRAM_NLL_CTE + """
SELECT doc_id, n_tokens, avg_nll FROM nll
"""


def q_bigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram-LM fluency score: average −ln P(cur|prev) per doc, the
    conditional-probability upgrade of ``text_unigram_logprob`` (the
    CCNet/Gopher perplexity-filter family). Degenerate repeated text
    scores near 0; incoherent token salads score high.

    Plan: bigrams come from ``zip_with`` of shifted token slices — pure
    array expressions, NO shuffle to build pairs (same idiom as
    q_repetition_score). The model is two bounded aggregations (bigram
    and context counts); both broadcast back, so the pair stream
    shuffles once (the doc-keyed final agg). Model size is
    distinct-bigram-bounded; a 100 TB run would add a min-count prune
    before broadcast (the standard LM-filter practice) without changing
    the plan shape.
    """
    d = table(spark, sf, "documents")
    ts = tokens(F.col("text"))
    pairs = (
        d.select("doc_id", F.explode(bigrams(ts)).alias("b"))
        .select("doc_id", "b.prev", "b.cur")
    )
    # 
    # the bigram-type table is materialized once and the context
    # counts derived from IT (sum of n2 over cur == count of pairs
    # with that prev, exact integers) — the corpus is tokenized for
    # the model once instead of twice, and the scoring join-back is
    # the only second pass.
    c2 = (
        pairs.groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("n2"))
        .localCheckpoint(eager=True)
    )
    c1 = c2.groupBy("prev").agg(F.sum("n2").alias("n1"))
    return (
        pairs.join(F.broadcast(c2), ["prev", "cur"])
        .join(F.broadcast(c1), ["prev"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                -F.sum(F.log(F.col("n2").cast("double") / F.col("n1")))
                / F.count(F.lit(1)),
                6,
            ).alias("avg_nll2"),
        )
    )


SQL_BIGRAM_LOGPROB = f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKENS} AS toks
  FROM documents
), bg AS (
  SELECT doc_id, unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS b
  FROM t WHERE len(toks) >= 2
), pairs AS (
  SELECT doc_id, b[1] AS prev, b[2] AS cur FROM bg
), c2 AS (SELECT prev, cur, COUNT(*) AS n2 FROM pairs GROUP BY 1,2),
c1 AS (SELECT prev, COUNT(*) AS n1 FROM pairs GROUP BY 1)
SELECT p.doc_id, COUNT(*) AS n_bigrams,
  ROUND(-SUM(ln(CAST(c2.n2 AS DOUBLE) / c1.n1)) / COUNT(*), 6) AS avg_nll2
FROM pairs p JOIN c2 ON p.prev = c2.prev AND p.cur = c2.cur JOIN c1 ON p.prev = c1.prev
GROUP BY p.doc_id
"""


def q_hapax_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source lexical richness: vocabulary size, hapax legomena
    (terms occurring exactly once IN that source), token total, and
    the hapax share of the vocabulary. One tokenize pass, one
    (source, term)-keyed aggregate, one source-keyed rollup — both
    aggregates map-side combinable, output = |sources| rows."""
    d = table(spark, sf, "documents")
    tok = d.select(
        "source", F.explode(tokens(F.col("text"))).alias("term")
    )
    ctf = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("ctf"))
    return ctf.groupBy("source").agg(
        F.sum("ctf").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.count(F.when(F.col("ctf") == 1, 1)).alias("hapax"),
    ).select(
        "source",
        "n_tokens",
        "vocab",
        "hapax",
        F.round(F.col("hapax") / F.col("vocab"), 6).alias("hapax_ratio"),
    )


SQL_HAPAX_RATIO = f"""
WITH tok AS (
  SELECT source,
    unnest({SQL_TOKENS}) AS term
  FROM documents
),
ctf AS (SELECT source, term, COUNT(*) AS ctf FROM tok GROUP BY 1, 2)
SELECT source,
  CAST(SUM(ctf) AS BIGINT) AS n_tokens,
  COUNT(*) AS vocab,
  CAST(coalesce(SUM(CASE WHEN ctf = 1 THEN 1 END), 0) AS BIGINT) AS hapax,
  ROUND(coalesce(SUM(CASE WHEN ctf = 1 THEN 1 END), 0) * 1.0 / COUNT(*), 6)
    AS hapax_ratio
FROM ctf GROUP BY source
"""


def q_corpus_mutual_information(spark: SparkSession, sf: str) -> DataFrame:
    """I(lang; source) in nats, H(lang), H(source), and the
    min-entropy-normalized MI (0 = independent, 1 = one determines
    the other) — one row.

    Plan: ONE corpus scan to the |langs|×|sources| contingency cells;
    marginals, entropies, and the MI sum are all cell-space work. The
    per-cell term (n_ls/n)·ln(n_ls·n/(r_l·c_s)) uses only exact
    integer inputs; the normalized score guards the single-class case
    (min entropy 0) with an identical CASE in both engines."""
    d = table(spark, sf, "documents")
    cells = (
        d.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_ls"))
        .localCheckpoint(eager=True)
    )
    rows = cells.groupBy("lang").agg(F.sum("n_ls").alias("r_l"))
    cols = cells.groupBy("source").agg(F.sum("n_ls").alias("c_s"))
    tot = cells.agg(F.sum("n_ls").alias("n"))
    joined = (
        cells.join(F.broadcast(rows), "lang")
        .join(F.broadcast(cols), "source")
        .crossJoin(F.broadcast(tot))
    )
    mi = F.sum(
        (F.col("n_ls") / F.col("n"))
        * F.log(
            F.col("n_ls") * F.col("n") / (F.col("r_l") * F.col("c_s"))
        )
    ).alias("mi_raw")
    agg = joined.agg(F.max("n").alias("n_docs"), mi)
    hl = rows.crossJoin(F.broadcast(tot)).agg(
        (
            -F.sum(
                (F.col("r_l") / F.col("n"))
                * F.log(F.col("r_l") / F.col("n"))
            )
        ).alias("h_lang_raw")
    )
    hs = cols.crossJoin(F.broadcast(tot)).agg(
        (
            -F.sum(
                (F.col("c_s") / F.col("n"))
                * F.log(F.col("c_s") / F.col("n"))
            )
        ).alias("h_source_raw")
    )
    out = agg.crossJoin(F.broadcast(hl)).crossJoin(F.broadcast(hs))
    minh = F.least(F.col("h_lang_raw"), F.col("h_source_raw"))
    return out.select(
        "n_docs",
        F.round("mi_raw", 6).alias("mi_nats"),
        F.round("h_lang_raw", 6).alias("h_lang"),
        F.round("h_source_raw", 6).alias("h_source"),
        F.round(
            F.when(minh > 0, F.col("mi_raw") / minh), 6
        ).alias("normalized_mi"),
    )


SQL_CORPUS_MUTUAL_INFORMATION = """
WITH cells AS (
  SELECT lang, source, COUNT(*) AS n_ls FROM documents GROUP BY 1, 2
),
rows_ AS (SELECT lang, CAST(SUM(n_ls) AS BIGINT) AS r_l FROM cells GROUP BY 1),
cols_ AS (SELECT source, CAST(SUM(n_ls) AS BIGINT) AS c_s FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(n_ls) AS BIGINT) AS n FROM cells),
agg AS (
  SELECT MAX(n) AS n_docs,
    SUM((n_ls * 1.0 / n) * ln(n_ls * n * 1.0 / (r_l * c_s))) AS mi_raw
  FROM cells
  JOIN rows_ ON cells.lang = rows_.lang
  JOIN cols_ ON cells.source = cols_.source
  CROSS JOIN tot
),
hl AS (
  SELECT -SUM((r_l * 1.0 / n) * ln(r_l * 1.0 / n)) AS h_lang_raw
  FROM rows_ CROSS JOIN tot
),
hs AS (
  SELECT -SUM((c_s * 1.0 / n) * ln(c_s * 1.0 / n)) AS h_source_raw
  FROM cols_ CROSS JOIN tot
)
SELECT n_docs,
  ROUND(mi_raw, 6) AS mi_nats,
  ROUND(h_lang_raw, 6) AS h_lang,
  ROUND(h_source_raw, 6) AS h_source,
  ROUND(CASE WHEN least(h_lang_raw, h_source_raw) > 0
    THEN mi_raw / least(h_lang_raw, h_source_raw) END, 6) AS normalized_mi
FROM agg CROSS JOIN hl CROSS JOIN hs
"""


PMI_MIN_COUNT = 5  # collocation support floor
PMI_TOP_K = 20


def q_collocations_pmi(spark: SparkSession, sf: str) -> DataFrame:
    """Top-{PMI_TOP_K} collocations by pointwise mutual information
    (Church & Hanks 1990): adjacent pairs with count ≥ {PMI_MIN_COUNT}
    scored by ln(c₁₂·U²/(B·c₁·c₂)) — the pair-level companion to
    ``corpus_mutual_information``'s corpus-level score and the
    classic phrase-mining primitive (tokenizer vocab seeding,
    stopword-phrase discovery).

    Plan: ONE corpus pass yields the pair counts (zip_with, no
    shuffle to form pairs); unigram counts and the two totals are
    aggregates of the same token stream; both model frames broadcast;
    the cut is a TakeOrderedAndProject on (rounded PMI, pair). All
    inputs to the single ln are exact integers."""
    d = table(spark, sf, "documents")
    ts = tokens(F.col("text"))
    pairs = d.select(F.explode(bigrams(ts)).alias("b")).select(
        "b.prev", "b.cur"
    )
    tok = d.select(F.explode(ts).alias("term"))
    # materialize the two vocabulary-sized count tables once and DERIVE the
    # totals from them (utot = Σc over terms, btot = Σc12 over unfiltered
    # pair types — exact integer identities), so each token stream is built
    # once instead of per consumer (3 corpus tokenizations → 2; the
    # remaining two are the distinct unigram/bigram streams).
    c1 = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    u = c1.agg(F.sum("c").alias("utot"))
    c2all = (
        pairs.groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=True)
    )
    c2 = c2all.filter(F.col("c12") >= PMI_MIN_COUNT)
    btot = c2all.agg(F.sum("c12").alias("btot"))
    scored = (
        c2.join(
            F.broadcast(c1.select(F.col("term").alias("prev"), F.col("c").alias("cp"))),
            "prev",
        )
        .join(
            F.broadcast(c1.select(F.col("term").alias("cur"), F.col("c").alias("cc"))),
            "cur",
        )
        .crossJoin(F.broadcast(u))
        .crossJoin(F.broadcast(btot))
        .select(
            "prev",
            "cur",
            F.col("c12").alias("n_pair"),
            # sum-of-logs form: the single-fraction ln(c12·U²/(B·c₁·c₂))
            # overflows the integer product c12·U² once U ~ 1e9+; the
            # decomposition is overflow-free at any scale and its ≤1-ulp
            # per-term differences vanish under ROUND 6 (the
            # unigram-NLL precedent)
            F.round(
                F.log("c12")
                + F.lit(2.0) * F.log("utot")
                - F.log("btot")
                - F.log("cp")
                - F.log("cc"),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("prev"), F.asc("cur")
    ).limit(PMI_TOP_K)


SQL_COLLOCATIONS_PMI = f"""
WITH t AS (
  SELECT {SQL_TOKENS} AS toks
  FROM documents
), bg AS (
  SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS b
  FROM t WHERE len(toks) >= 2
), pairs AS (
  SELECT b[1] AS prev, b[2] AS cur FROM bg
),
tok AS (SELECT unnest(toks) AS term FROM t),
c1 AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
u AS (SELECT CAST(SUM(c) AS BIGINT) AS utot FROM c1),
c2 AS (
  SELECT prev, cur, COUNT(*) AS c12 FROM pairs GROUP BY 1, 2
  HAVING COUNT(*) >= {PMI_MIN_COUNT}
),
btot AS (SELECT COUNT(*) AS btot FROM pairs)
SELECT c2.prev, c2.cur, c12 AS n_pair,
  ROUND(ln(c12) + 2.0 * ln(utot) - ln(btot) - ln(cp.c) - ln(cc.c), 6)
    AS pmi
FROM c2
JOIN c1 cp ON c2.prev = cp.term
JOIN c1 cc ON c2.cur = cc.term
CROSS JOIN u CROSS JOIN btot
ORDER BY pmi DESC, c2.prev ASC, c2.cur ASC LIMIT {PMI_TOP_K}
"""


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
    ts = tokens(F.col("text"))
    pairs = d.select(
        "lang", F.explode(bigrams(ts)).alias("b")
    ).select("lang", "b.prev", "b.cur")
    # ``cells`` feeds three consumers (ctx, tot, joint) — lazily the corpus
    # tokenization + (lang, prev, cur) aggregate was replayed per consumer
    # (10 scans / 11 exchanges at sf0.01; three corpus passes at 100 TB).
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


QUERIES: dict[str, Query] = {
    "tfidf_top_terms": Query(q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
    "text_char_entropy": Query(q_text_char_entropy, SQL_TEXT_CHAR_ENTROPY),
    "text_kneser_ney_logprob": Query(
        q_kneser_ney_logprob, SQL_KNESER_NEY_LOGPROB
    ),
    "text_zipf_fit": Query(q_zipf_fit, SQL_ZIPF_FIT),
    "token_ngram_saturation": Query(q_ngram_saturation, SQL_NGRAM_SATURATION),
    "corpus_jsd_sources": Query(q_corpus_jsd_sources, SQL_CORPUS_JSD_SOURCES),
    "corpus_good_turing": Query(q_corpus_good_turing, _gt_oracle()),
    "text_readability": Query(q_text_readability, SQL_TEXT_READABILITY),
    "quality_winsorized_stats": Query(
        q_quality_winsorized_stats, SQL_QUALITY_WINSORIZED_STATS
    ),
    "term_burstiness": Query(q_term_burstiness, SQL_TERM_BURSTINESS),
    "text_unigram_logprob": Query(q_unigram_logprob, SQL_UNIGRAM_LOGPROB),
    "text_bigram_logprob": Query(q_bigram_logprob, SQL_BIGRAM_LOGPROB),
    "text_top_bigrams": Query(q_top_bigrams, SQL_TOP_BIGRAMS),
    "text_hapax_ratio": Query(q_hapax_ratio, SQL_HAPAX_RATIO),
    "corpus_mutual_information": Query(
        q_corpus_mutual_information, SQL_CORPUS_MUTUAL_INFORMATION
    ),
    "text_collocations_pmi": Query(
        q_collocations_pmi, SQL_COLLOCATIONS_PMI
    ),
    "text_conditional_entropy": Query(
        q_text_conditional_entropy, SQL_TEXT_CONDITIONAL_ENTROPY
    ),
}
