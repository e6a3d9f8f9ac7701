"""Document-level text operators: token counting, language ID and its
evaluation (confusion, kappa), quality scores, repetition, readability,
lexical diversity, fingerprints and winnowing, novelty, BLEU precision,
BPE tokenizer training and application, tokenizer fertility, BM25 and
hybrid retrieval, and the sentence-splitting UDTF.

Most operators are pure column expressions (JVM codegen, no Python), so
at scale each is one parallel scan projection without a shuffle. They
generalise the reference's per-byte text loop to document granularity.
BPE merges are learned in the dictionary formulation: one corpus-sized
word-count shuffle, then every merge step runs on the (word, freq)
vocabulary only. Ratios are integer-count divisions and scores are
rounded only for display.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import tokens
from ..sources import table
from .base import (
    QUERY_VEC_ID,
    SQL_TOKENS,
    STOPWORDS_EN,
    Query,
    bigrams,
    dec,
    query_vec,
    shingles,
)


def q_text_novelty_score(spark: SparkSession, sf: str) -> DataFrame:
    """Novelty = fraction of a doc's distinct shingles whose FIRST
    occurrence (min doc_id) is this doc. Plan: one shingle-keyed
    aggregate for first-owners (map-side combinable MIN), broadcast-free
    re-join on the shingle stream, then a doc-keyed mean. Two shuffles
    total, both on uniform hash keys; no windows over raw data. At
    100 TB the first-owner table is the dedup state a crawler keeps —
    here derived in-plan."""
    # the shingle stream feeds the first-owner aggregate AND the join-back —
    # materialize it once instead of tokenizing the corpus per reference
    sh = shingles(spark, sf, 5).localCheckpoint(eager=True)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(
                F.avg(
                    F.when(F.col("first_doc") == F.col("doc_id"), 1.0).otherwise(0.0)
                ),
                9,
            ).alias("novelty"),
        )
    )


SQL_TEXT_NOVELTY_SCORE = f"""
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
first AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
SELECT sh.doc_id, COUNT(*) AS n_shingles,
  ROUND(AVG(CASE WHEN f.first_doc = sh.doc_id THEN 1.0 ELSE 0.0 END), 9) AS novelty
FROM sh JOIN first f USING (shingle)
GROUP BY sh.doc_id
"""


def q_token_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-design curve: rank the vocabulary by frequency and
    report, at powers-of-two vocab sizes, the cumulative fraction of
    all token OCCURRENCES covered. The heavy stream collapses to one
    (token → count) aggregate; the probes only ever need rank <= 8192,
    so the ranked prefix is taken with TakeOrderedAndProject (top-8192
    per partition, merged on the driver-side reduce — never a global
    sort) BEFORE the window. The row_number/running-sum window then
    sees <= 8192 rows regardless of vocabulary size; the denominator
    comes from the separate full aggregate. Rank ties broken by token
    text for a deterministic curve."""
    max_probe = 8192
    d = table(spark, sf, "documents")
    tok = d.select(F.explode(tokens("text")).alias("tok"))
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    top = vocab.orderBy(F.desc("c"), F.asc("tok")).limit(max_probe)
    w = Window.orderBy(F.desc("c"), F.asc("tok"))
    ranked = top.select(
        "tok",
        "c",
        F.row_number().over(w).alias("rk"),
        F.sum("c").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
    )
    total = vocab.agg(F.sum("c").alias("total"))
    probes = [2**k for k in range(0, 14)]  # 1 .. 8192 == max_probe
    return (
        ranked.filter(F.col("rk").isin(probes))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rk").alias("vocab_size"),
            F.round(F.col("cum") / F.col("total").cast("double"), 9).alias(
                "coverage"
            ),
        )
    )


SQL_TOKEN_VOCAB_COVERAGE = f"""
WITH tok AS (
  SELECT unnest({SQL_TOKENS}) AS tok
  FROM documents
),
vocab AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY 1),
ranked AS (
  SELECT tok, c,
    ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC) AS rk,
    SUM(c) OVER (ORDER BY c DESC, tok ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM vocab
)
SELECT CAST(rk AS INTEGER) AS vocab_size,
  ROUND(cum / CAST((SELECT SUM(c) FROM vocab) AS DOUBLE), 9) AS coverage
FROM ranked
WHERE rk IN (1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192)
"""


def q_tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language tokenizer fertility report (the number that sizes
    a multilingual token budget): docs, token count, type-token ratio,
    chars-per-token, tokens-per-doc and source-bytes-per-token. Two
    independent aggregates — a doc-level one for n_docs/byte totals
    and a token-level one for counts/vocab — joined on the ~constant
    lang key; integer numerators keep every ratio exact before its
    one rounded division. The token stream shuffles once on
    (lang, term) for the distinct, then collapses to lang."""
    from ..functions import tokens as _toks

    d = table(spark, sf, "documents")
    # true UTF-8 bytes (octet_length), not the n_chars character count:
    # for multi-byte scripts the two differ 2-3x and this column is the
    # per-language token-budget number
    docs = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.octet_length("text")).alias("bytes_total"),
    )
    tok = d.select(
        "lang", F.explode(_toks(F.col("text"))).alias("term")
    )
    toks = tok.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("term").alias("n_types"),
        F.sum(F.length("term")).alias("token_chars"),
    )
    return docs.join(toks, "lang").select(
        "lang",
        "n_docs",
        "n_tokens",
        "n_types",
        F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 6).alias("ttr"),
        F.round(F.col("token_chars").cast("double") / F.col("n_tokens"), 6).alias(
            "chars_per_token"
        ),
        F.round(F.col("n_tokens").cast("double") / F.col("n_docs"), 6).alias(
            "tokens_per_doc"
        ),
        F.round(F.col("bytes_total").cast("double") / F.col("n_tokens"), 6).alias(
            "bytes_per_token"
        ),
    )


SQL_TOKENIZER_FERTILITY = """
WITH docs AS (
  SELECT lang, COUNT(*) AS n_docs, CAST(SUM(strlen(text)) AS BIGINT) AS bytes_total
  FROM documents GROUP BY lang
),
tok AS (
  SELECT lang,
    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '')) AS term
  FROM documents
),
toks AS (
  SELECT lang, COUNT(*) AS n_tokens, COUNT(DISTINCT term) AS n_types,
    SUM(len(term)) AS token_chars
  FROM tok GROUP BY lang
)
SELECT d.lang, d.n_docs, t.n_tokens, t.n_types,
  ROUND(CAST(t.n_types AS DOUBLE) / t.n_tokens, 6) AS ttr,
  ROUND(CAST(t.token_chars AS DOUBLE) / t.n_tokens, 6) AS chars_per_token,
  ROUND(CAST(t.n_tokens AS DOUBLE) / d.n_docs, 6) AS tokens_per_doc,
  ROUND(CAST(d.bytes_total AS DOUBLE) / t.n_tokens, 6) AS bytes_per_token
FROM docs d JOIN toks t USING (lang)
"""


BPE_MERGES = 3


def _pair_top1(sym_df: DataFrame) -> DataFrame:
    """Most frequent adjacent symbol pair, weighted by word frequency
    (1 row: a, b, cnt).

    Pairs with a == b are excluded so every occurrence of the winning
    pair is non-overlapping and the merge can be applied as one
    position-parallel map (greedy left-to-right and simultaneous
    replacement agree exactly when the two halves differ). The pair
    count is a map-side-combinable aggregate over the VOCABULARY (not
    the corpus); top-1 is TakeOrderedAndProject. Ties break
    lexicographically on (a, b)."""
    pairs = sym_df.filter(F.size("t") >= 2).select(
        "freq",
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.size("t") - 1),
                F.slice("t", 2, F.size("t") - 1),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
        ).alias("p"),
    )
    return (
        pairs.select("freq", "p.a", "p.b")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(1)
    )


def _apply_merge(sym_df: DataFrame, top1: DataFrame) -> DataFrame:
    """Rewrite every word's symbol array, fusing each (a, b) adjacency
    into the concatenated symbol "ab". The 1-row winner arrives by
    broadcast crossJoin (in-plan, no collect); the rewrite itself is a
    pure map over 0-based positions using null-safe ``get``
    (out-of-bounds → NULL → condition false), so short arrays never
    error. Position i becomes the fused symbol when (t[i], t[i+1])
    matches, is dropped when (t[i-1], t[i]) matches, and passes
    through otherwise — a != b guarantees the two conditions never
    both fire."""
    j = sym_df.crossJoin(
        F.broadcast(top1.select(F.col("a").alias("pa"), F.col("b").alias("pb")))
    )
    merged = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.size("t") - 1),
            lambda i: F.when(
                (F.get("t", i) == F.col("pa"))
                & (F.get("t", i + 1) == F.col("pb")),
                F.concat(F.col("pa"), F.col("pb")),
            )
            .when(
                (i > 0)
                & (F.get("t", i - 1) == F.col("pa"))
                & (F.get("t", i) == F.col("pb")),
                F.lit(None).cast("string"),
            )
            .otherwise(F.get("t", i)),
        ),
        lambda x: x.isNotNull(),
    )
    return j.select("w", "freq", merged.alias("t"))


def q_tokenizer_bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    """First {BPE_MERGES} character-level BPE merges (Sennrich et al.
    2016, the dictionary formulation the reference implementation
    actually uses): the corpus is collapsed ONCE into a (word, freq)
    vocabulary, words split into character symbols, and every merge
    iteration runs entirely on that vocabulary with pair counts
    weighted by word frequency.

    This is the shape that survives 100 TB: the corpus-sized work is a
    single token-explode + word-count shuffle (map-side combined, and
    Catalyst's exchange reuse computes it once even though three
    iterations' lineages reference it); each of the thousands of merge
    steps a real trainer runs then touches only |vocab| rows (Heaps'
    law: ~n^0.5), with a 1-row TakeOrderedAndProject winner broadcast
    back in-plan and a zero-shuffle position-parallel rewrite. Nothing
    driver-side ever holds more than the winning pair. Output: the
    learned merge table (rank, left/right symbol, weighted support)."""
    d = table(spark, sf, "documents")
    words = (
        d.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # materialize the vocab ONCE (same localCheckpoint pattern as
    # graph_triangle_count): the three iterations' union branches each
    # re-derive their inputs from lineage, which doubles the corpus
    # scans per merge (measured 7 parquet scans for 3 merges); the
    # checkpoint truncates all of them to one corpus pass + a
    # vocab-sized cached RDD.
    words = words.localCheckpoint()
    t = words.select(
        "w",
        "freq",
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.col("w").substr(i, F.lit(1)),
        ).alias("t"),
    ).filter(F.size("t") >= 2)
    out = []
    for rank in range(1, BPE_MERGES + 1):
        # each 1-row winner is referenced by BOTH the output branch and the
        # next merge's rewrite, and its lineage carries every earlier merge
        # — the final 3-branch union replayed the whole pair-count chain per
        # branch (22 Exchanges). Materializing the single winner row
        # truncates that: each pair aggregate now runs exactly once.
        top1 = _pair_top1(t).localCheckpoint(eager=True)
        out.append(
            top1.select(
                F.lit(rank).alias("merge_rank"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.col("cnt").alias("pair_count"),
            )
        )
        if rank < BPE_MERGES:
            t = _apply_merge(t, top1)
    res = out[0]
    for o in out[1:]:
        res = res.unionAll(o)
    return res


def _sql_bpe() -> str:
    head = """
WITH words AS (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                  x -> x <> '')) AS w
    FROM documents
  ) GROUP BY w
),
t1 AS (
  SELECT w, freq,
    list_transform(range(1, len(w) + 1), i -> substr(w, CAST(i AS INTEGER), 1)) AS ts
  FROM words WHERE len(w) >= 2
)"""
    parts = [head]
    for r in range(1, BPE_MERGES + 1):
        parts.append(f""",
p{r} AS (
  SELECT ts[i] AS a, ts[i+1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM t{r}, range(1, 10000) q(i)
  WHERE i + 1 <= len(ts) AND ts[i] <> ts[i+1]
  GROUP BY 1, 2
),
b{r} AS (SELECT a AS pa, b AS pb, cnt FROM p{r} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)""")
        if r < BPE_MERGES:
            parts.append(f""",
t{r + 1} AS (
  SELECT w, freq,
    list_filter(list_transform(range(1, len(ts) + 1), i ->
      CASE WHEN ts[i] = b{r}.pa AND ts[i+1] = b{r}.pb THEN b{r}.pa || b{r}.pb
           WHEN i > 1 AND ts[i-1] = b{r}.pa AND ts[i] = b{r}.pb THEN NULL
           ELSE ts[i] END), x -> x IS NOT NULL) AS ts
  FROM t{r}, b{r}
)""")
    sel = "\nUNION ALL\n".join(
        f"SELECT {r} AS merge_rank, pa AS left_sym, pb AS right_sym, cnt AS pair_count FROM b{r}"
        for r in range(1, BPE_MERGES + 1)
    )
    parts.append("\n" + sel)
    return "".join(parts)


BPE_APPLY_TOPN = 20


def q_tokenizer_bpe_apply(spark: SparkSession, sf: str) -> DataFrame:
    """Apply the {BPE_MERGES} learned merges back to the vocabulary —
    the INFERENCE half of the BPE loop (``tokenizer_bpe_train`` is the
    training half; a user of the tokenizer runs train once, apply on
    every corpus). Merges are re-derived in-plan (same vocabulary CTEs,
    bit-identical winners), then applied IN RANK ORDER to every word —
    including the 1-char words the trainer's pair scan excludes — and
    the output reports the top-{BPE_APPLY_TOPN} words by frequency with
    their final segmentation (symbols joined by '|'), char vs symbol
    counts showing the compression.

    100 TB shape: identical to training — corpus collapses once to
    (word, freq); every merge application is a zero-shuffle
    position-parallel rewrite over vocab-sized rows with the 1-row
    winner broadcast in-plan; the final report is a
    TakeOrderedAndProject."""
    d = table(spark, sf, "documents")
    words = (
        d.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    ).localCheckpoint()
    sym_all = words.select(
        "w",
        "freq",
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.col("w").substr(i, F.lit(1)),
        ).alias("t"),
    )
    t_learn = sym_all.filter(F.size("t") >= 2)
    merges = []
    t = t_learn
    for rank in range(1, BPE_MERGES + 1):
        # materialize each 1-row winner (same rationale as
        # tokenizer_bpe_train): it feeds the learn chain AND the apply
        # chain, and un-truncated its lineage replays every earlier merge's
        # vocab-wide pair aggregate inside the final plan
        top1 = _pair_top1(t).localCheckpoint(eager=True)
        merges.append(top1)
        if rank < BPE_MERGES:
            t = _apply_merge(t, top1)
    ta = sym_all
    for top1 in merges:
        ta = _apply_merge(ta, top1)
    return (
        ta.select(
            "w",
            "freq",
            F.length("w").alias("n_chars"),
            F.size("t").alias("n_symbols"),
            F.array_join("t", "|").alias("segmentation"),
        )
        .orderBy(F.desc("freq"), F.asc("w"))
        .limit(BPE_APPLY_TOPN)
    )


def _sql_bpe_apply() -> str:
    """The training chain's CTEs (identical winners) + an application
    chain over ALL words + the top-N segmentation report."""
    head = """
WITH words AS (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                  x -> x <> '')) AS w
    FROM documents
  ) GROUP BY w
),
t1 AS (
  SELECT w, freq,
    list_transform(range(1, len(w) + 1), i -> substr(w, CAST(i AS INTEGER), 1)) AS ts
  FROM words WHERE len(w) >= 2
),
a0 AS (
  SELECT w, freq,
    list_transform(range(1, len(w) + 1), i -> substr(w, CAST(i AS INTEGER), 1)) AS ts
  FROM words
)"""
    apply_tpl = """,
{out} AS (
  SELECT w, freq,
    list_filter(list_transform(range(1, len(ts) + 1), i ->
      CASE WHEN ts[i] = {b}.pa AND ts[i+1] = {b}.pb THEN {b}.pa || {b}.pb
           WHEN i > 1 AND ts[i-1] = {b}.pa AND ts[i] = {b}.pb THEN NULL
           ELSE ts[i] END), x -> x IS NOT NULL) AS ts
  FROM {src}, {b}
)"""
    parts = [head]
    for r in range(1, BPE_MERGES + 1):
        parts.append(f""",
p{r} AS (
  SELECT ts[i] AS a, ts[i+1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM t{r}, range(1, 10000) q(i)
  WHERE i + 1 <= len(ts) AND ts[i] <> ts[i+1]
  GROUP BY 1, 2
),
b{r} AS (SELECT a AS pa, b AS pb, cnt FROM p{r} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)""")
        if r < BPE_MERGES:
            parts.append(apply_tpl.format(out=f"t{r + 1}", src=f"t{r}", b=f"b{r}"))
    for r in range(1, BPE_MERGES + 1):
        parts.append(apply_tpl.format(out=f"a{r}", src=f"a{r - 1}", b=f"b{r}"))
    parts.append(f"""
SELECT w, freq, CAST(len(w) AS INTEGER) AS n_chars,
  CAST(len(ts) AS INTEGER) AS n_symbols,
  array_to_string(ts, '|') AS segmentation
FROM a{BPE_MERGES}
ORDER BY freq DESC, w ASC LIMIT {BPE_APPLY_TOPN}""")
    return "".join(parts)


MATTR_W = 50  # Covington & McFall's standard window


def q_text_mattr(spark: SparkSession, sf: str) -> DataFrame:
    """Lexical diversity: raw type-token ratio + MATTR({MATTR_W})
    (Covington & McFall 2010) — the mean of distinct/{MATTR_W} over
    every sliding {MATTR_W}-token window, which removes raw TTR's
    length bias (longer docs mechanically repeat tokens). Docs shorter
    than the window fall back to their raw TTR, per the definition.

    Scale shape: zero shuffles — the whole metric is per-row array
    math inside one codegen stage (window distinct-counts via
    transform + array_distinct over bound token arrays, O(len·W) work
    per doc). Both ratios are integer-sum ÷ integer-count divisions →
    bit-identical across engines; ROUND is display-only."""
    d = table(spark, sf, "documents")
    tokd = d.select("doc_id", tokens("text").alias("ts")).withColumn(
        "n_tokens", F.size("ts")
    )
    n_distinct = F.size(F.array_distinct("ts"))
    # per-window distinct counts: windows start at 1..n-W+1 (1-based slice)
    win_counts = F.transform(
        F.sequence(F.lit(1), F.col("n_tokens") - (MATTR_W - 1)),
        lambda i: F.size(F.array_distinct(F.slice("ts", i, MATTR_W))),
    )
    win_sum = F.aggregate(win_counts, F.lit(0), lambda acc, x: acc + x)
    n_win = F.col("n_tokens") - (MATTR_W - 1)
    mattr = F.when(
        F.col("n_tokens") >= MATTR_W, win_sum / (n_win * F.lit(MATTR_W))
    ).otherwise(n_distinct / F.col("n_tokens"))
    return tokd.filter(F.col("n_tokens") > 0).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round((n_distinct / F.col("n_tokens")), 9).alias("ttr"),
        F.round(mattr, 9).alias("mattr"),
    )


SQL_TEXT_MATTR = f"""
WITH toks AS (
  SELECT doc_id,
    {SQL_TOKENS} AS ts
  FROM documents
),
base AS (
  SELECT doc_id, ts, len(ts) AS n_tokens,
    len(list_distinct(ts)) AS n_distinct
  FROM toks WHERE len(ts) > 0
),
wins AS (
  SELECT doc_id,
    SUM(len(list_distinct(ts[w.i : w.i + {MATTR_W - 1}]))) AS win_sum,
    COUNT(*) AS n_win
  FROM base, range(1, 100000) w(i)
  WHERE n_tokens >= {MATTR_W} AND w.i <= n_tokens - {MATTR_W - 1}
  GROUP BY doc_id
)
SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
  ROUND(b.n_distinct * 1.0 / b.n_tokens, 9) AS ttr,
  ROUND(CASE WHEN b.n_tokens >= {MATTR_W}
        THEN w.win_sum * 1.0 / (w.n_win * {MATTR_W})
        ELSE b.n_distinct * 1.0 / b.n_tokens END, 9) AS mattr
FROM base b LEFT JOIN wins w ON w.doc_id = b.doc_id
"""


BLEU_REF_LANG = "en"  # reference slice for modified precision


def q_lang_id_kappa(spark: SparkSession, sf: str) -> DataFrame:
    """Cohen's kappa for the stopword lang-ID heuristic vs the labeled
    ``lang`` column: observed agreement p_o, chance agreement p_e from
    the marginal products, and κ = (p_o − p_e)/(1 − p_e) — one row.

    Plan: the only data-sized work is the classify pass
    (``q_lang_id``, zero-shuffle column expressions); everything
    after runs on the |langs|×|langs| confusion cells — marginals,
    their product sum, and the three ratios are all cell-space
    aggregates. p_o and p_e are single integer-ratio divisions
    (bit-exact); κ combines them in one identical expression."""
    pred = q_lang_id(spark, sf).select("doc_id", "predicted_lang")
    d = table(spark, sf, "documents").select("doc_id", "lang")
    cells = (
        d.join(pred, "doc_id")
        .groupBy(F.col("lang").alias("true_lang"), "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    rows = cells.groupBy("true_lang").agg(F.sum("n").alias("row_n"))
    cols = cells.groupBy("predicted_lang").agg(F.sum("n").alias("col_n"))
    tot = cells.agg(
        F.sum("n").alias("n_docs"),
        F.sum(F.when(F.col("true_lang") == F.col("predicted_lang"), F.col("n"))).alias(
            "agree"
        ),
    )
    prod = (
        rows.join(cols, rows["true_lang"] == cols["predicted_lang"])
        .agg(F.sum(F.col("row_n") * F.col("col_n")).alias("prod_sum"))
    )
    po = F.col("agree") / F.col("n_docs")
    pe = F.col("prod_sum") / (F.col("n_docs") * F.col("n_docs"))
    # degenerate guard: constant-and-correct predictions give p_e = 1
    # and kappa's 0/0 — NULL beats an engine-dependent NaN-vs-NULL
    return (
        tot.crossJoin(F.broadcast(prod))
        .select(
            "n_docs",
            F.round(po, 6).alias("p_observed"),
            F.round(pe, 6).alias("p_expected"),
            F.round(
                F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe)), 6
            ).alias("kappa"),
        )
    )


SQL_LANG_ID_KAPPA_TEMPLATE = """
WITH pred AS ({lang_id_sql}),
cells AS (
  SELECT d.lang AS true_lang, p.predicted_lang, COUNT(*) AS n
  FROM documents d JOIN pred p ON d.doc_id = p.doc_id
  GROUP BY 1, 2
),
rows_ AS (SELECT true_lang, CAST(SUM(n) AS BIGINT) AS row_n FROM cells GROUP BY 1),
cols_ AS (SELECT predicted_lang, CAST(SUM(n) AS BIGINT) AS col_n FROM cells GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
    CAST(coalesce(SUM(CASE WHEN true_lang = predicted_lang THEN n END), 0)
      AS BIGINT) AS agree
  FROM cells
),
prod AS (
  SELECT CAST(SUM(row_n * col_n) AS BIGINT) AS prod_sum
  FROM rows_ JOIN cols_ ON rows_.true_lang = cols_.predicted_lang
)
SELECT n_docs,
  ROUND(agree * 1.0 / n_docs, 6) AS p_observed,
  ROUND(prod_sum * 1.0 / (n_docs * n_docs), 6) AS p_expected,
  ROUND(CASE WHEN prod_sum * 1.0 / (n_docs * n_docs) < 1.0
    THEN (agree * 1.0 / n_docs - prod_sum * 1.0 / (n_docs * n_docs))
         / (1.0 - prod_sum * 1.0 / (n_docs * n_docs)) END, 6) AS kappa
FROM tot CROSS JOIN prod
"""


def q_bleu_precision(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level modified bigram precision of every
    non-{BLEU_REF_LANG} language slice against the {BLEU_REF_LANG}
    reference slice: per candidate bigram type, its count is clipped
    at the reference count (the BLEU clip — a candidate cannot earn
    more credit for a bigram than the reference contains), and the
    per-language precision is clipped mass / candidate mass.

    Plan: ONE corpus pass yields the (lang, bigram) counts; the
    reference side is the en rows of that same aggregate (bigram-type
    bounded — broadcastable by Heaps' law); candidates LEFT-join it so
    reference-absent bigrams clip to zero, and the final agg is
    lang-keyed over bigram types. Integer masses; one division."""
    d = table(spark, sf, "documents")
    ts = tokens(F.col("text"))
    grams = d.select(
        "lang", F.explode(bigrams(ts)).alias("b")
    ).select("lang", F.concat_ws(" ", "b.prev", "b.cur").alias("gram"))
    counts = (
        grams.groupBy("lang", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    ref = counts.filter(F.col("lang") == BLEU_REF_LANG).select(
        "gram", F.col("c").alias("ref_c")
    )
    cand = counts.filter(F.col("lang") != BLEU_REF_LANG)
    return (
        cand.join(F.broadcast(ref), "gram", "left")
        .groupBy("lang")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum(
                F.least(F.col("c"), F.coalesce(F.col("ref_c"), F.lit(0)))
            ).alias("clipped_hits"),
        )
        .select(
            "lang",
            "n_bigrams",
            "clipped_hits",
            F.round(
                F.col("clipped_hits") / F.col("n_bigrams"), 6
            ).alias("precision"),
        )
    )


SQL_BLEU_PRECISION = f"""
WITH t AS (
  SELECT lang,
    {SQL_TOKENS} AS toks
  FROM documents
), bg AS (
  SELECT lang, unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS b
  FROM t WHERE len(toks) >= 2
),
counts AS (
  SELECT lang, b[1] || ' ' || b[2] AS gram, COUNT(*) AS c
  FROM bg GROUP BY 1, 2
),
ref AS (
  SELECT gram, c AS ref_c FROM counts WHERE lang = '{BLEU_REF_LANG}'
),
cand AS (SELECT * FROM counts WHERE lang <> '{BLEU_REF_LANG}')
SELECT cand.lang,
  CAST(SUM(c) AS BIGINT) AS n_bigrams,
  CAST(SUM(least(c, coalesce(ref_c, 0))) AS BIGINT) AS clipped_hits,
  ROUND(SUM(least(c, coalesce(ref_c, 0))) * 1.0 / SUM(c), 6) AS precision
FROM cand LEFT JOIN ref ON cand.gram = ref.gram
GROUP BY cand.lang
"""


def _kappa_oracle() -> str:

    return SQL_LANG_ID_KAPPA_TEMPLATE.format(lang_id_sql=SQL_LANG_ID)


# --- Winnowing (graded): k-token grams, window minima, md5 hashes ---
WN_K = 3  # tokens per gram
WN_W = 4  # grams per window


def q_text_winnow_graded(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowed fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003)
    over token {WN_K}-grams with md5 gram hashes: slide a window of
    {WN_W} gram hashes per doc, keep each full window's minimum
    (rightmost position on ties — the paper's rule), emit the distinct
    selected (hash, position) fingerprints. Guarantees any shared
    token run of >= w+k-1 tokens contributes a shared fingerprint.
    The production ``text_winnow_fingerprint`` runs a numpy rolling
    hash per doc (rows-only); this twin is the same selection
    algorithm over an md5 gram family both engines compute.

    Scale: per-doc window minima — the tokenize posexplode feeds ONE
    doc-keyed exchange that every window below reuses (lead-grams,
    partition count, frame minima share the same partitioning); grams
    are hashed row-wise in codegen, never inside a higher-order array
    function (the array-transform formulation re-evaluated the md5
    array inside Generate: measured 22.3 s -> 1.0 s at sf0.1)."""
    d = table(spark, sf, "documents")
    pos = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("p", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    gram = (
        pos.select(
            "doc_id",
            "p",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            " ",
                            "tok",
                            *[F.lead("tok", j).over(w) for j in range(1, WN_K)],
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
            (
                F.count(F.lit(1)).over(Window.partitionBy("doc_id")) - (WN_K - 1)
            ).alias("g"),
            F.lead("tok", WN_K - 1).over(w).alias("_full"),
        )
        # keep only positions that start a FULL k-gram (short docs and
        # the last k-1 positions yield none — the ADVICE short-doc rule)
        .filter(F.col("_full").isNotNull())
        .drop("_full")
    )
    # full windows only: starts s in [0, g-w]; frame = s..s+w-1
    win = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.currentRow, WN_W - 1)
    )
    sel = (
        gram.withColumn(
            "m", F.min(F.struct(F.col("h"), (-F.col("p")).alias("np"))).over(win)
        )
        .filter(F.col("p") <= F.col("g") - WN_W)
        .select(
            "doc_id",
            F.col("m.h").alias("fp"),
            (-F.col("m.np")).cast("int").alias("fp_pos"),
        )
        .distinct()
    )
    return sel


SQL_TEXT_WINNOW_GRADED = f"""
WITH toks AS (
  SELECT doc_id,
    {SQL_TOKENS} AS t
  FROM documents
),
grams AS (
  SELECT doc_id, len(t) - {WN_K} AS maxp, i - 1 AS p,
    ('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))::BIGINT AS h
  FROM toks, range(1, 100000) r(i)
  WHERE len(t) >= {WN_K} AND i <= len(t) - {WN_K} + 1
),
sel AS (
  SELECT g.doc_id, w.h AS fp, w.p AS fp_pos,
    ROW_NUMBER() OVER (PARTITION BY g.doc_id, g.p ORDER BY w.h ASC, w.p DESC) AS rk
  FROM grams g JOIN grams w
    ON w.doc_id = g.doc_id AND w.p BETWEEN g.p AND g.p + {WN_W - 1}
  WHERE g.p <= g.maxp - {WN_W - 1}
)
SELECT DISTINCT doc_id, fp, CAST(fp_pos AS INTEGER) AS fp_pos FROM sel WHERE rk = 1
"""


TOKEN_RE = "[A-Za-z0-9]+"


# stopword lists per language for the n-gram/stopword lang-ID heuristic
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and"],
    "de": ["der", "die", "und", "ist"],
    "es": ["el", "la", "los", "que"],
    "fr": ["le", "la", "les", "est"],
}


# GPT-2-style pre-tokenizer pattern, restricted to RE2-safe constructs
# (no lookarounds) so the identical string drives Spark AND DuckDB:
# contractions | space?+letter-run | space?+digit-run | space?+punct-run |
# whitespace-run. Each match ≈ one BPE pre-token.
BPE_ISH_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def q_token_count(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting: whitespace/punct-delimited word tokens, a real
    BPE-ish pre-tokenizer regex count (GPT-2-style pattern), and the
    chars/4 estimate LLM pipelines use for quick budgeting."""
    d = table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0)).alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_ISH_RE), 0)).alias("n_bpe_ish"),
        F.length("text").alias("n_chars_text"),
        (F.length("text") / F.lit(4.0)).alias("est_bpe_tokens"),
    )


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS INTEGER) AS n_tokens,
  CAST(len(regexp_extract_all(text, '{BPE_ISH_RE.replace("'", "''")}')) AS INTEGER) AS n_bpe_ish,
  CAST(length(text) AS INTEGER) AS n_chars_text,
  length(text) / 4.0 AS est_bpe_tokens
FROM documents
"""


def q_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Quality scoring: length / punctuation / stopword ratios — the
    standard pre-training filter features (C4/Gopher-style)."""
    d = table(spark, sf, "documents")
    # bind the token array to a column — lambda references to the raw
    # split() expression would re-run the tokenizer per element
    t = d.select("doc_id", "text", tokens(F.col("text")).alias("toks"))
    n_tok = F.size("toks")
    n_stop = F.size(F.filter(F.col("toks"), lambda x: x.isin(*STOPWORDS_EN)))
    length = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    space = F.length(F.regexp_replace("text", "[^ ]", ""))
    return t.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        (alpha / length).alias("alpha_ratio"),
        (space / length).alias("space_ratio"),
        (n_stop / n_tok).alias("stopword_ratio"),
        (length / n_tok).alias("chars_per_token"),
    )


SQL_QUALITY_SCORE = f"""
WITH t AS (
  SELECT doc_id, text,
    {SQL_TOKENS} AS toks
  FROM documents
)
SELECT doc_id,
  CAST(len(toks) AS INTEGER) AS n_tokens,
  length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text) AS alpha_ratio,
  length(regexp_replace(text, '[^ ]', '', 'g')) * 1.0 / length(text) AS space_ratio,
  len(list_filter(toks, x -> x IN ('the','a','an','of','and','to','in'))) * 1.0
    / len(toks) AS stopword_ratio,
  length(text) * 1.0 / len(toks) AS chars_per_token
FROM t
"""


def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID heuristic: count stopword hits per language, argmax
    with a fixed priority order (en > de > es > fr > unknown). A
    deterministic column-expression classifier — the Spark-native shape
    of a fastText-style scorer (the model itself would be a Pandas UDF)."""
    def _in_list(sw):
        # NB: a `sw=sw` default arg would make pyspark's lambda-signature
        # inspection treat this as a two-arg lambda — use a closure.
        return lambda t: t.isin(*sw)

    # three-stage select so toks and each score bind to real columns —
    # repeated references to raw expressions would re-evaluate them
    tokd = table(spark, sf, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    scored = tokd.select(
        "doc_id",
        *[
            F.size(F.filter(F.col("toks"), _in_list(sw))).alias(f"score_{lang}")
            for lang, sw in LANG_STOPWORDS.items()
        ],
    )
    best = None
    for lang in LANG_STOPWORDS:  # priority order on ties
        cond = F.col(f"score_{lang}") > 0
        for other in LANG_STOPWORDS:
            if other != lang:
                cond = cond & (F.col(f"score_{lang}") >= F.col(f"score_{other}"))
        best = F.when(cond, F.lit(lang)) if best is None else best.when(cond, F.lit(lang))
    return scored.select(
        "doc_id",
        *[f"score_{lang}" for lang in LANG_STOPWORDS],
        best.otherwise(F.lit("unknown")).alias("predicted_lang"),
    )


def _sql_lang_scores() -> str:
    parts = []
    for lang, sw in LANG_STOPWORDS.items():
        inlist = ",".join(f"'{w}'" for w in sw)
        parts.append(
            f"CAST(len(list_filter(toks, x -> x IN ({inlist}))) AS INTEGER) AS score_{lang}"
        )
    return ",\n  ".join(parts)


def _sql_lang_case() -> str:
    langs = list(LANG_STOPWORDS)
    whens = []
    for lang in langs:
        conds = [f"score_{lang} > 0"] + [
            f"score_{lang} >= score_{o}" for o in langs if o != lang
        ]
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(whens) + " ELSE 'unknown' END"


SQL_LANG_ID = f"""
WITH t AS (
  SELECT doc_id,
    {SQL_TOKENS} AS toks
  FROM documents
),
scored AS (
  SELECT doc_id,
  {_sql_lang_scores()}
  FROM t
)
SELECT doc_id, score_en, score_de, score_es, score_fr,
  {_sql_lang_case()} AS predicted_lang
FROM scored
"""


def q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprint: md5 of whitespace/punct-normalized lowercase
    text — the exact-dedup key that survives formatting changes. (A
    rolling-hash winnowing variant lives in operators/text_fp.py as a
    Pandas-UDF op, rows-only checked.)"""
    d = table(spark, sf, "documents")
    normalized = F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " "))
    return d.select("doc_id", F.md5(normalized).alias("fingerprint"))


SQL_FINGERPRINT = """
SELECT doc_id,
  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def q_winnow_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints via Arrow-batched
    mapInPandas (operators/text_fp.py). Python kernel → rows-only check;
    determinism + substring-sharing property tested in
    tests/test_text_ops.py."""
    from ..operators.text_fp import winnow_fingerprints

    d = table(spark, sf, "documents")
    return winnow_fingerprints(d).select("doc_id", "n_fingerprints")


def q_pipeline_curation(spark: SparkSession, sf: str) -> DataFrame:
    """The LLM training-data curation pipeline as ONE declarative plan:
    quality gate (token count + alpha ratio) → exact dedup keep-first on
    the normalized fingerprint → deterministic 50% hash-sample → per-doc
    token accounting. Catalyst fuses the gates into the scan; the only
    shuffle is the dedup window — the whole 100 TB curation pass is one
    scan + one shuffle. Every stage reuses an operator proven above
    (quality_score / fingerprint / keep-first / deterministic sample)."""
    from pyspark.sql import Window

    d = table(spark, sf, "documents")
    t = d.select("doc_id", "text", tokens(F.col("text")).alias("toks"))
    gated = t.filter(
        (F.size("toks") >= 10)
        & (
            F.length(F.regexp_replace("text", "[^A-Za-z]", "")) / F.length("text")
            > 0.5
        )
    )
    fp = F.md5(F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " ")))
    w = Window.partitionBy(fp).orderBy("doc_id")
    deduped = gated.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    sampled = deduped.filter(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8")
    return sampled.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        fp.alias("fingerprint"),
    )


SQL_PIPELINE_CURATION = f"""
WITH t AS (
  SELECT doc_id, text,
    {SQL_TOKENS} AS toks,
    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM documents
),
gated AS (
  SELECT * FROM t
  WHERE len(toks) >= 10
    AND length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text) > 0.5
),
deduped AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM gated
)
SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens, fp AS fingerprint
FROM deduped
WHERE rn = 1 AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
"""


def q_repetition_score(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition signal: fraction of duplicated bigrams
    per document (1 - distinct/total). High values flag boilerplate and
    degenerate generations — a standard pre-training quality gate.
    Pure array expressions (zip of shifted token slices), no explode:
    per-row work stays inside whole-stage codegen, zero shuffles."""
    d = table(spark, sf, "documents")
    ts = tokens("text")
    n = F.size(ts)
    bigrams = F.zip_with(
        F.slice(ts, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(ts, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    total = F.size(bigrams)
    rep = F.when(
        total > 0,
        F.round(1.0 - F.size(F.array_distinct(bigrams)) / total, 9),
    ).otherwise(F.lit(0.0))
    return d.select("doc_id", total.alias("n_bigrams"), rep.alias("rep_frac"))


SQL_REPETITION_SCORE = f"""
WITH t AS (
  SELECT doc_id,
    {SQL_TOKENS} AS ts
  FROM documents
),
b AS (
  SELECT doc_id,
    list_transform(range(1, greatest(len(ts), 1)),
                   i -> ts[i] || ' ' || ts[i + 1]) AS bg
  FROM t
)
SELECT doc_id, CAST(len(bg) AS INTEGER) AS n_bigrams,
  CASE WHEN len(bg) > 0
       THEN ROUND(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 9)
       ELSE 0.0 END AS rep_frac
FROM b
"""


def q_lang_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Classifier-eval closing of the lang-ID loop: confusion matrix of
    the stopword heuristic's prediction against the labeled ``lang``
    column, with per-true-language recall. The matrix aggregation runs
    on the |langs|x|langs| cell space, so the recall window is free at
    any scale; the only data-sized work is the one classify pass."""
    from pyspark.sql import Window

    pred = q_lang_id(spark, sf).select("doc_id", "predicted_lang")
    d = table(spark, sf, "documents").select("doc_id", "lang")
    cells = (
        d.join(pred, "doc_id")
        .groupBy(F.col("lang").alias("true_lang"), "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("true_lang")
    return cells.select(
        "true_lang",
        "predicted_lang",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("share_of_true"),
    )


SQL_LANG_CONFUSION = f"""
WITH pred AS ({SQL_LANG_ID}),
cells AS (
  SELECT d.lang AS true_lang, p.predicted_lang, COUNT(*) AS n
  FROM documents d JOIN pred p ON d.doc_id = p.doc_id
  GROUP BY d.lang, p.predicted_lang
)
SELECT true_lang, predicted_lang, n,
  ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY true_lang), 6)
    AS share_of_true
FROM cells
"""


_SENT_RE = r"[^.!?]+[.!?]*"


def q_udtf_sentences(spark: SparkSession, sf: str) -> DataFrame:
    """Python UDTF (Spark 4 table function): one row per sentence with
    its position — the UDTF expansion surface, lateral-joined per doc."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, sentence string")
    class SplitSentences:
        def eval(self, text: str):
            parts = [p.strip() for p in re.findall(_SENT_RE, text or "")]
            pos = 0
            for p in parts:
                if p:
                    yield pos, p
                    pos += 1

    spark.udtf.register("split_sentences", SplitSentences)
    table(spark, sf, "documents").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT doc_id, s.pos, s.sentence "
        "FROM _udtf_docs, LATERAL split_sentences(text) s"
    )


SQL_UDTF_SENTENCES = f"""
WITH s AS (
  SELECT doc_id, regexp_extract_all(text, '{_SENT_RE}') AS parts FROM documents
),
x AS (
  SELECT doc_id, i, trim(parts[i]) AS sentence
  FROM s, range(1, 100000) r(i)
  WHERE i <= len(parts) AND trim(parts[i]) <> ''
)
SELECT doc_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS INTEGER) AS pos,
  sentence
FROM x
"""


BM25_TERMS = ("join", "hash", "scan")
BM25_K1 = 1.2
BM25_B = 0.75


def _bm25_scored(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc BM25 scores (docs matching ≥1 query term) — shared by the
    top-k query and the RRF hybrid fusion. See q_bm25_topk for the
    one-shuffle plan rationale."""
    d = table(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    perdoc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.count(F.when(F.col("term") == t, 1)).alias(f"tf_{t}")
            for t in BM25_TERMS
        ],
    )
    stats = perdoc.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(dec("dl")).cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.count(F.when(F.col(f"tf_{t}") > 0, 1)).alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )

    def term_score(t: str) -> F.Column:
        tf, df_ = F.col(f"tf_{t}"), F.col(f"df_{t}")
        idf = F.log((F.col("n") - df_ + 0.5) / (df_ + 0.5) + 1.0)
        s = idf * (tf * (BM25_K1 + 1.0)) / (
            tf + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
        return F.when(tf > 0, s).otherwise(F.lit(0.0))

    total = (
        term_score(BM25_TERMS[0]) + term_score(BM25_TERMS[1]) + term_score(BM25_TERMS[2])
    )
    return (
        perdoc.join(F.broadcast(stats))
        .filter(sum(F.col(f"tf_{t}") for t in BM25_TERMS) > 0)
        .select("doc_id", F.round(total, 6).alias("bm25"))
    )


def q_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 keyword retrieval: top-20 docs for a fixed 3-term query —
    the lexical-search complement to the embedding similarity queries
    (hybrid retrieval = this ∪ similarity_cosine_topk).

    Plan: ONE doc-keyed shuffle total. The naive formulation (separate
    dl / tf / df aggregations re-joined on doc_id and term) costs 7
    exchanges; instead a single groupBy(doc_id) computes dl AND the
    three per-term tfs as conditional counts, and a single global agg
    over that folds N, avgdl and the three dfs into one broadcast row.
    Per-term scores are added in FIXED order — double addition is not
    associative, so a SUM over an unordered term group could differ
    from the oracle in the last bit; the explicit s_join+s_hash+s_scan
    tree is identical on both engines. Top-20 via
    TakeOrderedAndProject.
    """
    return (
        _bm25_scored(spark, sf)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


SQL_BM25_CTES = f"""tok AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS term FROM documents
), dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(dl AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok
  WHERE term IN ('join','hash','scan') GROUP BY doc_id, term
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term,
    ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0)
      * (tf.tf * {BM25_K1 + 1.0}) / (tf.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl.dl / stats.avgdl)) AS s
  FROM tf JOIN df ON tf.term = df.term JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
), bm AS (
  SELECT doc_id,
    ROUND(COALESCE(MAX(CASE WHEN term='join' THEN s END),0)
        + COALESCE(MAX(CASE WHEN term='hash' THEN s END),0)
        + COALESCE(MAX(CASE WHEN term='scan' THEN s END),0), 6) AS bm25
  FROM scored GROUP BY doc_id
)"""

SQL_BM25_TOPK = f"""
WITH {SQL_BM25_CTES}
SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 20
"""


RRF_K = 60
RRF_POOL = 50


def q_hybrid_rrf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    ranking and the embedding-cosine ranking (doc_id ≡ vec_id in the
    synthetic corpus) — rrf = Σ 1/(60 + rank), the standard
    fusion used by hybrid search engines.

    Plan: each arm is an independent top-50 TakeOrderedAndProject (no
    global sort); ranking then runs on exactly 50 rows per arm, so the
    unpartitioned row_number window is a 50-row single task, not a
    scale hazard. The arms meet in a tiny full-outer join (≤100 rows).
    At 100 TB each arm's cost is its own query (BM25: one doc-keyed
    shuffle; cosine: one scan + TakeOrdered); fusion cost is constant.
    """
    bm_top = (
        _bm25_scored(spark, sf)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(RRF_POOL)
    )
    bm_ranked = bm_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), "doc_id"))
        .alias("r_lex"),
    )
    qv = query_vec(spark, sf)
    from ..operators.similarity import cosine_topk

    cos_top = cosine_topk(
        table(spark, sf, "embeddings"), qv, k=RRF_POOL, exclude_id=QUERY_VEC_ID
    )
    cos_ranked = cos_top.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("sim").desc(), F.col("vec_id")))
        .alias("r_vec"),
    )
    one = F.lit(1).cast("double")
    rrf = F.round(
        F.coalesce(one / (F.lit(RRF_K) + F.col("r_lex")), F.lit(0.0))
        + F.coalesce(one / (F.lit(RRF_K) + F.col("r_vec")), F.lit(0.0)),
        9,
    )
    return (
        bm_ranked.join(cos_ranked, "doc_id", "full_outer")
        .select("doc_id", rrf.alias("rrf"))
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(20)
    )


SQL_HYBRID_RRF_TOPK = f"""
WITH {SQL_BM25_CTES},
bm_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
  FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT {RRF_POOL})
),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
cos_scored AS (
  SELECT e.vec_id,
    ROUND(
      list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), q.qv), x -> x[1] * x[2]))
      / (
        sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x)))
        * sqrt(list_sum(list_transform(q.qv, x -> x * x)))
      ), 9) AS sim
  FROM embeddings e, q WHERE e.vec_id <> 0
),
cos_ranked AS (
  SELECT vec_id AS doc_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS r_vec
  FROM (SELECT * FROM cos_scored ORDER BY sim DESC, vec_id LIMIT {RRF_POOL})
)
SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
  ROUND(COALESCE(CAST(1 AS DOUBLE)/({RRF_K} + b.r_lex), 0)
      + COALESCE(CAST(1 AS DOUBLE)/({RRF_K} + c.r_vec), 0), 9) AS rrf
FROM bm_ranked b FULL OUTER JOIN cos_ranked c ON b.doc_id = c.doc_id
ORDER BY rrf DESC, doc_id LIMIT 20
"""


QUERIES: dict[str, Query] = {
    "text_novelty_score": Query(q_text_novelty_score, SQL_TEXT_NOVELTY_SCORE),
    "token_vocab_coverage": Query(
        q_token_vocab_coverage, SQL_TOKEN_VOCAB_COVERAGE
    ),
    "tokenizer_fertility": Query(q_tokenizer_fertility, SQL_TOKENIZER_FERTILITY),
    "tokenizer_bpe_train": Query(q_tokenizer_bpe_train, _sql_bpe()),
    "tokenizer_bpe_apply": Query(q_tokenizer_bpe_apply, _sql_bpe_apply()),
    "text_mattr": Query(q_text_mattr, SQL_TEXT_MATTR),
    "text_lang_id_kappa": Query(q_lang_id_kappa, _kappa_oracle()),
    "text_bleu_precision": Query(q_bleu_precision, SQL_BLEU_PRECISION),
    "text_winnow_graded": Query(q_text_winnow_graded, SQL_TEXT_WINNOW_GRADED),
    "text_winnow_fingerprint": Query(q_winnow_fingerprint, None),
    "text_repetition_score": Query(q_repetition_score, SQL_REPETITION_SCORE),
    "pipeline_curation": Query(q_pipeline_curation, SQL_PIPELINE_CURATION),
    "text_token_count": Query(q_token_count, SQL_TOKEN_COUNT),
    "text_quality_score": Query(q_quality_score, SQL_QUALITY_SCORE),
    "text_lang_id": Query(q_lang_id, SQL_LANG_ID),
    "text_lang_confusion": Query(q_lang_confusion, SQL_LANG_CONFUSION),
    "text_fingerprint": Query(q_fingerprint, SQL_FINGERPRINT),
    "udtf_sentences": Query(q_udtf_sentences, SQL_UDTF_SENTENCES),
    "text_bm25_topk": Query(q_bm25_topk, SQL_BM25_TOPK),
    "hybrid_rrf_topk": Query(q_hybrid_rrf_topk, SQL_HYBRID_RRF_TOPK),
}
