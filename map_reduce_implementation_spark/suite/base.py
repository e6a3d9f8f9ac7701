"""Suite plumbing: the Query record and oracle-matching conventions.

Conventions that make Spark results hash-match the DuckDB oracle
(driver compares row-count + schema + order-insensitive value hash):

- **Alias every computed column identically** in both the DataFrame code
  and the SQL.
- **Sums/avgs over double columns go through DECIMAL**: cast each value
  to ``DECIMAL(18,2)`` (money) or ``DECIMAL(18,6)`` (measures) before
  SUM, then cast the result to DOUBLE. Decimal addition is exact and
  associative, so the result is independent of Spark's partition order
  vs DuckDB's scan order; a raw double SUM is not.
- **floor/ceil results are cast to DOUBLE** (Spark returns LONG, DuckDB
  DOUBLE).
- **Raw float32 columns (embeddings) never go straight into a decimal
  cast or ROUND**: float32 values are dyadic rationals that can land
  EXACTLY on a decimal rounding boundary, where Spark's exact
  BigDecimal HALF_UP and DuckDB's float-multiply path disagree by one
  ulp (observed on the embeddings table). Quantize with the modeless
  ``floor(x * 1e7 + 0.5)`` — pure IEEE multiply/add/floor, identical
  in every engine — then sum the exact integers (or their DECIMAL
  products). Derived full-mantissa doubles (ratios, dot products,
  margins) have no tie exposure and may use ROUND(·, k).
- Top-k queries always carry a unique tie-break key in the ORDER BY.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import tokens
from ..sources import table


@dataclass(frozen=True)
class Query:
    """One suite entry: a PySpark builder and (optionally) its ANSI-SQL
    oracle for DuckDB. ``oracle is None`` → non-SQL-expressible op; the
    driver records a weaker rows-only check (per __spark_entry__.py)."""

    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


def dec(col: str | Column, scale: int = 2) -> Column:
    """Exact-arithmetic cast for oracle-stable aggregation (see module doc)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def money_sum(col: str | Column, alias: str) -> Column:
    return F.sum(dec(col)).cast("double").alias(alias)


def revenue_expr() -> Column:
    """l_extendedprice * (1 - l_discount), exactly, in decimal."""
    return dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))


def bigrams(ts: Column) -> Column:
    """Adjacent pairs of a token array as ``struct(prev, cur)``, formed
    in-array by ``zip_with`` of two shifted slices (no shuffle)."""
    n = F.size(ts)
    return F.zip_with(
        F.slice(ts, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(ts, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
    )


# SQL fragments mirroring the helpers above (keep in lockstep!)
SQL_REVENUE = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)
# the oracle twin of ``functions.tokens``: lower-case, split on non-alphanumerics
SQL_TOKENS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"


# Helpers that more than one domain module needs.

DIM = 64


ITERS = 3


STOPWORDS_EN = ["the", "a", "an", "of", "and", "to", "in"]


def unigram_avg_nll(spark: SparkSession, sf: str) -> DataFrame:
    """Shared unigram-LM scorer → (doc_id, n_tokens, avg_nll). ONE
    implementation (and one SQL CTE, ``SQL_UNIGRAM_NLL_CTE``) behind
    both ``text_unigram_logprob`` and
    ``curation.q_perplexity_bucket_sample``, so the model, tokenizer
    and determinism path cannot drift between the two arms."""
    d = table(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    ctf = tok.groupBy("term").agg(F.count("*").alias("ctf"))
    total = ctf.agg(F.sum("ctf")).collect()[0][0]  # one scalar (corpus size)
    return (
        tok.join(F.broadcast(ctf), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                -F.sum(F.log(F.col("ctf") / F.lit(total))) / F.count("*"), 6
            ).alias("avg_nll"),
        )
    )


# the matching DuckDB CTE chain ending in nll(doc_id, n_tokens, avg_nll)
SQL_UNIGRAM_NLL_CTE = f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS term
  FROM documents
),
ctf AS (SELECT term, COUNT(*) AS ctf FROM tok GROUP BY term),
total AS (SELECT CAST(SUM(ctf) AS BIGINT) AS t FROM ctf),
nll AS (
  SELECT tok.doc_id, COUNT(*) AS n_tokens,
    ROUND(-SUM(ln(ctf.ctf / total.t)) / COUNT(*), 6) AS avg_nll
  FROM tok JOIN ctf ON tok.term = ctf.term CROSS JOIN total
  GROUP BY tok.doc_id
)"""


def shingles_of(d: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document, HASHED to int64 —
    the inverted-index build side shared by jaccard and minhash dedup.
    ``d``: DataFrame[doc_id, text] (any provenance — the fuzzy queries
    feed an augmented corpus through the same pipeline).

    All-numeric pipeline: token → xxhash64(token), n-gram → xxhash64
    over the n-long slice of token hashes. No n-gram string is ever
    materialized, the downstream shuffle keys are 8-byte longs instead
    of ~30-byte strings, and array_distinct runs over ints — measured
    1.8× end-to-end on the jaccard query at sf0.1 with an identical
    pair set (64-bit collisions: ~n²/2^65, irrelevant below trillions
    of shingles; at 100 TB scale the shuffle-width saving grows while
    the collision bound stays negligible).

    The token array is bound to a real column FIRST: referencing the
    split() expression inside the gram lambda would inline (and
    re-evaluate) the tokenizer once per array element — measured 20×
    slower at sf0.1."""
    tokd = d.select("doc_id", tokens("text").alias("ts"))
    bound = tokd.select(
        "doc_id", F.transform(F.col("ts"), lambda tkn: F.xxhash64(tkn)).alias("hts")
    )
    # Docs shorter than n tokens must yield ZERO shingles: sequence(1, 0)
    # is DESCENDING ([1, 0]) in Spark, and slice(hts, 0, n) then throws
    # INVALID_PARAMETER_VALUE.START at runtime — guard with when/otherwise
    # so short docs produce an empty gram array instead of erroring.
    grams = F.transform(
        F.when(
            F.size("hts") >= n, F.sequence(F.lit(1), F.size("hts") - (n - 1))
        ).otherwise(F.array().cast("array<int>")),
        lambda i: F.xxhash64(F.slice("hts", i, n)),
    )
    return bound.select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))


def shingles(spark: SparkSession, sf: str, n: int = 3) -> DataFrame:
    """:func:`shingles_of` over the ``documents`` table."""
    return shingles_of(table(spark, sf, "documents"), n)


# ONE copy of the shingle/size CTE prefix shared by the three
# shingle-Jaccard oracles below — the Spark twins all build on
# operators/dedup.py::jaccard_pairs, so the SQL side must not be able
# to drift per-oracle either (suite/base.py lockstep convention).
SQL_SHINGLE_SIZES_CTE = f"""toks AS (
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
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)"""


QUERY_VEC_ID = 0


def query_vec(spark: SparkSession, sf: str) -> list[float]:
    row = (
        table(spark, sf, "embeddings")
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .first()
    )
    return [float(x) for x in row[0]]


def md5_bucket(prefix: str, term, width: int) -> F.Column:
    """Engine-reproducible hash bucket: md5 is computed identically by
    Spark and DuckDB (unlike murmur3/xxhash), so any sketch layout
    built on it is oracle-checkable. ONE recipe — prefix || term,
    first 8 hex digits, mod width — shared by the CMS and Bloom arms
    so the Spark and SQL sides can't drift independently."""
    h = F.md5(F.concat(F.lit(prefix), term))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % width
