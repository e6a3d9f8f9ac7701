"""Reference parity: the two jobs the reference ships (letter counter,
word finder), bound to the ``documents`` table and checked against SQL
oracles, plus the same counter re-expressed through the generic
MapReduce core (``core.run_mapreduce``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..jobs.letter_counter import letter_counter
from ..jobs.word_finder import whole_word_pattern, word_finder
from ..sources import table
from .base import Query

FIND_WORD = "the"


def q_letter_counter(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's flagship job over documents.text: 26 rows A..Z,
    zero-filled (usr_functions.c:19-109 semantics, Catalyst-planned)."""
    return letter_counter(spark, table(spark, sf, "documents"), text_col="text")


# Oracle counts per-letter occurrences with the length-replace identity
# (no char-level UNNEST needed in ANSI SQL).
SQL_LETTER_COUNTER = """
WITH letters AS (
  SELECT chr(CAST(64 + r.range AS INTEGER)) AS letter FROM range(1, 27) r
)
SELECT l.letter,
  CAST(COALESCE(SUM(length(upper(d.text)) - length(replace(upper(d.text), l.letter, ''))), 0) AS BIGINT) AS cnt
FROM letters l CROSS JOIN documents d
GROUP BY l.letter
"""


def q_word_finder(spark: SparkSession, sf: str) -> DataFrame:
    """Whole-word containment filter (usr_functions.c:119-191) — the
    [^0-9A-Za-z] boundary rule, NOT regex \\b."""
    d = table(spark, sf, "documents").select("doc_id", F.col("text"))
    return word_finder(spark, d, FIND_WORD, text_col="text")


SQL_WORD_FINDER = f"""
SELECT doc_id, text FROM documents
WHERE regexp_matches(text, '{whole_word_pattern(FIND_WORD)}')
"""


def q_mapreduce_letter_counter(spark: SparkSession, sf: str) -> DataFrame:
    """The generic MapReduce surface (mapreduce.h:14-32 analogue) running
    the letter-counter over documents.text via mapPartitions — proves the
    U1/U2 contract against the same SQL oracle as the declarative job."""
    from ..core.mapreduce import letter_counter_map, letter_counter_reduce

    rdd = table(spark, sf, "documents").select("text").rdd.map(lambda r: r[0])
    mapped = rdd.mapPartitions(lambda it: letter_counter_map(it, None))
    reduced = mapped.coalesce(1).mapPartitions(lambda it: letter_counter_reduce(it, None))
    return spark.createDataFrame(
        reduced.map(lambda ln: (ln.split(" ")[0], int(ln.split(" ")[1]))),
        "letter: string, cnt: bigint",
    )


QUERIES: dict[str, Query] = {
    "letter_counter": Query(q_letter_counter, SQL_LETTER_COUNTER),
    "word_finder": Query(q_word_finder, SQL_WORD_FINDER),
    "mapreduce_letter_counter": Query(q_mapreduce_letter_counter, SQL_LETTER_COUNTER),
}
