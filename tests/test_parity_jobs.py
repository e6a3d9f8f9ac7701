"""Parity goldens vs the reference binary (FIXTURES.md §3)."""

from __future__ import annotations

import pytest

from map_reduce_implementation_spark.jobs import letter_counter, word_finder

from .conftest import REF_CORPUS_DIR, requires_ref_corpus

ALICE = f"{REF_CORPUS_DIR}/input-alice30.txt"
MOON = f"{REF_CORPUS_DIR}/input-moon10.txt"
TINY = f"{REF_CORPUS_DIR}/input.txt"

ALICE_GOLDEN = {
    "A": 8791, "B": 1475, "C": 2399, "D": 4931, "E": 13574, "F": 2001,
    "G": 2531, "H": 7374, "I": 7514, "J": 146, "K": 1158, "L": 4716,
    "M": 2107, "N": 7016, "O": 8146, "P": 1524, "Q": 209, "R": 5437,
    "S": 6500, "T": 10689, "U": 3468, "V": 846, "W": 2675, "X": 148,
    "Y": 2264, "Z": 78,
}

TINY_GOLDEN = {
    "A": 15, "B": 6, "C": 8, "D": 8, "E": 26, "F": 3, "G": 8, "H": 15,
    "I": 23, "J": 0, "K": 3, "L": 2, "M": 0, "N": 20, "O": 24, "P": 4,
    "Q": 0, "R": 14, "S": 15, "T": 27, "U": 6, "V": 4, "W": 5, "X": 0,
    "Y": 2, "Z": 0,
}


@requires_ref_corpus
def test_letter_counter_alice_golden(spark):
    rows = letter_counter(spark, ALICE).collect()
    assert [r.letter for r in rows] == [chr(65 + i) for i in range(26)]
    assert {r.letter: r.cnt for r in rows} == ALICE_GOLDEN


@requires_ref_corpus
def test_letter_counter_zero_fill_tiny(spark):
    rows = letter_counter(spark, TINY).collect()
    assert len(rows) == 26  # zeros included (usr_functions.c:102-106)
    assert {r.letter: r.cnt for r in rows} == TINY_GOLDEN


@requires_ref_corpus
@pytest.mark.parametrize("n", [1, 4, 8])
def test_letter_counter_split_invariant(spark, n):
    rows = letter_counter(spark, ALICE, min_partitions=n).collect()
    assert {r.letter: r.cnt for r in rows} == ALICE_GOLDEN


@requires_ref_corpus
@pytest.mark.parametrize(
    ("path", "word", "expected"),
    [
        (ALICE, "the", 1194),
        (ALICE, "Alice", 392),
        (ALICE, "alice", 0),  # case-sensitive
        (ALICE, "moon", 1),
        (MOON, "moon", 442),
        (TINY, "Alice", 2),
        (TINY, "the", 3),  # apostrophe is a boundary
    ],
)
def test_word_finder_goldens(spark, path, word, expected):
    assert word_finder(spark, path, word).count() == expected


@requires_ref_corpus
def test_word_finder_exact_lines_tiny(spark):
    got = sorted(r.value for r in word_finder(spark, TINY, "Alice").collect())
    assert got == sorted(
        [
            "Alice was beginning to get very tired of sitting by her sister",
            "thought Alice `without pictures or conversation?'",
        ]
    )


def test_word_finder_underscore_is_boundary(spark):
    df = spark.createDataFrame(
        [("foo_the_bar",), ("xthe",), ("the quick",), ("athe_b",)], "value: string"
    )
    got = {r.value for r in word_finder(spark, df, "the").collect()}
    # '_' is NOT alnum in the reference → boundary (usr_functions.c:168-169)
    assert got == {"foo_the_bar", "the quick"}

@requires_ref_corpus
def test_counter_paths_agree(spark):
    """The Arrow histogram path, the 26-replace JVM path, and the
    explode+agg path are three implementations of one semantic — all
    must agree (incl. zero-fill behavior on the tiny corpus)."""
    from pyspark.sql import functions as F

    from map_reduce_implementation_spark.jobs.letter_counter import (
        letter_counts_arrow,
        letter_counts_fast,
        letter_counts_of,
    )

    for path, golden in ((TINY, TINY_GOLDEN), (ALICE, ALICE_GOLDEN)):
        df = spark.read.text(path)
        arrow = {r.letter: r.cnt for r in letter_counts_arrow(df).collect()}
        fast = {r.letter: r.cnt for r in letter_counts_fast(df).collect()}
        sparse = {r.letter: r.cnt for r in letter_counts_of(df).collect()}
        assert arrow == golden
        assert fast == golden
        assert sparse == {k: v for k, v in golden.items() if v > 0}


def test_counter_arrow_non_ascii_and_nulls(spark):
    """Multi-byte UTF-8 never contributes (every byte >= 0x80); nulls
    and empty strings count nothing."""
    df = spark.createDataFrame(
        [("héllo Wörld",), (None,), ("",), ("ZZz",)], "value: string"
    )
    got = {r.letter: r.cnt for r in letter_counter(spark, df).collect()}
    assert got["H"] == 1 and got["L"] == 3 and got["O"] == 1  # ö is not ASCII o
    assert got["W"] == 1 and got["R"] == 1 and got["D"] == 1
    assert got["Z"] == 3
    assert got["E"] == 0  # é is not ASCII e
    assert sum(got.values()) == 11
