"""Generic MapReduce surface tests (SURVEY.md §2.10 contract)."""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from map_reduce_implementation_spark.core.mapreduce import (
    MapReduceSpec,
    identity_reduce,
    letter_counter_map,
    letter_counter_reduce,
    run_mapreduce,
    word_finder_map,
)
from map_reduce_implementation_spark.jobs.word_finder import word_finder_python

from .conftest import REF_CORPUS_DIR, requires_ref_corpus

ALICE = f"{REF_CORPUS_DIR}/input-alice30.txt"


def _parse_counts(lines):
    return {ln.split()[0]: int(ln.split()[1]) for ln in lines}


def _python_counts(lines):
    want = {chr(65 + i): 0 for i in range(26)}
    for line in lines:
        for ch in line:
            if ch.isascii() and ch.isalpha():
                want[ch.upper()] += 1
    return want


@pytest.fixture(scope="module")
def generated_corpus(tmp_path_factory):
    """Seeded ASCII corpus shaped like FIXTURES.md §1: lines of at most 80
    characters, mixed case, apostrophes, backticks, and words next to
    ``_`` or digits (boundary cases for the finder)."""
    rng = random.Random(20261017)
    words = ["Alice", "alice", "the", "The", "moon", "rabbit", "x", "queen",
             "theme", "other", "Alice's", "a1ice"]
    seps = [" ", " ", " ", "'", "`", "_", "-", ", ", ". ", "7", "?"]
    lines = []
    for _ in range(3000):
        line = ""
        while True:
            tok = rng.choice(words) + rng.choice(seps)
            if len(line) + len(tok) > rng.randint(0, 80):
                break
            line += tok
        lines.append(line.rstrip())
    path = tmp_path_factory.mktemp("corpus") / "generated.txt"
    path.write_text("\n".join(lines) + "\n")
    return str(path), lines


@requires_ref_corpus
def test_mapreduce_letter_counter_matches_dataframe_job(spark):
    from map_reduce_implementation_spark.jobs import letter_counter

    spec = MapReduceSpec(ALICE, 4, letter_counter_map, letter_counter_reduce)
    result = run_mapreduce(spark, spec)
    assert result.map_partitions >= 4
    got = _parse_counts(result.lines)
    want = {r.letter: r.cnt for r in letter_counter(spark, ALICE).collect()}
    assert got == want


@requires_ref_corpus
def test_mapreduce_word_finder(spark):
    spec = MapReduceSpec(ALICE, 4, word_finder_map, identity_reduce, usr_data="Alice")
    result = run_mapreduce(spark, spec)
    assert len(result.lines) == 392  # FIXTURES.md golden


@pytest.mark.parametrize("split_num", range(1, 7))
def test_mapreduce_letter_counter_generated_corpus(spark, generated_corpus, split_num):
    """Generated-corpus twin of the alice counter test: the totals equal a
    pure-Python count at every split count and the DataFrame job."""
    from map_reduce_implementation_spark.jobs import letter_counter

    path, lines = generated_corpus
    spec = MapReduceSpec(path, split_num, letter_counter_map, letter_counter_reduce)
    result = run_mapreduce(spark, spec)
    assert result.map_partitions >= split_num
    assert [ln.split()[0] for ln in result.lines] == [chr(65 + i) for i in range(26)]
    got = _parse_counts(result.lines)
    assert got == _python_counts(lines)
    if split_num == 1:
        assert got == {r.letter: r.cnt for r in letter_counter(spark, path).collect()}


@pytest.mark.parametrize("word", ["Alice", "the", "moon", "x"])
def test_mapreduce_word_finder_generated_corpus(spark, generated_corpus, word):
    """Generated-corpus twin of the alice finder golden: the matched lines,
    in input order, equal the pure-Python boundary-rule oracle."""
    path, lines = generated_corpus
    spec = MapReduceSpec(path, 4, word_finder_map, identity_reduce, usr_data=word)
    want = word_finder_python(lines, word)
    assert want, f"corpus has no whole-word {word!r}"
    assert run_mapreduce(spark, spec).lines == want


@settings(max_examples=20, deadline=None)
@given(
    text=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=60,
        ),
        min_size=1,
        max_size=30,
    ),
    nsplits=st.integers(min_value=1, max_value=6),
)
def test_letter_counter_map_reduce_property(text, nsplits):
    """Counter totals are split-invariant and equal a pure-Python count
    (FIXTURES.md §4 property) — pure-Python harness, no Spark needed."""
    # simulate splits
    chunks = [text[i::nsplits] for i in range(nsplits)]
    partials = [list(letter_counter_map(iter(c), None)) for c in chunks]
    merged = list(letter_counter_reduce(iter([ln for p in partials for ln in p]), None))
    assert _parse_counts(merged) == _python_counts(text)


@settings(max_examples=30, deadline=None)
@given(
    lines=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=50
        ),
        max_size=20,
    ),
    word=st.text(
        alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789",
        min_size=1,
        max_size=6,
    ),
)
def test_word_finder_map_matches_regex_oracle(lines, word):
    import re

    got = list(word_finder_map(iter(lines), word))
    pat = re.compile(f"(^|[^0-9A-Za-z]){re.escape(word)}([^0-9A-Za-z]|$)")
    want = [ln for ln in lines if pat.search(ln)]
    assert got == want
