"""The benchmark workloads as call lists, each call with its output check.

A call goes through one layer's public functions: ``sources`` readers and
writers, ``jobs.letter_counter``/``jobs.word_finder``,
``core.run_mapreduce``, or ``suite.all_queries()[q].build`` followed by its
action, ``toPandas``. ``build`` and ``action`` are timed separately;
``check`` runs untimed on the action's output.

Why these workloads (ROADMAP "Next directions"):

- ``text_corpus``: the reference-parity jobs on a generated corpus. Scan
  bound, the only workload on the ``core`` Python path and the only one
  that writes. Directions 2 and 5 do not touch it.
- ``graph_topk``: a BFS query whose time is mostly eager checkpoint jobs
  launched during ``build``, where direction 2 (fewer Spark jobs per
  query) acts, and two exact top-k queries that run in single-task
  stages, where direction 5 (parallel top-k) acts. Their per-layer
  metrics tell the two directions apart.
"""

from __future__ import annotations

import glob
import hashlib
import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

WORKLOADS = ("text_corpus", "graph_topk")

# (query, tables it reads); every query here has a DuckDB oracle twin
SUITE_QUERIES = {
    "graph_topk": [
        ("graph_shortest_paths", ["lineitem", "orders"]),
        ("similarity_hard_negatives", ["embeddings"]),
        ("embedding_label_noise", ["embeddings"]),
    ],
}
# queries whose score pass runs in single-task stages (ROADMAP direction 5)
SINGLE_TASK_QUERIES = ("similarity_hard_negatives", "embedding_label_noise")


@dataclass
class Call:
    """One timed call. ``metric`` names the per-layer metric prefix; calls
    that share it are summed within a pass."""

    metric: str
    action: Callable[[Any], Any]
    check: Callable[[Any], bool]
    input_bytes: int
    build: Callable[[], Any] | None = None


def _text_calls(spark, d: str, manifest: dict, inputs: dict) -> list[Call]:
    from map_reduce_implementation_spark.core import MapReduceSpec, run_mapreduce
    from map_reduce_implementation_spark.core.mapreduce import (
        identity_reduce,
        letter_counter_map,
        letter_counter_reduce,
        word_finder_map,
    )
    from map_reduce_implementation_spark.jobs import letter_counter, word_finder
    from map_reduce_implementation_spark.sources.tables import write_single_text_file

    corpus = inputs["corpus"]
    slice_path = os.path.join(d, "slice.txt")
    out_dir = os.path.join(inputs["out"], "finder")
    freq, rare = manifest["frequent_word"], manifest["rare_word"]
    size, piece = manifest["input_bytes"]["corpus"], manifest["input_bytes"]["slice"]
    letters = [(chr(65 + i), c) for i, c in enumerate(manifest["letters"])]

    def mapreduce(map_func, reduce_func, usr_data=None):
        spec = MapReduceSpec(slice_path, 4, map_func, reduce_func, usr_data)
        return lambda _: run_mapreduce(spark, spec)

    def write_finder(_):
        write_single_text_file(word_finder(spark, corpus, freq), out_dir)
        return sorted(glob.glob(os.path.join(out_dir, "part-*")))

    def written_ok(parts: list[str]) -> bool:
        md5 = hashlib.md5()
        for p in parts:
            with open(p, "rb") as fh:
                md5.update(fh.read())
        return md5.hexdigest() == manifest["frequent_md5"]

    return [
        Call("sources.scan", lambda _: corpus.count(), lambda n: n == manifest["lines"], size),
        Call("jobs.letter_counter",
             lambda _: [tuple(r) for r in letter_counter(spark, corpus).collect()],
             lambda rows: rows == letters, size),
        Call("jobs.word_finder", lambda _: word_finder(spark, corpus, freq).count(),
             lambda n: n == manifest["frequent_lines"], size),
        Call("jobs.word_finder",
             lambda _: [r[0] for r in word_finder(spark, corpus, rare).collect()],
             lambda rows: rows == manifest["rare"], size),
        Call("core.run_mapreduce.letter_counter_map",
             mapreduce(letter_counter_map, letter_counter_reduce),
             lambda r: r.lines == manifest["slice_letters"], piece),
        Call("core.run_mapreduce.word_finder_map",
             mapreduce(word_finder_map, identity_reduce, freq),
             lambda r: r.lines == manifest["slice_frequent"], piece),
        Call("sources.write", write_finder, written_ok, size),
    ]


def suite_check(expected, pdf) -> bool:
    """Strict oracle comparison, as ``tools/check_values.py`` makes it:
    scalar columns, same pandas dtype kinds, same column names, and
    cell-exact rows after sorting."""
    from check_values import _compare, _dtype_mismatches, _rows_sorted, _unhashable_cols

    if _unhashable_cols(pdf) or _dtype_mismatches(pdf, expected):
        return False
    if sorted(pdf.columns) != sorted(expected.columns):
        return False
    rows = lambda df: [tuple(r) for r in df.itertuples(index=False, name=None)]  # noqa: E731
    a = _rows_sorted(list(pdf.columns), rows(pdf))
    b = _rows_sorted(list(expected.columns), rows(expected))
    return _compare(a, b)[0]


def _suite_calls(spark, workload: str, manifest: dict, inputs: dict) -> list[Call]:
    from map_reduce_implementation_spark.suite import all_queries

    qs = all_queries()
    sf_dir = inputs["sf_dir"]
    expected = inputs["expected"]
    calls = []
    for q, tables in SUITE_QUERIES[workload]:
        calls.append(Call(
            f"suite.{q}",
            build=lambda q=q: qs[q].build(spark, sf_dir),
            action=lambda df: df.toPandas(),
            check=lambda pdf, q=q: suite_check(expected[q], pdf),
            input_bytes=sum(manifest["input_bytes"][t] for t in tables),
        ))
    return calls


def register(spark, workload: str, d: str) -> dict:
    """Input registration, timed as part of set-up: create the input
    DataFrames through ``sources`` (file listing, schema inference)."""
    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.sources.tables import read_text

    if workload == "text_corpus":
        return {"corpus": read_text(spark, os.path.join(d, "corpus.txt"))}
    sf_dir = os.path.join(d, "tables")
    tables = {t for _, ts in SUITE_QUERIES[workload] for t in ts}
    return {"sf_dir": sf_dir, "tables": {t: table(spark, sf_dir, t) for t in sorted(tables)}}


def calls(spark, workload: str, d: str, manifest: dict, inputs: dict) -> list[Call]:
    if workload == "text_corpus":
        return _text_calls(spark, d, manifest, inputs)
    return _suite_calls(spark, workload, manifest, inputs)
