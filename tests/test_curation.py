"""Curation queries (``suite.curation``): dataset splits, DSIR slicing and
n-gram overlap, replayed in Python or checked for invariants."""

from __future__ import annotations

import re

import duckdb
import pandas as pd

from map_reduce_implementation_spark.sources import table
from map_reduce_implementation_spark.suite import all_queries

from .conftest import SF0001


QS = all_queries()


def test_dataset_split_partition_and_determinism(spark):
    """Splits partition the corpus (doc counts sum to |documents|),
    shares sum to 1 within each split, and the train share is ~90%."""
    rows = QS["dataset_split"].build(spark, SF0001).collect()
    total_docs = table(spark, SF0001, "documents").count()
    assert sum(r["n_docs"] for r in rows) == total_docs
    by_split: dict[str, int] = {}
    share: dict[str, float] = {}
    for r in rows:
        by_split[r["split"]] = by_split.get(r["split"], 0) + r["n_docs"]
        share[r["split"]] = share.get(r["split"], 0.0) + r["doc_share"]
    assert set(by_split) <= {"train", "valid", "test"}
    for s, v in share.items():
        assert abs(v - 1.0) < 1e-6, (s, v)
    assert 0.8 < by_split["train"] / total_docs < 0.97


def _docs_parquet(tmp_path, rows):
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    path = str(tmp_path / "documents.parquet")
    pdf.to_parquet(path)
    return path


def test_dsir_no_target_slice(spark, tmp_path):
    """With zero target-language docs the target LM collapses to the
    uniform Laplace floor; every doc still scores (identically in
    both engines) instead of erroring or dropping rows."""
    from map_reduce_implementation_spark.suite.curation import SQL_DSIR_IMPORTANCE_SAMPLE

    path = _docs_parquet(
        tmp_path,
        [
            (1, "uno dos tres", "es", "s0", 12),
            (2, "eins zwei drei vier", "de", "s1", 19),
        ],
    )
    got = QS["dsir_importance_sample"].build(spark, str(tmp_path)).collect()
    assert {r["doc_id"] for r in got} == {1, 2}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    odf = con.execute(SQL_DSIR_IMPORTANCE_SAMPLE).df()
    o = {int(r["doc_id"]): r for _, r in odf.iterrows()}
    for r in got:
        assert r["n_tokens"] == int(o[r["doc_id"]]["n_tokens"])
        assert abs(r["avg_log_ratio"] - o[r["doc_id"]]["avg_log_ratio"]) < 1e-12


def _tokens(text: str) -> list[str]:
    import re

    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def test_ngram_overlap_python_replay(spark):
    """Overlap fraction is in [0, 1]; eval docs never appear; and a pure
    Python replay of the shingle sets reproduces every training doc's
    (n_shingles, n_hits, overlap_frac, is_contaminated) exactly —
    including docs that genuinely overlap the eval slice (the corpus
    must contain contaminated docs for the query to prove anything)."""
    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.curation import (
        EVAL_MOD,
        OVERLAP_NGRAM,
        OVERLAP_THRESHOLD,
    )

    rows = QS["decontaminate_ngram_overlap"].build(spark, SF0001).collect()
    assert rows
    docs = table(spark, SF0001, "documents").select("doc_id", "text").collect()

    def sh(text: str) -> set[str]:
        ts = _tokens(text)
        return {
            " ".join(ts[i : i + OVERLAP_NGRAM])
            for i in range(len(ts) - OVERLAP_NGRAM + 1)
        }

    ev: set[str] = set()
    for r in docs:
        if r["doc_id"] % EVAL_MOD == 0:
            ev |= sh(r["text"])
    by_id = {r["doc_id"]: r["text"] for r in docs}
    n_overlapping = 0
    for r in rows:
        assert r["doc_id"] % EVAL_MOD != 0
        assert 0.0 <= r["overlap_frac"] <= 1.0
        s = sh(by_id[r["doc_id"]])
        hits = len(s & ev)
        assert (r["n_shingles"], r["n_hits"]) == (len(s), hits), r["doc_id"]
        frac = hits / len(s) if s else 0.0
        assert abs(r["overlap_frac"] - round(frac, 9)) < 1e-12
        assert r["is_contaminated"] == (frac >= OVERLAP_THRESHOLD)
        n_overlapping += hits > 0
    assert n_overlapping > 0, "no training doc overlaps the eval slice"
