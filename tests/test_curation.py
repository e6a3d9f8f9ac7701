"""Curation queries (``suite.curation``): dataset splits, DSIR slicing,
n-gram overlap, filter cascades, token-budget mixing, boilerplate removal
and Bloom and semantic decontamination, replayed in Python or checked for
invariants."""

from __future__ import annotations

import hashlib
import re

import duckdb
import pandas as pd

from map_reduce_implementation_spark.sources import table
from map_reduce_implementation_spark.suite import all_queries

from .conftest import SF0001, _write


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


def _docs(spark):
    from map_reduce_implementation_spark.sources import table

    return sorted(
        table(spark, SF0001, "documents").select(
            "doc_id", "text", "lang", "source"
        ).collect(),
        key=lambda r: r["doc_id"],
    )


def test_cascade_waterfall_consistency_and_replay(spark):
    """The waterfall is internally consistent (n_out[i] == n_in[i+1],
    dropped+survivors == corpus) and a pure-Python first-fail replay
    reproduces every stage's drop count."""
    from map_reduce_implementation_spark.suite.curation import (
        MIN_TOKENS,
        MIN_TTR,
        WLEN_HI,
        WLEN_LO,
    )

    docs = _docs(spark)
    dropped = {1: 0, 2: 0, 3: 0}
    survivors = 0
    for r in docs:
        ts = _tokens(r["text"])
        n, nd = len(ts), len(set(ts))
        wl = sum(len(t) for t in ts) / n if n else 0.0
        if n < MIN_TOKENS:
            dropped[1] += 1
        elif nd / n < MIN_TTR:
            dropped[2] += 1
        elif wl < WLEN_LO or wl > WLEN_HI:
            dropped[3] += 1
        else:
            survivors += 1

    rows = sorted(
        QS["filter_cascade_report"].build(spark, SF0001).collect(),
        key=lambda r: r["stage"],
    )
    assert [r["stage"] for r in rows] == [1, 2, 3]
    assert rows[0]["n_in"] == len(docs)
    for i, r in enumerate(rows):
        assert r["n_dropped"] == dropped[r["stage"]]
        assert r["n_out"] == r["n_in"] - r["n_dropped"]
        if i + 1 < len(rows):
            assert r["n_out"] == rows[i + 1]["n_in"]
    assert rows[-1]["n_out"] == survivors
    # every stage discriminates at this SF (thresholds are calibrated)
    assert all(r["n_dropped"] > 0 for r in rows) and survivors > 0


def test_token_budget_mix_conserves_budget(spark):
    """The hierarchical split spends exactly the budget: cell targets
    sum to MIX_BUDGET (shares at each level sum to 1), epochs equals
    target/available per cell, and the upsampled flag matches."""
    import math

    from map_reduce_implementation_spark.suite.curation import MIX_BUDGET

    docs = _docs(spark)
    cell_tokens: dict[tuple[str, str], int] = {}
    for r in docs:
        k = (r["lang"], r["source"])
        cell_tokens[k] = cell_tokens.get(k, 0) + len(_tokens(r["text"]))
    lang_tokens: dict[str, int] = {}
    for (lang, _), n in cell_tokens.items():
        lang_tokens[lang] = lang_tokens.get(lang, 0) + n
    g_denom = sum(math.sqrt(v) for _, v in sorted(lang_tokens.items()))

    rows = QS["token_budget_mix"].build(spark, SF0001).collect()
    assert {(r["lang"], r["source"]) for r in rows} == set(cell_tokens)
    total_target = 0.0
    for r in rows:
        k = (r["lang"], r["source"])
        assert r["cell_tokens"] == cell_tokens[k]
        src_denom = sum(
            math.sqrt(v)
            for (lg, src), v in sorted(cell_tokens.items())
            if lg == r["lang"]
        )
        expect = (
            MIX_BUDGET
            * (math.sqrt(lang_tokens[r["lang"]]) / g_denom)
            * (math.sqrt(cell_tokens[k]) / src_denom)
        )
        assert abs(r["target_tokens"] - expect) < 0.5
        assert abs(r["epochs"] - expect / cell_tokens[k]) < 1e-5
        assert r["upsampled"] == (expect / cell_tokens[k] > 1.0)
        total_target += r["target_tokens"]
    assert abs(total_target - MIX_BUDGET) < 1.0


def test_boilerplate_removal_python_replay(spark):
    """A pure-Python within-source df count + reassembly reproduces
    every doc's removed count and kept hash, and removal is symmetric:
    EVERY occurrence of a boilerplate segment is gone (no keep-first)."""
    from map_reduce_implementation_spark.suite.curation import BOILER_MIN_DOCS, SEG_TOKENS

    docs = _docs(spark)
    seg_docs: dict[tuple[str, str], set[int]] = {}
    doc_segs: dict[int, tuple[str, list[str]]] = {}
    for r in docs:
        ts = _tokens(r["text"])
        segs = [
            " ".join(ts[i : i + SEG_TOKENS]) for i in range(0, len(ts), SEG_TOKENS)
        ]
        if segs:
            doc_segs[r["doc_id"]] = (r["source"], segs)
            for s in segs:
                seg_docs.setdefault((r["source"], s), set()).add(r["doc_id"])

    rows = QS["boilerplate_removal"].build(spark, SF0001).collect()
    assert {r["doc_id"] for r in rows} == set(doc_segs)
    for r in rows:
        source, segs = doc_segs[r["doc_id"]]
        kept = [s for s in segs if len(seg_docs[(source, s)]) < BOILER_MIN_DOCS]
        assert r["n_segments"] == len(segs)
        assert r["n_removed"] == len(segs) - len(kept)
        assert r["kept_hash"] == hashlib.md5(" ".join(kept).encode()).hexdigest()


def test_decontaminate_semantic_planted_leak(spark, tmp_path):
    """A training vector that IS an eval vector (cosine 1) is flagged;
    an orthogonal one is not — and the label rollup matches the
    oracle cell-for-cell."""
    from map_reduce_implementation_spark.suite.curation import (
        DECON_EVAL_N,
        SQL_DECONTAMINATE_SEMANTIC,
    )

    evs = [(i, [1.0, 0.0, 0.0, 0.0], 0) for i in range(DECON_EVAL_N)]
    train = [
        (DECON_EVAL_N, [1.0, 0.0, 0.0, 0.0], 1),  # exact leak
        (DECON_EVAL_N + 1, [0.0, 1.0, 0.0, 0.0], 1),  # orthogonal
    ]
    p = _write(
        tmp_path,
        "embeddings",
        pd.DataFrame(evs + train, columns=["vec_id", "embedding", "label"]),
    )
    rows = QS["decontaminate_semantic"].build(spark, str(tmp_path)).collect()
    assert len(rows) == 1 and rows[0]["label"] == 1
    assert rows[0]["n_train"] == 2 and rows[0]["n_flagged"] == 1
    assert rows[0]["hottest_sim"] == 1.0
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{p}'")
    o = con.execute(SQL_DECONTAMINATE_SEMANTIC).df().iloc[0]
    assert (int(o["n_train"]), int(o["n_flagged"])) == (2, 1)
    assert float(o["hottest_sim"]) == 1.0


def test_bloom_flagged_is_superset_of_exact(spark):
    """Bloom filters have no false negatives: every exact overlap term
    must also be Bloom-flagged (flagged >= exact, per doc)."""
    rows = QS["bloom_decontaminate"].build(spark, SF0001).collect()
    assert rows, "no training docs"
    for r in rows:
        assert r["n_bloom_flagged"] >= r["n_exact"], r
        assert 0 <= r["n_exact"] <= r["n_terms"], r
