"""Tests for winnowing fingerprints and their coverage of long docs,
salted joins, IVF ANN, and the approx-distinct sketch accuracy."""

from __future__ import annotations

import re
from collections import Counter

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from map_reduce_implementation_spark.operators.similarity import cosine_topk, ivf_topk
from map_reduce_implementation_spark.operators.skew import salted_agg_count, salted_join
from map_reduce_implementation_spark.operators.text_fp import winnow, winnow_fingerprints
from map_reduce_implementation_spark.sources import table
from map_reduce_implementation_spark.suite import all_queries
from map_reduce_implementation_spark.suite.stats import q_approx_distinct

from .conftest import SF0001, SF001


def test_winnow_shared_substring_shares_fingerprint():
    a = "the quick brown fox jumps over the lazy dog in the morning light"
    b = "yesterday the quick brown fox jumps over the lazy dog again today"
    fa, fb = set(winnow(a)), set(winnow(b))
    assert fa & fb, "documents sharing a long substring must share fingerprints"
    c = "completely different content with zero overlap whatsoever here"
    assert not (fa & set(winnow(c)))


def test_winnow_deterministic_and_distributed(spark):
    d = table(spark, SF001, "documents").limit(50)
    out1 = {r.doc_id: tuple(r.fingerprints) for r in winnow_fingerprints(d).collect()}
    out2 = {r.doc_id: tuple(r.fingerprints) for r in winnow_fingerprints(d).collect()}
    assert out1 == out2
    # local oracle
    for r in d.collect()[:10]:
        assert tuple(winnow(r.text)) == out1[r.doc_id]


def test_salted_join_equals_plain_join(spark):
    orders = table(spark, SF001, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, SF001, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = sorted(tuple(r) for r in orders.join(cust, "o_custkey").collect())
    salted = sorted(tuple(r) for r in salted_join(orders, cust, "o_custkey").collect())
    assert plain == salted


def test_salted_left_join_preserves_unmatched(spark):
    orders = table(spark, SF001, "orders").select("o_orderkey", "o_custkey")
    # dim missing most keys → left join must keep all fact rows
    cust = (
        table(spark, SF001, "customer")
        .filter(F.col("c_custkey") < 10)
        .select(F.col("c_custkey").alias("o_custkey"), "c_name")
    )
    plain = sorted(tuple(r) for r in orders.join(cust, "o_custkey", "left").collect())
    salted = sorted(
        tuple(r) for r in salted_join(orders, cust, "o_custkey", how="left").collect()
    )
    assert plain == salted


def test_salted_agg_count_equals_groupby(spark):
    ev = table(spark, SF001, "events")
    plain = {r.event_type: r.n for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    salted = {r.event_type: r.cnt for r in salted_agg_count(ev, "event_type").collect()}
    assert plain == salted


def test_ivf_recall_vs_bruteforce(spark):
    emb = table(spark, SF001, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    exact = [r.vec_id for r in cosine_topk(emb, qv, k=10, exclude_id=7).collect()]
    approx = [r.vec_id for r in ivf_topk(emb, qv, k=10, n_cells=8, nprobe=3).collect()]
    # probing 3/8 cells must still find a meaningful share of true top-10
    overlap = len(set(exact) & set(approx))
    assert overlap >= 2, f"IVF recall too low: {overlap}/10"


def test_approx_distinct_within_5pct(spark):
    rows = q_approx_distinct(spark, SF001).collect()
    for r in rows:
        assert abs(r.approx_orders - r.exact_orders) / r.exact_orders < 0.05


def test_hll_rollup_within_5pct(spark):
    """Merged (union_agg) per-lang sketches must estimate within 5% of
    the exact per-lang distinct-doc count."""
    from pyspark.sql import functions as F

    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.stats import q_approx_distinct_rollup

    est = {r.lang: r.approx_docs for r in q_approx_distinct_rollup(spark, SF001).collect()}
    exact = {
        r.lang: r.n
        for r in table(spark, SF001, "documents")
        .groupBy("lang")
        .agg(F.count_distinct("doc_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for lang, n in exact.items():
        assert abs(est[lang] - n) / n < 0.05, (lang, est[lang], n)


def test_cms_overestimates_under_collisions(spark):
    """CMS invariant: est >= exact for every term, even when the sketch
    is squeezed (width 8 forces collisions at vocab ~40) — the suite
    query's est==exact at width 1024 must not be what the test relies on."""
    from map_reduce_implementation_spark.suite import stats as p2

    d = table(spark, SF001, "documents").limit(40)
    tok = d.select(F.explode(
        F.filter(F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != "")
    ).alias("term"))
    cells = (
        tok.select(
            F.posexplode(
                F.array(*[p2._cms_bucket(i, F.col("term")) % 8 for i in range(4)])
            ).alias("d", "bucket")
        )
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = tok.groupBy("term").agg(F.count(F.lit(1)).alias("exact_cnt"))
    probes = exact.select(
        "term", "exact_cnt",
        F.posexplode(
            F.array(*[p2._cms_bucket(i, F.col("term")) % 8 for i in range(4)])
        ).alias("d", "bucket"),
    )
    est = (
        probes.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("term", "exact_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
    ).collect()
    assert est, "no terms"
    assert all(r.est_cnt >= r.exact_cnt for r in est)
    assert any(r.est_cnt > r.exact_cnt for r in est), "width 8 must collide"


def test_chunking_covers_text_with_overlap(spark):
    """Every char of every doc is inside >=1 chunk; consecutive chunks
    overlap by size-stride; chunk reassembly reproduces the text."""
    from map_reduce_implementation_spark.suite.curation import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        q_chunk_documents,
    )

    d = table(spark, SF001, "documents").limit(30)
    docs = {r.doc_id: r.text for r in d.collect()}
    rows = [r for r in q_chunk_documents(spark, SF001).collect() if r.doc_id in docs]
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, text in docs.items():
        chunks = sorted(by_doc[doc_id], key=lambda r: r.chunk_idx)
        assert chunks[0].start_pos == 1
        last = chunks[-1]
        assert last.start_pos + last.chunk_len - 1 == max(len(text), 1) or (
            last.chunk_len == CHUNK_SIZE
        )
        for a, b in zip(chunks, chunks[1:]):
            assert b.start_pos - a.start_pos == CHUNK_STRIDE
        # full coverage: next chunk starts before current ends (overlap) or
        # current chunk is the tail
        for a, b in zip(chunks, chunks[1:]):
            assert b.start_pos <= a.start_pos + CHUNK_SIZE


QS = all_queries()


def test_bpe_merges_match_naive_python(spark):
    """The 3 learned merges equal a single-threaded reference BPE over
    the same word-frequency dictionary (Sennrich et al.'s formulation:
    count symbol pairs weighted by word freq, merge winner, repeat)."""
    docs = table(spark, SF0001, "documents").select("text").collect()
    import re

    vocab: Counter = Counter()
    for r in docs:
        for w in re.split(r"[^a-z0-9]+", r["text"].lower()):
            if w:
                vocab[w] += 1
    dict_syms = [
        (list(w), freq) for w, freq in vocab.items() if len(w) >= 2
    ]

    def top_pair(entries):
        c: Counter = Counter()
        for ts, freq in entries:
            for a, b in zip(ts, ts[1:]):
                if a != b:
                    c[(a, b)] += freq
        # max count, then lexicographically smallest pair
        return min(c.items(), key=lambda kv: (-kv[1], kv[0]))

    def merge(entries, pair):
        a, b = pair
        out = []
        for ts, freq in entries:
            res, i = [], 0
            while i < len(ts):
                if i + 1 < len(ts) and ts[i] == a and ts[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(ts[i])
                    i += 1
            out.append((res, freq))
        return out

    expected = []
    cs = dict_syms
    for rank in range(1, 4):
        (a, b), cnt = top_pair(cs)
        expected.append((rank, a, b, cnt))
        if rank < 3:
            cs = merge(cs, (a, b))

    got = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in sorted(
            QS["tokenizer_bpe_train"].build(spark, SF0001).collect()
        )
    ]
    assert got == expected


def _docs(spark, sf):
    from map_reduce_implementation_spark.sources import table

    return sorted(
        table(spark, sf, "documents").select("doc_id", "lang", "text").collect(),
        key=lambda r: r["doc_id"],
    )


def test_lang_id_kappa_python_replay(spark):
    """Replaying kappa from the collected confusion cells reproduces
    p_o, p_e, and kappa; kappa is bounded by 1 and exceeds p_o − 1."""
    pred = {
        r["doc_id"]: r["predicted_lang"]
        for r in QS["text_lang_id"].build(spark, SF0001).collect()
    }
    true = {r["doc_id"]: r["lang"] for r in _docs(spark, SF0001)}
    n = len(true)
    agree = sum(1 for d in true if pred[d] == true[d])
    rows: dict[str, int] = {}
    cols: dict[str, int] = {}
    for d in true:
        rows[true[d]] = rows.get(true[d], 0) + 1
        cols[pred[d]] = cols.get(pred[d], 0) + 1
    po = agree / n
    pe = sum(rows[c] * cols.get(c, 0) for c in rows) / (n * n)
    kappa = (po - pe) / (1 - pe)

    r = QS["text_lang_id_kappa"].build(spark, SF0001).collect()[0]
    assert r["n_docs"] == n
    assert abs(r["p_observed"] - po) < 1e-6
    assert abs(r["p_expected"] - pe) < 1e-6
    assert abs(r["kappa"] - kappa) < 1e-6
    # kappa is bounded above by 1; on the synthetic small-vocab corpus
    # the stopword heuristic sits AT chance (kappa ≈ 0, slightly
    # negative at sf0.001) — exactly the diagnosis the metric exists
    # to make, so assert the bound, not performance
    assert -1.0 <= r["kappa"] <= 1.0


def _toks(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def test_bleu_precision_python_replay(spark):
    """Clipped-count replay reproduces every language's modified
    bigram precision; a language identical to the reference would
    score 1, and all precisions sit in [0, 1]."""
    from map_reduce_implementation_spark.suite.text import BLEU_REF_LANG

    counts: dict[str, dict[str, int]] = {}
    for r in _docs(spark, SF0001):
        ts = _toks(r["text"])
        c = counts.setdefault(r["lang"], {})
        for a, b in zip(ts, ts[1:]):
            g = f"{a} {b}"
            c[g] = c.get(g, 0) + 1
    ref = counts.get(BLEU_REF_LANG, {})
    got = {r["lang"]: r for r in QS["text_bleu_precision"].build(spark, SF0001).collect()}
    expect_langs = {l for l in counts if l != BLEU_REF_LANG and counts[l]}
    assert set(got) == expect_langs
    for lang in expect_langs:
        cand = counts[lang]
        total = sum(cand.values())
        clipped = sum(min(c, ref.get(g, 0)) for g, c in cand.items())
        r = got[lang]
        assert r["n_bigrams"] == total
        assert r["clipped_hits"] == clipped
        assert abs(r["precision"] - round(clipped / total, 6)) < 1e-9
        assert 0.0 <= r["precision"] <= 1.0


def _docs_parquet(tmp_path, rows):
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    path = str(tmp_path / "documents.parquet")
    pdf.to_parquet(path)
    return path


def test_kappa_degenerate_guards(spark, tmp_path):
    """Constant-and-correct predictions (p_e = 1) and all-drop gates
    produce guarded NULLs in both engines instead of NaN-vs-NULL."""
    from map_reduce_implementation_spark.suite.text import _kappa_oracle
    from map_reduce_implementation_spark.suite.quality import _gate_agreement_oracle

    # all-en corpus, every doc stuffed with en stopwords -> pred
    # constant 'en' and correct -> p_e = 1 -> kappa NULL
    path = _docs_parquet(
        tmp_path, [(i, "the and of to in a an", "en", "s0", 21) for i in range(4)]
    )
    r = QS["text_lang_id_kappa"].build(spark, str(tmp_path)).collect()[0]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    o = con.execute(_kappa_oracle()).df().iloc[0]
    assert r["p_expected"] == 1.0 and o["p_expected"] == 1.0
    assert r["kappa"] is None and pd.isna(o["kappa"])

    # punctuation-only corpus -> both gates drop everything ->
    # keep_jaccard and kappa both guarded NULL
    sub = tmp_path / "drop"
    sub.mkdir()
    p2 = _docs_parquet(sub, [(i, "!!! ???", "en", "s0", 7) for i in range(3)])
    r2 = QS["quality_gate_agreement"].build(spark, str(sub)).collect()[0]
    con2 = duckdb.connect()
    con2.execute(f"CREATE VIEW documents AS SELECT * FROM '{p2}'")
    o2 = con2.execute(_gate_agreement_oracle()).df().iloc[0]
    assert r2["n_keep_gopher"] == r2["n_keep_stopword"] == 0
    assert int(o2["n_keep_gopher"]) == int(o2["n_keep_stopword"]) == 0
    assert r2["keep_jaccard"] is None and pd.isna(o2["keep_jaccard"])
    assert r2["kappa"] is None and pd.isna(o2["kappa"])


def _tokens(text: str) -> list[str]:
    import re

    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def test_mattr_bounds_and_numpy_crosscheck(spark):
    """0 < mattr <= 1, mattr well-defined for every doc, and a numpy
    replay of the windowed distinct counts agrees exactly."""
    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.text import MATTR_W

    rows = QS["text_mattr"].build(spark, SF0001).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in table(spark, SF0001, "documents").collect()
    }
    assert rows
    for r in rows[:50]:
        ts = _tokens(docs[r["doc_id"]])
        assert r["n_tokens"] == len(ts)
        assert 0 < r["mattr"] <= 1 and 0 < r["ttr"] <= 1
        if len(ts) >= MATTR_W:
            wins = [
                len(set(ts[i : i + MATTR_W]))
                for i in range(len(ts) - MATTR_W + 1)
            ]
            expect = sum(wins) / (len(wins) * MATTR_W)
        else:
            expect = len(set(ts)) / len(ts)
        assert abs(r["mattr"] - round(expect, 9)) < 1e-12, r["doc_id"]


def test_bpe_apply_segmentation_invariants(spark):
    """Every reported segmentation re-concatenates to its word, symbol
    counts are consistent, the rows are the true top-N by frequency,
    and the learned merges actually compress at least one top word."""
    from map_reduce_implementation_spark.suite.text import BPE_APPLY_TOPN

    rows = QS["tokenizer_bpe_apply"].build(spark, SF0001).collect()
    assert 0 < len(rows) <= BPE_APPLY_TOPN
    freqs = [r["freq"] for r in rows]
    assert freqs == sorted(freqs, reverse=True)
    compressed = 0
    for r in rows:
        syms = r["segmentation"].split("|")
        assert "".join(syms) == r["w"]
        assert r["n_symbols"] == len(syms)
        assert r["n_chars"] == len(r["w"])
        assert r["n_symbols"] <= r["n_chars"]
        compressed += r["n_symbols"] < r["n_chars"]
    assert compressed > 0, "no top word was compressed by the merges"


def test_winnow_covers_every_long_doc(spark):
    """Winnowing selects >= 1 fingerprint for every doc with at least
    k + w - 1 tokens (the first full window exists)."""
    from pyspark.sql import functions as F

    from map_reduce_implementation_spark.functions import tokens
    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.text import WN_K, WN_W

    d = table(spark, SF0001, "documents")
    long_docs = {
        r["doc_id"]
        for r in d.select(
            "doc_id", F.size(tokens(F.col("text"))).alias("n")
        ).collect()
        if r["n"] >= WN_K + WN_W - 1
    }
    fp_docs = {
        r["doc_id"]
        for r in QS["text_winnow_graded"]
        .build(spark, SF0001)
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert long_docs <= fp_docs
