"""Corpus statistics (``suite.corpus``): Python and numpy replays of the
language-model, entropy, information, readability, burstiness and
Zipf/Good-Turing queries, and their degenerate-corpus guards."""

from __future__ import annotations

import hashlib
import math
import re

import duckdb
import numpy as np
import pandas as pd
import pytest

from map_reduce_implementation_spark.sources import table
from map_reduce_implementation_spark.suite import all_queries

from .conftest import SF0001, _write


QS = all_queries()


def test_char_entropy_bounds(spark):
    """Shannon entropy over an alphabet of k symbols lies in
    [0, log2 k]; zero iff the doc uses a single distinct character."""
    import math

    rows = QS["text_char_entropy"].build(spark, SF0001).collect()
    assert rows, "no docs"
    for r in rows:
        ub = math.log2(r["n_distinct_chars"]) if r["n_distinct_chars"] else 0.0
        assert -1e-9 <= r["entropy_bits"] <= ub + 1e-9, r
        if r["n_distinct_chars"] == 1:
            assert r["entropy_bits"] == 0.0, r


def _doc_tokens(spark, sf):
    from map_reduce_implementation_spark.sources import table

    docs = sorted(
        table(spark, sf, "documents").select("doc_id", "text").collect(),
        key=lambda r: r["doc_id"],
    )
    return {
        r["doc_id"]: [
            t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t
        ]
        for r in docs
    }


def test_kneser_ney_python_replay(spark):
    """A dict-based KN replay reproduces every doc's 6-dp average NLL,
    and the interpolated model is a PROPER distribution: for every
    context, total probability mass over the full vocabulary is 1."""
    from map_reduce_implementation_spark.suite.corpus import KN_DISCOUNT

    toks = _doc_tokens(spark, SF0001)
    c2: dict[tuple[str, str], int] = {}
    for ts in toks.values():
        for a, b in zip(ts, ts[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
    c1: dict[str, int] = {}
    n1fw: dict[str, int] = {}
    nprec: dict[str, int] = {}
    for (a, b), n in c2.items():
        c1[a] = c1.get(a, 0) + n
        n1fw[a] = n1fw.get(a, 0) + 1
        nprec[b] = nprec.get(b, 0) + 1
    ntypes = len(c2)

    def p_kn(a: str, b: str) -> float:
        disc = max(c2.get((a, b), 0) - KN_DISCOUNT, 0.0) / c1[a]
        backoff = KN_DISCOUNT * n1fw[a] / c1[a]
        return disc + backoff * (nprec.get(b, 0) / ntypes)

    # proper-distribution invariant: mass over the FULL successor
    # vocabulary is exactly 1 for every context (the KN telescoping)
    succ_vocab = set(nprec)
    for a in list(c1)[:20]:
        mass = sum(p_kn(a, b) for b in succ_vocab)
        assert abs(mass - 1.0) < 1e-9, (a, mass)

    expect = {}
    for did, ts in toks.items():
        pairs = list(zip(ts, ts[1:]))
        if not pairs:
            continue
        nll = -sum(math.log(p_kn(a, b)) for a, b in pairs) / len(pairs)
        expect[did] = (len(pairs), round(nll, 6))

    got = QS["text_kneser_ney_logprob"].build(spark, SF0001).collect()
    assert len(got) == len(expect)
    for r in got:
        n, nll = expect[r["doc_id"]]
        assert r["n_bigrams"] == n
        assert abs(r["avg_nll_kn"] - nll) < 1e-9


def test_zipf_fit_matches_polyfit(spark):
    """numpy lstsq on the exact (unquantized) log-log points agrees
    with the quantized closed-form fit to ~1e-5, and the corpus slope
    is negative (frequencies decay with rank)."""
    toks = _doc_tokens(spark, SF0001)
    ctf: dict[str, int] = {}
    for ts in toks.values():
        for t in ts:
            ctf[t] = ctf.get(t, 0) + 1
    ranked = sorted(ctf.items(), key=lambda kv: (-kv[1], kv[0]))[:500]
    x = np.log(np.arange(1, len(ranked) + 1, dtype=np.float64))
    y = np.log(np.array([c for _, c in ranked], dtype=np.float64))
    slope, intercept = np.polyfit(x, y, 1)
    r = np.corrcoef(x, y)[0, 1]

    row = QS["text_zipf_fit"].build(spark, SF0001).collect()[0]
    assert row["n_terms"] == len(ranked)
    assert abs(row["slope"] - slope) < 1e-5
    assert abs(row["intercept"] - intercept) < 1e-5
    assert abs(row["r2"] - r * r) < 1e-5
    assert row["slope"] < 0


def test_ngram_saturation_python_replay(spark):
    """A dict replay of batch assignment + first-seen charging
    reproduces every batch row; novelty sums to the distinct-bigram
    total and the cumulative share ends at 1."""
    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.corpus import SAT_BATCHES

    docs = table(spark, SF0001, "documents").select("doc_id", "text").collect()
    first: dict[str, int] = {}
    instances: dict[int, int] = {}
    for r in docs:
        b = (
            int(
                hashlib.md5(f"sat|{r['doc_id']}".encode()).hexdigest()[:8], 16
            )
            % SAT_BATCHES
        )
        ts = [t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t]
        for a, c in zip(ts, ts[1:]):
            g = f"{a} {c}"
            instances[b] = instances.get(b, 0) + 1
            # "first seen" = MIN(batch) over all occurrences
            first[g] = min(first.get(g, b), b)
    novelty: dict[int, int] = {}
    for g, b in first.items():
        novelty[b] = novelty.get(b, 0) + 1

    got = sorted(
        QS["token_ngram_saturation"].build(spark, SF0001).collect(),
        key=lambda r: r["batch"],
    )
    assert {r["batch"] for r in got} == set(instances)
    total_new = sum(novelty.values())
    cum = 0
    for r in got:
        assert r["n_instances"] == instances[r["batch"]]
        assert r["n_new_grams"] == novelty.get(r["batch"], 0)
        cum += r["n_new_grams"]
        assert abs(r["cum_vocab_share"] - round(cum / total_new, 6)) < 1e-9
    assert cum == total_new == len(first)
    assert abs(got[-1]["cum_vocab_share"] - 1.0) < 1e-9


def test_hapax_ratio_python_replay(spark):
    """Dict replay per source; hapax <= vocab <= n_tokens."""
    from map_reduce_implementation_spark.sources import table

    docs = table(spark, SF0001, "documents").select("source", "text").collect()
    ctf: dict[tuple[str, str], int] = {}
    for r in docs:
        for t in re.split(r"[^a-z0-9]+", r["text"].lower()):
            if t:
                ctf[(r["source"], t)] = ctf.get((r["source"], t), 0) + 1
    got = {r["source"]: r for r in QS["text_hapax_ratio"].build(spark, SF0001).collect()}
    sources = {s for s, _ in ctf}
    assert set(got) == sources
    for s in sources:
        counts = [c for (src, _), c in ctf.items() if src == s]
        r = got[s]
        assert r["n_tokens"] == sum(counts)
        assert r["vocab"] == len(counts)
        assert r["hapax"] == sum(1 for c in counts if c == 1)
        assert r["hapax"] <= r["vocab"] <= r["n_tokens"]
        assert abs(r["hapax_ratio"] - round(r["hapax"] / r["vocab"], 6)) < 1e-9


def test_mutual_information_python_replay(spark):
    """A dict contingency-table replay reproduces MI and both
    entropies; information-theoretic bounds hold: 0 <= MI <= min(H),
    normalized in [0, 1]."""
    from map_reduce_implementation_spark.sources import table

    docs = table(spark, SF0001, "documents").select("lang", "source").collect()
    n = len(docs)
    cells: dict[tuple[str, str], int] = {}
    for r in docs:
        cells[(r["lang"], r["source"])] = cells.get((r["lang"], r["source"]), 0) + 1
    rows: dict[str, int] = {}
    cols: dict[str, int] = {}
    for (l, s), c in cells.items():
        rows[l] = rows.get(l, 0) + c
        cols[s] = cols.get(s, 0) + c
    mi = sum(
        (c / n) * math.log(c * n / (rows[l] * cols[s]))
        for (l, s), c in cells.items()
    )
    hl = -sum((c / n) * math.log(c / n) for c in rows.values())
    hs = -sum((c / n) * math.log(c / n) for c in cols.values())

    r = QS["corpus_mutual_information"].build(spark, SF0001).collect()[0]
    assert r["n_docs"] == n
    assert abs(r["mi_nats"] - mi) < 1e-6
    assert abs(r["h_lang"] - hl) < 1e-6
    assert abs(r["h_source"] - hs) < 1e-6
    assert -1e-9 <= r["mi_nats"] <= min(hl, hs) + 1e-9
    assert -1e-9 <= r["normalized_mi"] <= 1 + 1e-9


def test_mutual_information_extremes(spark, tmp_path):
    """A source-determines-language corpus scores normalized MI = 1;
    a perfectly independent (balanced product) corpus scores MI = 0 —
    and Spark matches the oracle on both."""
    import duckdb

    from map_reduce_implementation_spark.suite.corpus import SQL_CORPUS_MUTUAL_INFORMATION

    def run(sub, rows):
        sub.mkdir()
        pd.DataFrame(
            rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
        ).to_parquet(str(sub / "documents.parquet"))
        got = QS["corpus_mutual_information"].build(spark, str(sub)).collect()[0]
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sub}/documents.parquet'"
        )
        o = con.execute(SQL_CORPUS_MUTUAL_INFORMATION).df().iloc[0]
        assert abs(got["mi_nats"] - o["mi_nats"]) < 1e-9
        return got

    det = run(
        tmp_path / "det",
        [(i, "x", "en" if i % 2 else "de", f"s{i % 2}", 1) for i in range(8)],
    )
    assert abs(det["normalized_mi"] - 1.0) < 1e-6

    ind = run(
        tmp_path / "ind",
        [
            (4 * i + 2 * a + b, "x", ["en", "de"][a], f"s{b}", 1)
            for i in range(4)
            for a in range(2)
            for b in range(2)
        ],
    )
    assert abs(ind["mi_nats"]) < 1e-9


def test_pmi_python_replay(spark):
    """A dict replay (sum-of-logs PMI, same min-count and tie-breaks)
    reproduces the top-20 collocations."""
    import re

    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.corpus import PMI_MIN_COUNT, PMI_TOP_K

    docs = table(spark, SF0001, "documents").select("text").collect()
    c1: dict[str, int] = {}
    c2: dict[tuple[str, str], int] = {}
    b = 0
    for r in docs:
        ts = [t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t]
        for t in ts:
            c1[t] = c1.get(t, 0) + 1
        for x, y in zip(ts, ts[1:]):
            c2[(x, y)] = c2.get((x, y), 0) + 1
            b += 1
    u = sum(c1.values())
    scored = sorted(
        (
            (
                round(
                    math.log(c) + 2.0 * math.log(u) - math.log(b)
                    - math.log(c1[x]) - math.log(c1[y]),
                    6,
                ),
                x,
                y,
                c,
            )
            for (x, y), c in c2.items()
            if c >= PMI_MIN_COUNT
        ),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:PMI_TOP_K]

    got = QS["text_collocations_pmi"].build(spark, SF0001).collect()
    assert len(got) == len(scored)
    for r, (pmi, x, y, c) in zip(got, scored):
        assert (r["prev"], r["cur"], r["n_pair"]) == (x, y, c)
        assert abs(r["pmi"] - pmi) < 2e-6


def _docs_parquet(tmp_path, rows):
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    path = str(tmp_path / "documents.parquet")
    pdf.to_parquet(path)
    return path


def test_zipf_degenerate_corpora(spark, tmp_path):
    """Constant frequencies → slope 0 with NULL r² (deny = 0); a
    single-term corpus → all-NULL fit (den = 0). Both engines agree on
    the guarded NULLs instead of a NaN-vs-NULL 0/0 divergence."""
    from map_reduce_implementation_spark.suite.corpus import SQL_ZIPF_FIT

    # every term occurs exactly once -> constant y
    path = _docs_parquet(
        tmp_path, [(1, "alpha beta gamma delta", "en", "s0", 22)]
    )
    r = QS["text_zipf_fit"].build(spark, str(tmp_path)).collect()[0]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    o = con.execute(SQL_ZIPF_FIT).df().iloc[0]
    assert r["n_terms"] == int(o["n_terms"]) == 4
    assert r["slope"] == 0.0 and o["slope"] == 0.0
    assert r["r2"] is None and pd.isna(o["r2"])

    # single term -> den = 0 -> every fit column NULL
    sub = tmp_path / "single"
    sub.mkdir()
    p2 = _docs_parquet(sub, [(1, "word word word", "en", "s0", 14)])
    r2 = QS["text_zipf_fit"].build(spark, str(sub)).collect()[0]
    con2 = duckdb.connect()
    con2.execute(f"CREATE VIEW documents AS SELECT * FROM '{p2}'")
    o2 = con2.execute(SQL_ZIPF_FIT).df().iloc[0]
    assert r2["n_terms"] == int(o2["n_terms"]) == 1
    for col in ("slope", "intercept", "r2"):
        assert r2[col] is None and pd.isna(o2[col]), col


def test_kneser_ney_short_docs(spark, tmp_path):
    """Zero- and one-token docs yield no bigrams and drop from the
    output in BOTH engines; the surviving doc's score matches."""
    from map_reduce_implementation_spark.suite.corpus import SQL_KNESER_NEY_LOGPROB

    path = _docs_parquet(
        tmp_path,
        [
            (1, "a b a b c", "en", "s0", 9),
            (2, "a", "en", "s0", 1),  # one token -> no bigrams
            (3, "", "en", "s0", 0),  # empty -> no tokens
            (4, "!!!", "en", "s0", 3),  # punctuation only
        ],
    )
    got = QS["text_kneser_ney_logprob"].build(spark, str(tmp_path)).collect()
    assert [r["doc_id"] for r in got] == [1]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    odf = con.execute(SQL_KNESER_NEY_LOGPROB).df()
    assert list(odf["doc_id"]) == [1]
    assert got[0]["n_bigrams"] == int(odf["n_bigrams"][0]) == 4
    assert abs(got[0]["avg_nll_kn"] - odf["avg_nll_kn"][0]) < 1e-12


def _docs(tmp_path, rows):
    return _write(
        tmp_path,
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"]),
    )


def test_readability_no_tokens(spark, tmp_path):
    """A language whose only doc has zero [a-z0-9] tokens → flesch
    NULL in both engines (the Σw = 0 guard), other languages score."""
    from map_reduce_implementation_spark.suite.corpus import SQL_TEXT_READABILITY

    p = _docs(
        tmp_path,
        [
            (1, "!!! ???", "xx", "s0", 7),
            (2, "A plain sentence here. And one more!", "en", "s0", 36),
        ],
    )
    out = {
        r["lang"]: r
        for r in QS["text_readability"].build(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{p}'")
    odf = con.execute(SQL_TEXT_READABILITY).df().set_index("lang")
    assert out["xx"]["flesch_score"] is None
    assert pd.isna(odf.loc["xx", "flesch_score"])
    assert out["en"]["flesch_score"] == pytest.approx(
        float(odf.loc["en", "flesch_score"])
    )
    # closed-form spot check: 7 words, 2 sentences, syllable groups
    w, s, syl = (
        out["en"]["n_words"],
        out["en"]["n_sentences"],
        out["en"]["n_syllables"],
    )
    assert (w, s) == (7, 2)
    expected = 206.835 - 1.015 * (w / s) - 84.6 * (syl / w)
    assert out["en"]["flesch_score"] == pytest.approx(expected, abs=1e-6)


def test_good_turing_single_term(spark, tmp_path):
    """Single repeated term: N₁ = 0 → p0 = 0 and rstar_1 NULL in both
    engines (no 0/0); the N₂-backed rstar also guards."""
    from map_reduce_implementation_spark.suite.corpus import _gt_oracle

    p = _docs(tmp_path, [(1, "word word word", "en", "s0", 14)])
    r = QS["corpus_good_turing"].build(spark, str(tmp_path)).collect()[0]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{p}'")
    o = con.execute(_gt_oracle()).df().iloc[0]
    assert r["n_tokens"] == int(o["n_tokens"]) == 3
    assert r["vocab"] == int(o["vocab"]) == 1
    assert r["p0_unseen"] == float(o["p0_unseen"]) == 0.0
    for col in ("rstar_1", "rstar_2"):  # N1 = N2 = 0 -> guarded NULL
        assert r[col] is None and pd.isna(o[col]), col
    # N3 = 1 > 0 but N4 = 0 -> rstar_3 is a real 0, not NULL
    assert r["rstar_3"] == float(o["rstar_3"]) == 0.0


def test_jsd_bounds_and_identity(spark, tmp_path):
    """JSD(p, p) = 0 for identical sources; disjoint-vocabulary
    sources hit the ln 2 upper bound — in BOTH engines."""
    from map_reduce_implementation_spark.suite.corpus import SQL_CORPUS_JSD_SOURCES

    p = _docs(
        tmp_path,
        [
            (1, "alpha beta alpha", "en", "sA", 16),
            (2, "alpha beta alpha", "en", "sB", 16),
            (3, "gamma delta gamma", "en", "sC", 17),
        ],
    )
    rows = {
        (r["source_a"], r["source_b"]): r["jsd_nats"]
        for r in QS["corpus_jsd_sources"].build(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{p}'")
    odf = con.execute(SQL_CORPUS_JSD_SOURCES).df()
    orows = {
        (a, b): v
        for a, b, v in zip(odf["source_a"], odf["source_b"], odf["jsd_nats"])
    }
    assert rows == {k: pytest.approx(v) for k, v in orows.items()}
    assert rows[("sA", "sB")] == 0.0
    assert rows[("sA", "sC")] == pytest.approx(math.log(2), abs=1e-6)


def test_burstiness_ratio_and_floor(spark, tmp_path):
    """cf/df orders bursty terms first; terms under the df floor are
    excluded entirely in both engines."""
    from map_reduce_implementation_spark.suite.corpus import SQL_TERM_BURSTINESS

    docs = [(i, "common bursty bursty bursty" if i == 0 else "common", "en", "s0", 20)
            for i in range(5)]
    p = _docs(tmp_path, docs)
    rows = QS["term_burstiness"].build(spark, str(tmp_path)).collect()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{p}'")
    odf = con.execute(SQL_TERM_BURSTINESS).df()
    # 'bursty' has df=1 < 5 -> excluded; only 'common' (df=5, cf=5) stays
    assert [r["term"] for r in rows] == odf["term"].tolist() == ["common"]
    assert rows[0]["burstiness"] == float(odf["burstiness"].iloc[0]) == 1.0


def test_conditional_entropy_degenerate(spark, tmp_path):
    """A language whose docs have <2 tokens drops from the output; a
    single-repeated-bigram language scores exactly 0 on every entropy
    column in both engines."""
    from map_reduce_implementation_spark.suite.corpus import SQL_TEXT_CONDITIONAL_ENTROPY

    p = _docs(
        tmp_path,
        [
            (1, "one", "xx", "s0", 3),           # no bigrams -> drops
            (2, "ab ab ab ab", "yy", "s0", 11),  # one bigram type
        ],
    )
    rows = {r["lang"]: r for r in QS["text_conditional_entropy"].build(spark, str(tmp_path)).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{p}'")
    odf = con.execute(SQL_TEXT_CONDITIONAL_ENTROPY).df().set_index("lang")
    assert set(rows) == set(odf.index) == {"yy"}
    r = rows["yy"]
    assert r["n_bigrams"] == 3
    assert r["h_joint"] == r["h_context"] == r["h_rate"] == 0.0
    assert r["perplexity"] == 1.0
    assert float(odf.loc["yy", "h_rate"]) == 0.0
