"""Seeded benchmark inputs and their expected outputs.

Every input is a pure function of the workload's ``--seed``: the same seed
gives byte-identical files, another seed gives other files. Inputs and the
expected outputs computed from them are cached per seed under the
benchmark's work directory, so only the first run with a seed pays for
them, and none of it is timed.

``prepare`` runs in a child process (``python3 perfbench/inputs.py``) so
that the memory it needs never shows in the timed process's high-water
mark.

Run by hand:
    python3 perfbench/inputs.py --workload text_corpus --seed 1 --dir .perfbench/x
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ---------------------------------------------------------------- text corpus

CORPUS_BYTES = 16 * 1024 * 1024
SLICE_BYTES = 64 * 1024
MAX_TOKENS_PER_LINE = 7  # 7 x (10-letter word + separator) <= 80 chars
# separators: mostly spaces, plus the reference's boundary cases (', `, _
# and punctuation are boundaries; a digit is not)
SEPARATORS = np.frombuffer(b" ,.'`_;7", dtype=np.uint8)
SEPARATOR_P = [0.80, 0.05, 0.04, 0.03, 0.02, 0.03, 0.02, 0.01]
CASE_P = [0.75, 0.20, 0.05]  # lower, Capitalised, UPPER


def _vocabulary() -> list[str]:
    """5000 distinct lower-case words of 2..10 letters, fixed for all seeds."""
    rng = np.random.default_rng(0)
    words: dict[str, None] = {}
    while len(words) < 5000:
        n = int(rng.integers(2, 11))
        words["".join(chr(97 + c) for c in rng.integers(0, 26, n))] = None
    return list(words)


VOCAB = _vocabulary()
FREQUENT_WORD = VOCAB[8]  # about 1% of tokens
RARE_WORD = VOCAB[3000]  # a few hundred tokens in the corpus


def _token_table() -> np.ndarray:
    """Every (word, case, separator) token as bytes, indexed
    ``word * 3 * 9 + case * 9 + separator``; separator 8 ends the line."""
    seps = [bytes([c]) for c in SEPARATORS] + [b"\n"]
    out = []
    for w in VOCAB:
        for form in (w, w.capitalize(), w.upper()):
            out += [form.encode() + s for s in seps]
    return np.array(out, dtype=object)


def corpus_bytes(seed: int, n_bytes: int = CORPUS_BYTES) -> bytes:
    """ASCII lines of at most 80 characters (FIXTURES.md section 1): Zipf
    words, mixed case, ``'``/`` ` ``/``_``/digit boundaries. Generated in
    fixed-size chunks from one seeded stream; cut at a line end."""
    rng = np.random.default_rng([seed, 1])
    tokens = _token_table()
    weights = 1.0 / np.arange(1, len(VOCAB) + 1) ** 1.07
    cdf = np.cumsum(weights / weights.sum())
    parts: list[bytes] = []
    size = 0
    while size < n_bytes:
        k = rng.integers(1, MAX_TOKENS_PER_LINE + 1, size=200_000)
        ntok = int(k.sum())
        w = np.minimum(np.searchsorted(cdf, rng.random(ntok)), len(VOCAB) - 1)
        case = rng.choice(3, size=ntok, p=CASE_P)
        sep = rng.choice(len(SEPARATORS), size=ntok, p=SEPARATOR_P)
        sep[np.cumsum(k) - 1] = len(SEPARATORS)
        parts.append(b"".join(tokens[(w * 3 + case) * 9 + sep].tolist()))
        size += len(parts[-1])
    data = b"".join(parts)
    return data[: data.rindex(b"\n", 0, n_bytes) + 1]


def letter_histogram(data: bytes) -> list[int]:
    """A..Z counts, case-folded, from a plain byte histogram."""
    h = np.bincount(np.frombuffer(data, dtype=np.uint8), minlength=256)
    return [int(h[65 + i] + h[97 + i]) for i in range(26)]


def _find_lines(lines: list[str], word: str) -> list[str]:
    from map_reduce_implementation_spark.jobs.word_finder import word_finder_python

    # the substring prefilter cannot drop a match; it only spares the regex
    return word_finder_python([ln for ln in lines if word in ln], word)


def _prepare_text(seed: int, d: str) -> dict:
    data = corpus_bytes(seed)
    with open(os.path.join(d, "corpus.txt"), "wb") as fh:
        fh.write(data)
    piece = data[: data.rindex(b"\n", 0, SLICE_BYTES) + 1]
    with open(os.path.join(d, "slice.txt"), "wb") as fh:
        fh.write(piece)
    lines = data.decode("ascii").split("\n")[:-1]
    slice_lines = piece.decode("ascii").split("\n")[:-1]
    frequent = _find_lines(lines, FREQUENT_WORD)
    return {
        "lines": len(lines),
        "letters": letter_histogram(data),
        "frequent_word": FREQUENT_WORD,
        "rare_word": RARE_WORD,
        "frequent_lines": len(frequent),
        "frequent_md5": hashlib.md5("".join(f"{ln}\n" for ln in frequent).encode()).hexdigest(),
        "rare": _find_lines(lines, RARE_WORD),
        "slice_letters": [f"{chr(65 + i)} {c}" for i, c in enumerate(letter_histogram(piece))],
        "slice_frequent": _find_lines(slice_lines, FREQUENT_WORD),
        "input_bytes": {"corpus": len(data), "slice": len(piece)},
    }


# ------------------------------------------------------------- suite tables

# Row counts of the tables the suite workload reads, and the key domains
# they draw from: the TESTDATA.md schema, cut below sf0.1 so that a run
# fits its time budget.
SHAPE = {
    "embeddings": 1000,
    "orders": 5000,
    "lineitem": 20_000,
    "customers": 500,
    "parts": 1000,
    "suppliers": 50,
    "dim": 64,
}
DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01 UTC


def _embeddings(rng: np.random.Generator, n: int, dim: int) -> pa.Table:
    """Unit-norm float32 vectors with a random label 0..9."""
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
                                   pa.array(v.ravel(), pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _timestamps(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    return pa.array(EPOCH_1995_US + days * DAY_US, pa.timestamp("us"))


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n)),
        "o_orderdate": _timestamps(rng, n),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n)]),
    })


def _lineitem(rng: np.random.Generator, n: int, n_orders: int, n_part: int, n_supp: int) -> pa.Table:
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": _timestamps(rng, n),
    })


def suite_tables(seed: int, names: list[str]) -> dict[str, pa.Table]:
    """The named tables, generated from ``seed`` and written in a
    seed-shuffled row order (partition contents vary with the seed)."""
    s = SHAPE
    makers = {
        "embeddings": lambda r: _embeddings(r, s["embeddings"], s["dim"]),
        "orders": lambda r: _orders(r, s["orders"], s["customers"]),
        "lineitem": lambda r: _lineitem(r, s["lineitem"], s["orders"], s["parts"], s["suppliers"]),
    }
    out = {}
    for i, name in enumerate(sorted(names)):
        rng = np.random.default_rng([seed, 2, i])
        t = makers[name](rng)
        out[name] = t.take(pa.array(rng.permutation(t.num_rows)))
    return out


def _prepare_suite(workload: str, seed: int, d: str) -> dict:
    import duckdb

    from workloads import SUITE_QUERIES
    from map_reduce_implementation_spark.suite import all_queries

    sf_dir = os.path.join(d, "tables")
    os.makedirs(sf_dir)
    sizes = {}
    names = sorted({t for _, ts in SUITE_QUERIES[workload] for t in ts})
    for name, t in suite_tables(seed, names).items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(t, path)
        sizes[name] = os.path.getsize(path)
    con = duckdb.connect()
    for name in sizes:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    qs = all_queries()
    expected = {q: con.execute(qs[q].oracle).df() for q, _ in SUITE_QUERIES[workload]}
    with open(os.path.join(d, "expected.pkl"), "wb") as fh:
        pickle.dump(expected, fh)
    return {"input_bytes": sizes}


# ------------------------------------------------------------------ caching


def source_key(workload: str) -> str:
    """A hash of everything the cached files are made from besides the
    seed: this module and the workload list, and the code that makes the
    expected outputs (``word_finder_python``, or the queries' oracle SQL)."""
    import inspect

    h = hashlib.sha256()
    here = os.path.dirname(os.path.abspath(__file__))
    for name in ("inputs.py", "workloads.py"):
        with open(os.path.join(here, name), "rb") as fh:
            h.update(fh.read())
    if workload == "text_corpus":
        import importlib

        module = importlib.import_module("map_reduce_implementation_spark.jobs.word_finder")
        h.update(inspect.getsource(module).encode())
    else:
        from workloads import SUITE_QUERIES
        from map_reduce_implementation_spark.suite import all_queries

        qs = all_queries()
        for q, _ in SUITE_QUERIES[workload]:
            h.update(qs[q].oracle.encode())
    return h.hexdigest()


def cached(d: str, key: str) -> dict | None:
    """The manifest in ``d`` if a finished copy made from the sources
    ``key`` names is there."""
    manifest = os.path.join(d, "manifest.json")
    if not os.path.exists(manifest):
        return None
    with open(manifest) as fh:
        info = json.load(fh)
    if info.get("source_key") == key:
        return info
    print(f"perfbench: inputs in {d} were made from other sources; remaking them",
          file=sys.stderr)
    return None


def prepare(workload: str, seed: int, d: str) -> dict:
    """Write the inputs and expected outputs of (workload, seed) into ``d``
    unless a finished copy made from the same sources is there; return the
    manifest."""
    manifest = os.path.join(d, "manifest.json")
    key = source_key(workload)
    info = cached(d, key)
    if info is not None:
        return info
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    if workload == "text_corpus":
        info = _prepare_text(seed, d)
    else:
        info = _prepare_suite(workload, seed, d)
    info["source_key"] = key
    with open(manifest + ".tmp", "w") as fh:
        json.dump(info, fh)
    os.replace(manifest + ".tmp", manifest)
    return info


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dir", required=True)
    a = ap.parse_args()
    sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)), REPO]
    prepare(a.workload, a.seed, a.dir)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
