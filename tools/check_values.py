#!/usr/bin/env python
"""Value-level oracle comparison — stricter than row counts.

Mirrors the driver's CORRECTNESS protocol: for every suite query with a
SQL oracle, run the Spark query and the DuckDB twin at sf0.01, sort
columns by name and rows by value, then compare cell-by-cell. Floats
compare at a relative tolerance and the max deviation is reported so
exact-hash risks are visible.

Usage: python tools/check_values.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    import numpy as np

    if v is None:
        return None
    if v != v:  # NaN / NaT (pandas nulls in float and datetime columns)
        return "NaN"
    if isinstance(v, float):
        return float(v)
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.bool_, bool)):
        return bool(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm_cell(x) for x in v)
    return v


def _rows_sorted(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def _compare(a: list[tuple], b: list[tuple], rel: float = 1e-9):
    """Return (exact_equal, tol_equal, max_rel_dev)."""
    if len(a) != len(b):
        return False, False, float("inf")
    exact = True
    max_dev = 0.0
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False, False, float("inf")
        for x, y in zip(ra, rb):
            if x == y:
                continue
            exact = False
            if isinstance(x, float) and isinstance(y, float):
                denom = max(abs(x), abs(y), 1e-300)
                dev = abs(x - y) / denom
                max_dev = max(max_dev, dev)
                if dev > rel:
                    return False, False, max_dev
            elif isinstance(x, (int, float)) and isinstance(y, (int, float)):
                denom = max(abs(x), abs(y), 1e-300)
                dev = abs(x - y) / denom
                max_dev = max(max_dev, dev)
                if dev > rel:
                    return False, False, max_dev
            else:
                return False, False, float("inf")
    return exact, True, max_dev


def _dtype_mismatches(s_pdf, d_pdf) -> list[str]:
    """Driver-faithful dtype check: the external driver canonicalizes via
    pandas (toPandas vs duckdb .df()) and its value hash is dtype-sensitive
    — e.g. DuckDB count_if/SUM(int) return HUGEINT -> float64/object while
    Spark returns int64: equal Python values, different hash. Flag any
    column whose pandas dtype differs between the two engines."""
    # Empirically (CORRECTNESS_r01): the driver hash is str-based — int
    # width (int64 vs uint32) and datetime resolution (ns vs us) do NOT
    # matter, but int-vs-float DOES (str(10000) != str(10000.0)), as does
    # bool-vs-int. Compare dtype *kind* with int/uint folded together.
    def kind(dt):
        k = dt.kind
        return "i" if k in ("i", "u") else k

    out = []
    for c in sorted(s_pdf.columns):
        if c not in d_pdf.columns:
            continue
        sd, dd = s_pdf[c].dtype, d_pdf[c].dtype
        if kind(sd) != kind(dd):
            out.append(f"{c}: spark={sd} duck={dd}")
    return out


def _unhashable_cols(pdf) -> list[str]:
    """Columns holding list/array/dict cells: the driver's canonicalizer
    (pandas sort_values over all columns) crashes on these with
    'unhashable type' — every query, oracle-bearing or rows-only, must
    emit scalar columns only."""
    import numpy as np

    bad = []
    for c in pdf.columns:
        if pdf[c].dtype.kind == "O" and len(pdf):
            v = pdf[c].iloc[0]
            if isinstance(v, (list, tuple, dict, np.ndarray)):
                bad.append(c)
    return bad


def compare_frames(s_pdf, d_pdf) -> tuple[str, str]:
    """Compare a Spark result with its DuckDB twin, both as pandas frames,
    as strictly as the value-hash gate this file mirrors: same dtype
    kinds, same column names, cell-exact rows after sorting. Returns
    ``(verdict, detail)``: verdict ``"exact"``, ``"tol"`` (equal at 1e-9
    relative, not bit-exact) or ``"failed"``; detail says why it is not
    exact."""
    bad_dtypes = _dtype_mismatches(s_pdf, d_pdf)
    if bad_dtypes:
        return "failed", "pandas dtype mismatch (value hash would differ): " + "; ".join(bad_dtypes)
    s_cols, d_cols = list(s_pdf.columns), list(d_pdf.columns)
    if sorted(s_cols) != sorted(d_cols):
        return "failed", f"columns differ spark={sorted(s_cols)} duck={sorted(d_cols)}"
    rows = lambda df: [tuple(r) for r in df.itertuples(index=False, name=None)]  # noqa: E731
    a = _rows_sorted(s_cols, rows(s_pdf))
    b = _rows_sorted(d_cols, rows(d_pdf))
    exact, tol, dev = _compare(a, b)
    if exact:
        return "exact", ""
    if tol:
        return "tol", f"values match at 1e-9 but NOT bit-exact (max rel dev {dev:.2e})"
    detail = f"value mismatch (max rel dev {dev:.2e}, rows {len(a)} vs {len(b)})"
    first = next(((ra, rb) for ra, rb in zip(a, b) if ra != rb), None)
    if first:
        detail += f"\n  spark: {first[0]}\n  duck : {first[1]}"
    return "failed", detail


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only: set[str] | None = None
    args = sys.argv[2:]
    if "--only" in args:
        only = set(args[args.index("--only") + 1].split(","))
    # --json <path>: ALSO write a machine-readable per-query verdict map
    # {name: "exact"|"tol"|"rows_only"|"failed"} — the committed
    # CHECKVALUES_r{N}.json artifact (VERDICT r06 "What's missing" #1:
    # the full-suite strict check must be auditable, not prose). Merges
    # into an existing file so the sf0.01 and sf0.1 passes (and the
    # split sf0.1 halves) accumulate into one artifact keyed by sf dir.
    json_path: str | None = None
    if "--json" in args:
        json_path = args[args.index("--json") + 1]
    verdicts: dict[str, str] = {}
    import duckdb

    import __spark_entry__ as e
    from map_reduce_implementation_spark.session import get_spark

    # CHECK_MASTER / CHECK_SP override the smoke defaults so the
    # cross-parallelism pass (local[32], shuffle_partitions=64 — the
    # CHECKVALUES_r{N} "sf0.01-sp64" key) runs this same file instead
    # of a hand-edited copy.
    spark = get_spark(
        app_name="check_values",
        master=os.environ.get("CHECK_MASTER", "local[8]"),
        shuffle_partitions=int(os.environ.get("CHECK_SP", "16")),
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs, osql = e.queries(), e.oracle_sql()
    n_exact = n_tol = n_bad = n_rows_only = 0
    verbose = os.environ.get("CHECK_VERBOSE", "")
    for name, fn in qs.items():
        if only is not None and name not in only:
            continue
        if verbose:
            print(f"... {name}", flush=True)
        s_pdf = fn(spark, sf).toPandas()
        unhash = _unhashable_cols(s_pdf)
        if unhash:
            print(f"FAIL {name}: non-scalar output columns (driver canon would "
                  f"crash): {unhash}")
            n_bad += 1
            verdicts[name] = "failed"
            continue
        if name not in osql:
            n_rows_only += 1
            verdicts[name] = "rows_only"
            continue
        verdict, detail = compare_frames(s_pdf, con.execute(osql[name]).df())
        verdicts[name] = verdict
        if verdict == "exact":
            n_exact += 1
        elif verdict == "tol":
            n_tol += 1
            print(f"TOL  {name}: {detail}")
        else:
            n_bad += 1
            print(f"FAIL {name}: {detail}")
    print(
        f"\n{n_exact} exact, {n_tol} within-tolerance, {n_bad} FAILED, "
        f"{n_rows_only} rows-only (no oracle)"
    )
    if json_path:
        import json as _json

        existing: dict = {}
        if os.path.exists(json_path):
            try:
                with open(json_path) as fh:
                    existing = _json.load(fh)
            except (OSError, ValueError):
                existing = {}
        # Key is self-describing: when CHECK_MASTER/CHECK_SP override the
        # smoke defaults, append "-sp{N}" so a cross-parallelism pass run
        # against the plain sf dir can't silently merge into the default
        # key (ADVICE r10). A dir already named "...-sp{N}" (the old
        # symlink convention) is left as-is.
        sf_key = os.path.basename(sf.rstrip("/"))
        overridden = "CHECK_MASTER" in os.environ or "CHECK_SP" in os.environ
        sp = int(os.environ.get("CHECK_SP", "16"))
        if overridden and not sf_key.endswith(f"-sp{sp}"):
            sf_key = f"{sf_key}-sp{sp}"
        merged = existing.get(sf_key, {})
        merged.update(verdicts)
        existing[sf_key] = dict(sorted(merged.items()))
        existing[sf_key + "_summary"] = {
            v: sum(1 for x in existing[sf_key].values() if x == v)
            for v in ("exact", "tol", "rows_only", "failed")
        }
        if overridden:
            existing[sf_key + "_env"] = {
                "master": os.environ.get("CHECK_MASTER", "local[8]"),
                "shuffle_partitions": sp,
            }
        with open(json_path, "w") as fh:
            _json.dump(existing, fh, indent=1)
        print(f"wrote {json_path} [{sf_key}]")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
