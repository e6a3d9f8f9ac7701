"""Artifact-vs-quote tripwire (round 7).

The repo's evidence rule is that every committed bench artifact must sit
inside the ranges the README quotes. Keeping that rule by hand failed
twice — the MinHash family took three rounds to reconcile a committed
slope with its prose quote, and the round-6 driver's retrieval slope
(0.682) landed 4% outside the quoted 0.52–0.66 — so the quoted ranges
now live in ``bench_ranges.json`` and this test asserts EVERY committed
run record and driver bench artifact against them. Committing a bench
run outside a quoted range now fails pytest in the same tree, forcing
the quote update (or the outlier annotation) into the same commit.

No Spark session needed — pure JSON reading, runs in milliseconds.
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ranges():
    with open(os.path.join(REPO, "bench_ranges.json")) as fh:
        return json.load(fh)


def _run_records():
    """[(round, run, tag, record)] for bench_runs/round{N}_run{K}.json."""
    out = []
    for path in glob.glob(os.path.join(REPO, "bench_runs", "round*_run*.json")):
        m = re.search(r"round(\d+)_run(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as fh:
            rec = json.load(fh)
        out.append((int(m.group(1)), int(m.group(2)), os.path.basename(path).replace(".json", ""), rec))
    return sorted(out)


def _driver_records():
    """[(round, tag, record)] for BENCH_r{N}.json (drivers wrap in 'parsed')."""
    out = []
    for path in glob.glob(os.path.join(REPO, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as fh:
            rec = json.load(fh)
        rec = rec.get("parsed") or rec
        if not isinstance(rec, dict):
            continue
        out.append((int(m.group(1)), os.path.basename(path).replace(".json", ""), rec))
    return sorted(out)


def _check(tag: str, rec: dict, spec: dict, errors: list[str], *,
           rnd: int, run: int | None) -> None:
    outliers = {tuple(o) for o in spec.get("outliers", [])}
    scaling = rec.get("scaling") or {}
    for fam, fspec in spec["families"].items():
        row = scaling.get(fam)
        if not isinstance(row, dict):
            continue
        for metric in ("slope_vs_linear", "slope_x100_vs_linear"):
            if metric not in row or metric not in fspec:
                continue
            # the x100 protocol is gated separately from the 10x arm
            # (round 8 moved every 100x point to its own fresh JVM with
            # an in-session interleaved 1x denominator — x100_since —
            # while the 10x arm protocol was unchanged)
            if metric == "slope_x100_vs_linear":
                since = fspec.get("x100_since", fspec.get("since", [0, 0]))
                driver_since = fspec.get(
                    "x100_driver_since", fspec.get("driver_since", 0)
                )
            else:
                since = fspec.get("since", [0, 0])
                driver_since = fspec.get("driver_since", 0)
            if run is None:
                if rnd < driver_since:
                    continue
            elif (rnd, run) < tuple(since):
                continue
            lo, hi = fspec[metric]
            v = row[metric]
            if not (lo <= v <= hi) and (tag, fam) not in outliers:
                errors.append(f"{tag}: {fam}.{metric}={v} outside [{lo}, {hi}]")
    queries = rec.get("queries") or {}
    for q, bounds in spec.get("parity_queries", {}).items():
        if q.startswith("_"):
            continue
        lo, hi = bounds
        if q in queries and (tag, q) not in outliers:
            v = queries[q]
            if isinstance(v, (int, float)) and v == v and not (lo <= v <= hi):
                errors.append(f"{tag}: queries.{q}={v} outside [{lo}, {hi}]")
    throughput = rec.get("throughput") or {}
    tspec = spec.get("throughput", {})
    # the x50 throughput protocol (8 MB splits, best-of-4 double-warm)
    # dates to round 4 — earlier artifacts measured the default-split
    # shape and are gated out like any superseded protocol
    t_gated = (
        rnd < tspec.get("_driver_since", 0)
        if run is None
        else (rnd, run) < tuple(tspec.get("_since", [0, 0]))
    )
    for t, bounds in tspec.items():
        if t.startswith("_"):
            continue
        lo, hi = bounds
        if t in throughput and (tag, t) not in outliers and not t_gated:
            v = throughput[t]
            if not (lo <= v <= hi):
                errors.append(f"{tag}: throughput.{t}={v} outside [{lo}, {hi}]")


def test_all_committed_run_records_inside_quoted_ranges():
    spec = _ranges()
    errors: list[str] = []
    records = _run_records()
    assert records, "no bench_runs/round*_run*.json records found"
    for rnd, run, tag, rec in records:
        _check(tag, rec, spec, errors, rnd=rnd, run=run)
    assert not errors, "\n".join(errors)


def test_all_driver_bench_artifacts_inside_quoted_ranges():
    spec = _ranges()
    errors: list[str] = []
    for rnd, tag, rec in _driver_records():
        _check(tag, rec, spec, errors, rnd=rnd, run=None)
    assert not errors, "\n".join(errors)


def test_family_table_matches_banded_families():
    """bench.FAMILIES drives both the 10× and the 100× points, so its
    names, in record order, must be exactly the families banded for both
    slopes — a family added to one side without the other either goes
    unmeasured or unchecked."""
    import bench

    banded = [
        f
        for f, fs in _ranges()["families"].items()
        if "slope_vs_linear" in fs and "slope_x100_vs_linear" in fs
    ]
    assert [f.name for f in bench.FAMILIES] == banded


def test_load_snapshot_shape():
    """The per-point load telemetry (round 8) must carry the fields the
    outlier-annotation rule cites. On hosts without procfs (macOS /
    Windows) bench._load_snapshot deliberately degrades to {} — assert
    that contract instead of hard-failing where the production code is
    portable by design."""
    import os

    import bench

    snap = bench._load_snapshot()
    if not os.path.exists("/proc/loadavg"):
        assert snap == {}
        return
    assert {"load1", "load5", "runq", "procs"} <= set(snap)
    assert snap["procs"] > 0 and snap["load1"] >= 0.0


def test_ranges_file_is_well_formed():
    spec = _ranges()
    for fam, fspec in spec["families"].items():
        for metric in ("slope_vs_linear", "slope_x100_vs_linear"):
            if metric in fspec:
                lo, hi = fspec[metric]
                assert 0 < lo < hi, (fam, metric)
    for sect in ("parity_queries", "throughput"):
        for k, v in spec.get(sect, {}).items():
            if k.startswith("_"):
                continue
            lo, hi = v
            assert 0 < lo < hi, (sect, k)
