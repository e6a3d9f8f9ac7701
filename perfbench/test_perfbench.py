"""The benchmark's own tests; no Spark session needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO, os.path.join(REPO, "tools")]

import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bench_json() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_same_seed_same_inputs_other_seed_other_inputs():
    n = 256 * 1024
    assert inputs.corpus_bytes(7, n) == inputs.corpus_bytes(7, n)
    assert inputs.corpus_bytes(7, n) != inputs.corpus_bytes(8, n)
    names = sorted({t for qs in workloads.SUITE_QUERIES.values() for _, ts in qs for t in ts})
    a, b, c = (inputs.suite_tables(s, names) for s in (7, 7, 8))
    for name in names:
        assert a[name].equals(b[name]), name
        assert not a[name].equals(c[name]), name


def test_corpus_follows_the_fixture_schema():
    data = inputs.corpus_bytes(3, 256 * 1024)
    lines = data.decode("ascii").split("\n")
    assert lines[-1] == "" and max(len(ln) for ln in lines) <= 80
    for ch in "'`_":
        assert ch in data.decode()
    assert any(c.isupper() for c in data.decode()) and any(c.islower() for c in data.decode())


def test_metric_names_and_units_match_benchmark_json():
    spec = _bench_json()
    layers = run.per_layer_units()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    for name in list(run.END_TO_END) + list(layers):
        assert NAME.fullmatch(name), name


def test_per_layer_count_is_capped():
    assert len(run.per_layer_units()) <= 128


def _text_bench(letters_out) -> run.Bench:
    """A Bench over the text_corpus call list with the letter counter's
    output replaced; every other call is left out."""
    manifest = {
        "lines": 3, "letters": list(range(26)), "frequent_word": "ab", "rare_word": "cd",
        "frequent_lines": 1, "frequent_md5": "", "rare": [], "slice_letters": [],
        "slice_frequent": [], "input_bytes": {"corpus": 10, "slice": 5},
    }
    calls = workloads.calls(None, "text_corpus", "/nonexistent", manifest,
                            {"corpus": None, "out": "/nonexistent"})
    counter = next(c for c in calls if c.metric == "jobs.letter_counter")
    counter.action = lambda _: letters_out
    bench = run.Bench.__new__(run.Bench)
    bench.calls, bench.traced, bench.spark = [counter], False, None
    bench.attempted = bench.failed = 0
    bench.run_id, bench.spans = "test", None
    return bench


def test_corrupted_letter_count_gives_nonzero_fail_ratio():
    good = [(chr(65 + i), i) for i in range(26)]
    bench = _text_bench(good)
    bench.run_pass(0)
    assert (bench.attempted, bench.failed) == (1, 0)

    bad = list(good)
    bad[4] = ("E", 5)
    bench = _text_bench(bad)
    bench.run_pass(0)
    assert bench.failed / bench.attempted > 0


def test_suite_check_is_cell_exact():
    expected = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})
    assert workloads.suite_check(expected, expected.iloc[::-1].reset_index(drop=True))
    off = expected.copy()
    off.loc[1, "v"] = 0.25 + 1e-12
    assert not workloads.suite_check(expected, off)
    assert not workloads.suite_check(expected, expected.astype({"k": "float64"}))


def test_high_percentile_needs_ten_samples_beyond():
    assert run.high_percentile([1.0] * 10) is None
    p, _ = run.high_percentile([float(i) for i in range(40)])
    assert p == 75


def test_inputs_made_from_other_sources_are_remade(tmp_path, monkeypatch):
    made = []
    monkeypatch.setattr(inputs, "_prepare_text", lambda seed, d: made.append(seed) or {})
    d = str(tmp_path / "inputs")
    inputs.prepare("text_corpus", 1, d)
    inputs.prepare("text_corpus", 1, d)
    assert made == [1]
    with open(os.path.join(d, "manifest.json"), "w") as fh:
        json.dump({"source_key": "made-by-an-older-inputs.py"}, fh)
    inputs.prepare("text_corpus", 1, d)
    assert made == [1, 1]


def test_event_log_fold_counts_single_task_stage_time(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "g"}},
        *({"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": i},
           "Properties": {"spark.jobGroup.id": "g"}} for i in (1, 2)),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 1, "Submission Time": 1000, "Completion Time": 1600}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Number of Tasks": 4, "Submission Time": 1600, "Completion Time": 1900}},
    ]
    log = tmp_path / "app"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    g = tracing.fold_event_log(str(log))["g"]
    assert (g.jobs, g.stages, g.single_task_ms) == (1, 2, 600)
