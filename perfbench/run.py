#!/usr/bin/env python3
"""The repository's benchmark: one seeded workload, one process, one Spark
session at ``local[<cores>]``.

    python3 perfbench/run.py --workload text_corpus --seed 1 --seconds 12 --trace 0

A run prepares the seed's inputs and expected outputs (cached, untimed),
times a JVM launch through ``get_spark()`` plus input registration twice,
runs one cold pass, warms up until a pass stops gaining on the best before
it, then measures warm passes for ``--seconds``. Every call's output is
checked. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run measures untraced passes first,
then restarts the session with the event log on and measures traced
passes, so the tracing overhead is reported beside the layer numbers.
See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import host
import workloads
from tracing import Spans, event_log_conf, find_event_log, fold_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench")

# JVM launches with input registration; setup_s is their median. Each costs
# about 9 s; a third one would lengthen a run by about 15%.
SETUP_REPEATS = 2
# Warm-up: at least MIN_WARM_PASSES, then until two passes in a row gain
# less than SETTLE on the best pass before them, within MAX_WARMUP_S. A fixed
# count does not work: pass times fall for several passes while the JIT
# compiles, and one slow pass is not yet a plateau.
MIN_WARM_PASSES = 3
SETTLE = 0.02
MAX_WARMUP_S = 10.0
MIN_PASSES = 3
KEEP_SEEDS = 2  # cached input sets kept per workload

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "input_mb_s": "MB/s",
    "memory_mb": "MB",
    "success_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit. A metric
    of a layer the workload does not call reads 0."""
    m = {
        "session.start_s": "s",
        "session.register_s": "s",
        "session.cold_pass_s": "s",
        "session.warmup_passes": "count",
        "sources.scan_s": "s",
        "sources.write_s": "s",
        "sources.write_mb": "MB",
    }
    for fn in ("letter_counter", "word_finder"):
        m.update({f"jobs.{fn}.s": "s", f"jobs.{fn}.jobs": "count",
                  f"jobs.{fn}.busy_ratio": "ratio", f"jobs.{fn}.gc_s": "s"})
    for fn in ("letter_counter_map", "word_finder_map"):
        p = f"core.run_mapreduce.{fn}"
        m.update({f"{p}.s": "s", f"{p}.processing_s": "s", f"{p}.jobs": "count",
                  f"{p}.busy_ratio": "ratio"})
    for qs in workloads.SUITE_QUERIES.values():
        for q, _ in qs:
            p = f"suite.{q}"
            m.update({f"{p}.build_s": "s", f"{p}.action_s": "s", f"{p}.build_jobs": "count",
                      f"{p}.jobs": "count", f"{p}.stages": "count", f"{p}.tasks": "count",
                      f"{p}.shuffle_mb": "MB",
                      f"{p}.spill_mb": "MB", f"{p}.gc_s": "s"})
            if q in workloads.SINGLE_TASK_QUERIES:
                m.update({f"{p}.busy_ratio": "ratio", f"{p}.single_task_s": "s"})
    m["suite.single_task_share"] = "ratio"
    m.update({"trace.pass_s": "s", "trace.untraced_pass_s": "s", "trace.overhead_s": "s",
              "trace.unstable_calls": "count"})
    for edge in ("start", "end"):
        m.update({f"noise.memcpy_gbs.{edge}": "GB/s", f"noise.spin_s.{edge}": "s"})
    m["noise.steal_pct"] = "%"
    return m


def high_percentile(samples: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least 10 samples beyond it."""
    n = len(samples)
    if n < 11:
        return None
    p = int(100 * (1 - 10 / n))
    return p, statistics.quantiles(samples, n=100)[p - 1]


def prepare_inputs(workload: str, seed: int) -> str:
    """Inputs and expected outputs for (workload, seed), made by a child
    process so their memory stays out of this process's high-water mark,
    unless a copy made from the same sources is cached."""
    import inputs

    d = os.path.join(WORK, "inputs", f"{workload}-{seed}")
    if inputs.cached(d, inputs.source_key(workload)) is None:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "inputs.py"), "--workload", workload,
             "--seed", str(seed), "--dir", d],
            check=True, timeout=150, stdout=sys.stderr,
        )
    os.utime(d)
    cached = sorted(
        (os.path.join(WORK, "inputs", n) for n in os.listdir(os.path.join(WORK, "inputs"))
         if n.startswith(workload + "-")),
        key=os.path.getmtime,
    )
    for old in cached[:-KEEP_SEEDS]:
        shutil.rmtree(old, ignore_errors=True)
    return d


class Bench:
    def __init__(self, workload: str, d: str, cpus: int, run_id: str):
        self.workload, self.d, self.cpus = workload, d, cpus
        with open(os.path.join(d, "manifest.json")) as fh:
            self.manifest = json.load(fh)
        self.expected = None
        if workload != "text_corpus":
            with open(os.path.join(d, "expected.pkl"), "rb") as fh:
                self.expected = pickle.load(fh)  # written by inputs.py for this seed
        self.run_id = run_id
        self.spans = Spans(run_id)
        self.attempted = self.failed = 0
        self.spark = None
        self.traced = False
        self.log_dir = os.path.join(WORK, "eventlog")

    # ------------------------------------------------------------ sessions

    def conf(self) -> dict[str, str]:
        c = {
            # the workers import the repository's package (core map functions
            # are pickled by reference): put the repository on their path
            "spark.executorEnv.PYTHONPATH": REPO,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        }
        if self.traced:
            os.makedirs(self.log_dir, exist_ok=True)
            c.update(event_log_conf(self.log_dir))
        return c

    def start(self) -> tuple[float, float]:
        """``get_spark()`` then input registration; returns both times.
        ``get_spark()`` launches the JVM unless one is running."""
        from map_reduce_implementation_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.cpus}]",
                               extra_conf=self.conf())
        t1 = time.perf_counter()
        inputs = workloads.register(self.spark, self.workload, self.d)
        t2 = time.perf_counter()
        inputs.update({"out": os.path.join(WORK, "out"), "expected": self.expected})
        self.calls = workloads.calls(self.spark, self.workload, self.d, self.manifest, inputs)
        return t1 - t0, t2 - t1

    def jvm_retained_mb(self) -> float:
        """Heap in use after a full GC plus non-heap in use (metaspace,
        code cache), by the JVM's own accounting: what the JVM holds on to,
        however far its heap happened to grow before a collection."""
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return (mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()) / 1e6

    def shutdown(self) -> None:
        """Stop the context, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)

    # -------------------------------------------------------------- passes

    def run_pass(self, idx: int) -> dict:
        """One pass over the call list; returns timings per call."""
        sc = self.spark.sparkContext if self.traced else None
        parent = f"pass{idx}"
        rec = {"pass": idx, "traced": self.traced, "calls": []}
        for ci, call in enumerate(self.calls):
            group = f"{self.run_id}/p{idx}/{ci}/{call.metric}"
            ok, out = False, None
            t0 = t1 = t2 = time.perf_counter()
            try:
                if self.traced:
                    sc.setJobGroup(group + "/build", call.metric)
                obj = call.build() if call.build else None
                t1 = time.perf_counter()
                if self.traced:
                    sc.setJobGroup(group + "/action", call.metric)
                out = call.action(obj)
                t2 = time.perf_counter()
                ok = bool(call.check(out))
            except Exception:  # noqa: BLE001 -- a failed call is counted, the run goes on
                traceback.print_exc(file=sys.stderr)
                t2 = max(t2, t1)
            self.attempted += 1
            if not ok:
                self.failed += 1
                print(f"FAILED {call.metric} (pass {idx})", file=sys.stderr)
            if self.traced:
                self.spans.add(call.metric + ".build", parent, t0, t1)
                self.spans.add(call.metric + ".action", parent, t1, t2)
            c = {"metric": call.metric, "group": group, "build_s": t1 - t0,
                 "action_s": t2 - t1, "ok": ok}
            if hasattr(out, "processing_time_us"):
                c["processing_s"] = out.processing_time_us / 1e6
            if call.metric == "sources.write" and ok:
                c["write_mb"] = sum(os.path.getsize(p) for p in out) / 1e6
            rec["calls"].append(c)
        rec["pass_s"] = sum(c["build_s"] + c["action_s"] for c in rec["calls"])
        return rec

    def warm_up(self, first: int) -> list[dict]:
        """Passes until two in a row gain less than SETTLE on the best
        pass before them."""
        passes: list[dict] = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < MAX_WARMUP_S:
            passes.append(self.run_pass(first + len(passes)))
            if len(passes) >= MIN_WARM_PASSES:
                best = min(p["pass_s"] for p in passes[:-2])
                if min(p["pass_s"] for p in passes[-2:]) > (1 - SETTLE) * best:
                    break
        return passes

    def measure(self, first: int, seconds: float) -> list[dict]:
        passes: list[dict] = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or len(passes) < MIN_PASSES:
            passes.append(self.run_pass(first + len(passes)))
        return passes

    def input_bytes_per_pass(self) -> int:
        return sum(c.input_bytes for c in self.calls)


def layer_metrics(bench: Bench, traced: list[dict], stats: dict) -> dict[str, float]:
    """Per-layer medians over the traced passes (calls sharing a metric
    are summed within a pass)."""
    def med(values):
        return statistics.median(values) if values else 0.0

    per: dict[str, list[dict]] = {}
    single_share: list[float] = []
    for rec in traced:
        agg: dict[str, dict] = {}
        for c in rec["calls"]:
            a = agg.setdefault(c["metric"], {"build_s": 0.0, "action_s": 0.0, "processing_s": 0.0,
                                             "write_mb": 0.0, "build_jobs": 0, "jobs": 0, "stages": 0, "tasks": 0,
                                             "run_ms": 0, "gc_ms": 0, "shuffle": 0, "spill": 0,
                                             "single_ms": 0})
            for k in ("build_s", "action_s", "processing_s", "write_mb"):
                a[k] += c.get(k, 0.0)
            for phase in ("build", "action"):
                s = stats.get(f"{c['group']}/{phase}")
                if s is None:
                    continue
                if phase == "build":
                    a["build_jobs"] += s.jobs
                a["jobs"] += s.jobs
                a["stages"] += s.stages
                a["tasks"] += s.tasks
                a["run_ms"] += s.run_ms
                a["gc_ms"] += s.gc_ms
                a["shuffle"] += s.shuffle_bytes
                a["spill"] += s.spill_bytes
                a["single_ms"] += s.single_task_ms
        for k, v in agg.items():
            per.setdefault(k, []).append(v)
        single_ms = sum(a["single_ms"] for m, a in agg.items()
                        if m.removeprefix("suite.") in workloads.SINGLE_TASK_QUERIES)
        single_share.append(single_ms / 1000 / rec["pass_s"])

    def series(metric: str, fn) -> list[float]:
        return [fn(a) for a in per.get(metric, [])]

    def busy(a):
        wall = a["build_s"] + a["action_s"]
        return a["run_ms"] / 1000 / (wall * bench.cpus) if wall > 0 else 0.0

    out: dict[str, float] = {}
    out["sources.scan_s"] = med(series("sources.scan", lambda a: a["action_s"]))
    out["sources.write_s"] = med(series("sources.write", lambda a: a["action_s"]))
    out["sources.write_mb"] = med(series("sources.write", lambda a: a["write_mb"]))
    for fn in ("letter_counter", "word_finder"):
        p = f"jobs.{fn}"
        out[f"{p}.s"] = med(series(p, lambda a: a["build_s"] + a["action_s"]))
        out[f"{p}.jobs"] = med(series(p, lambda a: a["jobs"]))
        out[f"{p}.busy_ratio"] = med(series(p, busy))
        out[f"{p}.gc_s"] = med(series(p, lambda a: a["gc_ms"] / 1000))
    for fn in ("letter_counter_map", "word_finder_map"):
        p = f"core.run_mapreduce.{fn}"
        out[f"{p}.s"] = med(series(p, lambda a: a["build_s"] + a["action_s"]))
        out[f"{p}.processing_s"] = med(series(p, lambda a: a["processing_s"]))
        out[f"{p}.jobs"] = med(series(p, lambda a: a["jobs"]))
        out[f"{p}.busy_ratio"] = med(series(p, busy))
    for q in [m for m in per if m.startswith("suite.")]:
        out[f"{q}.build_s"] = med(series(q, lambda a: a["build_s"]))
        out[f"{q}.action_s"] = med(series(q, lambda a: a["action_s"]))
        out[f"{q}.build_jobs"] = med(series(q, lambda a: a["build_jobs"]))
        out[f"{q}.jobs"] = med(series(q, lambda a: a["jobs"]))
        out[f"{q}.stages"] = med(series(q, lambda a: a["stages"]))
        out[f"{q}.tasks"] = med(series(q, lambda a: a["tasks"]))
        out[f"{q}.shuffle_mb"] = med(series(q, lambda a: a["shuffle"] / 1e6))
        out[f"{q}.spill_mb"] = med(series(q, lambda a: a["spill"] / 1e6))
        out[f"{q}.gc_s"] = med(series(q, lambda a: a["gc_ms"] / 1000))
        if q.removeprefix("suite.") in workloads.SINGLE_TASK_QUERIES:
            out[f"{q}.busy_ratio"] = med(series(q, busy))
            out[f"{q}.single_task_s"] = med(series(q, lambda a: a["single_ms"] / 1000))
    out["suite.single_task_share"] = med(single_share)
    return out


def unstable_calls(traced: list[dict], stats: dict) -> list[str]:
    """Calls whose job count changed between traced warm passes."""
    counts: dict[str, set[int]] = {}
    for rec in traced:
        for ci, c in enumerate(rec["calls"]):
            n = sum(stats[g].jobs for g in (c["group"] + "/build", c["group"] + "/action")
                    if g in stats)
            counts.setdefault(f"{ci}:{c['metric']}", set()).add(n)
    return sorted(k for k, v in counts.items() if len(v) > 1)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "map_reduce_implementation_spark", "__init__.py")):
        print("perfbench: the repository's package is missing; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [REPO, os.path.join(REPO, "tools")]
    import map_reduce_implementation_spark.session  # noqa: F401 -- module imports stay out of set-up
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2
    for sub in ("tmp", "runs"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)  # measure the package's default heap
    run_id = f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}"
    cpus = len(os.sched_getaffinity(0))

    noise_start = host.noise()
    cpu_start = host.cpu_times()
    t_prep = time.perf_counter()
    d = prepare_inputs(args.workload, args.seed)
    prepare_s = time.perf_counter() - t_prep
    bench = Bench(args.workload, d, cpus, run_id)
    try:
        starts, registers = [], []
        for i in range(SETUP_REPEATS):
            if i:
                bench.shutdown()
            s, r = bench.start()
            starts.append(s)
            registers.append(r)
        cold = bench.run_pass(0)
        warm = bench.warm_up(1)
        measured = bench.measure(1 + len(warm), args.seconds)
        rss = host.peak_rss()
        jvm_mb = bench.jvm_retained_mb()  # its full GC comes after the timed passes
        traced: list[dict] = []
        stats: dict = {}
        if args.trace:
            bench.traced = True
            bench.start()
            app_id = bench.spark.sparkContext.applicationId
            first = 1 + len(warm) + len(measured)
            bench.run_pass(first)  # first builds in a new session launch extra jobs
            traced = bench.measure(first + 1, args.seconds)
            bench.spark.stop()
            bench.spark = None
            stats = fold_event_log(find_event_log(bench.log_dir, app_id))
    finally:
        bench.shutdown()
    noise_end = host.noise()
    steal_pct = host.steal_pct(cpu_start, host.cpu_times())

    pass_times = [p["pass_s"] for p in measured]
    pass_s = statistics.median(pass_times)
    in_bytes = bench.input_bytes_per_pass()
    e2e = {
        "setup_s": statistics.median(s + r for s, r in zip(starts, registers)),
        "pass_s": pass_s,
        "input_mb_s": in_bytes / pass_s / 1e6,
        # the JVM's high-water mark follows its garbage collector's heap
        # sizing (it spread by up to a quarter across runs), so the JVM counts
        # with what it retains; the Python processes with their high-water marks
        "memory_mb": jvm_mb + sum(v for name, v in rss.items() if name != "java"),
        "success_ratio": (bench.attempted - bench.failed) / bench.attempted,
    }
    fail_ratio = bench.failed / bench.attempted
    hp = high_percentile(pass_times)
    print(f"perfbench {args.workload} seed={args.seed} local[{cpus}] "
          f"input/pass={in_bytes / 1e6:.1f} MB run={run_id}")
    print(f"  setup_s      {e2e['setup_s']:.4f} s    median of {len(starts)} JVM launches "
          f"(get_spark {statistics.median(starts):.2f} s + input registration "
          f"{statistics.median(registers):.2f} s)")
    print(f"  pass_s       {pass_s:.4f} s    median of n={len(pass_times)} warm passes, "
          + (f"p{hp[0]}={hp[1]:.4f} s" if hp else "no percentile has 10 samples beyond it")
          + f"; cold pass {cold['pass_s']:.2f} s, {len(warm)} warm-up passes")
    print(f"  input_mb_s   {e2e['input_mb_s']:.2f} MB/s")
    print(f"  memory_mb    {e2e['memory_mb']:.1f} MB    JVM retained {jvm_mb:.0f} + Python "
          "high-water marks " + ", ".join(f"{k} {v:.0f}" for k, v in sorted(rss.items())
                                          if k != "java"))
    print(f"  peak_rss_mb  {sum(rss.values()):.1f} MB    high-water marks (not gated): "
          + ", ".join(f"{k} {v:.0f}" for k, v in sorted(rss.items())))
    print(f"  fail_ratio   {fail_ratio:.4f} ratio ({bench.failed} of {bench.attempted} calls)")
    print(f"  run wall     {time.perf_counter() - t_main:.1f} s (input preparation {prepare_s:.1f} s)")
    print(f"  host noise   memcpy {noise_start['memcpy_gbs']:.2f} -> {noise_end['memcpy_gbs']:.2f} "
          f"GB/s, spin {noise_start['spin_s']:.3f} -> {noise_end['spin_s']:.3f} s, "
          f"CPU steal {steal_pct:.2f}%")

    record = {"run_id": run_id, "workload": args.workload, "seed": args.seed, "cpus": cpus,
              "end_to_end": e2e, "fail_ratio": fail_ratio,
              "starts": starts, "registers": registers, "peak_rss": rss, "jvm_retained_mb": jvm_mb,
              "cold": cold, "warm": warm,
              "measured": measured,
              "noise": {"start": noise_start, "end": noise_end, "steal_pct": steal_pct}}
    if args.trace:
        unstable = unstable_calls(traced, stats)
        units = per_layer_units()
        layers = {name: 0.0 for name in units}
        layers.update(layer_metrics(bench, traced, stats))
        traced_s = statistics.median(p["pass_s"] for p in traced)
        layers.update({
            "session.start_s": statistics.median(starts),
            "session.register_s": statistics.median(registers),
            "session.cold_pass_s": cold["pass_s"],
            "session.warmup_passes": len(warm),
            "trace.pass_s": traced_s,
            "trace.untraced_pass_s": pass_s,
            "trace.overhead_s": traced_s - pass_s,
            "trace.unstable_calls": len(unstable),
            "noise.memcpy_gbs.start": noise_start["memcpy_gbs"],
            "noise.memcpy_gbs.end": noise_end["memcpy_gbs"],
            "noise.spin_s.start": noise_start["spin_s"],
            "noise.spin_s.end": noise_end["spin_s"],
            "noise.steal_pct": steal_pct,
        })
        print(f"  tracing overhead {traced_s - pass_s:+.4f} s per pass "
              f"(traced {traced_s:.4f} s, untraced {pass_s:.4f} s)")
        if layers["suite.single_task_share"]:
            print(f"  single-task stages of {', '.join(workloads.SINGLE_TASK_QUERIES)}: "
                  f"{layers['suite.single_task_share']:.1%} of the traced pass")
        if unstable:
            print(f"  job count changed between warm passes: {', '.join(unstable)}")
        record.update({"traced": traced, "layers": layers, "unstable_calls": unstable})
        bench.spans.write(os.path.join(WORK, "runs", run_id + ".spans.json"))
        metrics = {k: {"value": layers[k], "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    with open(os.path.join(WORK, "runs", run_id + ".json"), "w") as fh:
        json.dump(record, fh, default=str)
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
