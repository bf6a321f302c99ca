"""Benchmark entry point: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload build_kernel --seed 1 \\
        --seconds 12 --trace 0

Run from the repository root. One client, this process, runs full
passes of the workload back to back for `--seconds` seconds in all;
every pass materializes its results through the noop sink. A cold
start (JVM launch, inputs, the first pass, whose results are kept for
the output check) comes first and is not timed. Set-up (a fresh Spark
session in the running JVM, input materialization, one warm pass) is
then made N_SETUPS times and reported as a median; together with the
cold start it warms the JVM for the timed window that follows. Outputs
are checked against an independent result outside the timed passes.

`--trace 0` reports the end-to-end metrics. `--trace 1` is the traced
run: it writes an uncompressed Spark event log, tags each call into a
layer with a Spark job group and records a span around it, and reports
the per-layer metrics. Both print a readable report and then, as the
last line, one JSON object with the keys correct, attempted, failed
and metrics. Inputs, spans and event logs go to `.perfbench_out/`
under the repository root.
"""
from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_SETUPS = 3
MIN_PASSES = 3  # a run's median never rests on one or two passes
DRIVER_MEMORY = "3g"
PROFILER = "spark.sql.pyspark.udf.profiler"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def make_spark(out_dir: str, event_log: bool = False):
    """local[nproc] session with a driver heap well under this class of
    machine's memory, UI off, scratch space inside `out_dir`."""
    from pyspark.sql import SparkSession
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(out_dir, "tmp")
    b = (SparkSession.builder.master(f"local[{cpus}]")
         .appName("perfbench")
         .config("spark.driver.memory", DRIVER_MEMORY)
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
         .config("spark.local.dir", tmp)
         .config("spark.sql.warehouse.dir",
                 os.path.join(out_dir, "warehouse"))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.shuffle.partitions", str(2 * cpus)))
    if event_log:
        log_dir = os.path.join(out_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """End the JVM this process launched and wait until it and every
    process below it (Python workers) have exited."""
    from pyspark import SparkContext
    from tracing import descendants, running
    gw = SparkContext._gateway
    if gw is None:
        return
    pids = descendants(os.getpid())
    gw.shutdown()
    gw.proc.stdin.close()  # the gateway exits when its stdin closes
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and any(running(p) for p in pids):
        time.sleep(0.1)


def timed_passes(wl, spark, seconds: float, tracer=None, first: int = 0,
                 min_passes: int = 1):
    """Closed loop: full passes back to back until `seconds` have
    passed and at least `min_passes` ran, numbered from `first`.
    Returns (wall times of passes that succeeded, per-part times,
    failed count)."""
    from contextlib import nullcontext
    times, parts, failed, n = [], {}, 0, first
    end = time.perf_counter() + seconds
    while n < first + min_passes or time.perf_counter() < end:
        t0 = time.perf_counter()
        try:
            with (tracer.span("pass") if tracer else nullcontext()) as ps:
                if ps is not None:
                    ps["pass"] = n
                part = wl.run_pass(spark, tracer, n)
        except Exception:  # a failed pass is counted, the loop goes on
            traceback.print_exc()
            failed += 1
        else:
            times.append(time.perf_counter() - t0)
            for k, v in part.items():
                parts.setdefault(k, []).append(v)
        n += 1
    return times, parts, failed


def spread(xs) -> str:
    if len(xs) < 2:
        return f"n={len(xs)}"
    q = statistics.quantiles(xs, n=4)
    return f"n={len(xs)}, p25 {q[0]:.3f}, p75 {q[2]:.3f}"


def line(name: str, value, unit: str, note: str = "") -> None:
    print(f"  {name:<34} {value:>14.4f} {unit:<6} {note}")


# ---------------------------------------------------------------------------
def run_untraced(wl, args, out_dir) -> dict:
    """Cold start, untimed: JVM launch, inputs and the run's first
    pass, whose results are checked. Then N_SETUPS set-ups, each timed
    alike: a fresh Spark session in the running JVM (the previous one
    stopped beforehand), inputs and one warm pass. Then the timed
    window in the last set-up's session, and the output check."""
    from tracing import RssSampler
    spark, setups = None, []
    with RssSampler() as rss:
        try:
            t0 = time.perf_counter()
            spark = make_spark(out_dir)
            wl.prepare(spark)
            wl.checked_pass(spark)
            cold_s = time.perf_counter() - t0
            for _ in range(N_SETUPS):
                spark.stop()
                t0 = time.perf_counter()
                spark = make_spark(out_dir)
                wl.prepare(spark)
                wl.run_pass(spark, None, -1)
                setups.append(time.perf_counter() - t0)
            times, parts, failed = timed_passes(wl, spark, args.seconds,
                                                min_passes=MIN_PASSES)
            bad = check(wl, spark)
        finally:
            if spark is not None:
                spark.stop()
            shutdown_jvm()
    if not times:
        raise RuntimeError("every timed pass failed")
    attempted = len(times) + failed + 1
    failed += bool(bad)
    pass_s = statistics.median(times)
    triples = wl.triples_per_pass()
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "pass_s": (pass_s, "s"),
        "triples_per_s": (triples / pass_s, "1/s"),
    }
    print(f"end-to-end ({wl.name}, seed {args.seed}, "
          f"{len(times)} timed passes):")
    line("setup_s", metrics["setup_s"][0], "s",
         "median of set-ups " + " ".join(f"{s:.2f}" for s in setups))
    line("pass_s", pass_s, "s", " ".join(f"{t:.2f}" for t in times))
    line("triples_per_s", metrics["triples_per_s"][0], "1/s",
         f"{triples} triples per pass")
    for q, xs in parts.items():
        line(f"{q}_s", statistics.median(xs), "s", spread(xs))
    line("cold_start_s", cold_s, "s",
         "JVM launch, inputs and the checked first pass (not gated)")
    line("peak_rss_mb", rss.peak_mb, "MB",
         "driver + JVM + Python workers (per-layer metric: too unsteady "
         "to gate)")
    line("failed_frac", failed / attempted, "", f"{failed} of {attempted}")
    return {"correct": not bad and failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def check(wl, spark) -> list[str]:
    try:
        bad = wl.check(spark)
    except Exception:  # an error while checking counts as a mismatch
        traceback.print_exc()
        bad = ["check raised"]
    for b in bad:
        print("CHECK FAILED:", b, file=sys.stderr)
    return bad


# ---------------------------------------------------------------------------
def run_traced(wl, args, out_dir) -> dict:
    """The cold start and as many warm passes as an untraced run makes
    before its window, in one session (one event log); then, for the
    window, untraced passes alternating with traced ones (spans, job
    groups), so that warm-up weighs on both alike; then the layer
    probes (the kernel path one under the UDF perf profiler) and the
    output check."""
    import layers
    from tracing import EventLog, JvmMemory, RssSampler, Tracer
    from workloads import KG_ALL
    tracer = Tracer(f"{wl.name}-seed{args.seed}")
    with RssSampler() as rss:
        spark = make_spark(out_dir, event_log=True)
        try:
            wl.prepare(spark)
            wl.checked_pass(spark)
            for _ in range(N_SETUPS):
                wl.run_pass(spark, None, -1)
            mem = JvmMemory(spark)
            base, traced, failed, n = [], [], 0, 0
            end = time.perf_counter() + args.seconds
            while n < 2 or time.perf_counter() < end:
                if n % 2:
                    with mem:
                        t, _, f = timed_passes(wl, spark, 0, tracer, n)
                    traced += t
                else:
                    t, _, f = timed_passes(wl, spark, 0, None, n)
                    base += t
                failed += f
                n += 1
            with tracer.span("probes"):
                scan_s = layers.source_scan_s(spark, tracer, wl.source)
                vec = layers.vectorized_probe(spark, tracer, wl.source)
                spark.conf.set(PROFILER, "perf")
                kp_rows = layers.kernel_path_probe(spark, tracer, wl.source)
                spark.conf.unset(PROFILER)
                wl.probe(spark, tracer)
                with tracer.span("kernel.sample"):
                    ks = layers.kernel_sample()
            prof = layers.udf_profile(spark)
            bad = check(wl, spark)
        finally:
            spark.stop()
            shutdown_jvm()
    if not traced or not base:
        raise RuntimeError("every timed pass failed")
    tracer.write(os.path.join(out_dir, "spans.jsonl"))
    (log,) = glob.glob(os.path.join(out_dir, "eventlog", "*"))
    ev = EventLog(log)

    passes = [group_stats(ev, f"pass{s['pass']}/", s)
              for s in tracer.spans if s["name"] == "pass"]
    queries = {q: [group_stats(ev, s["group"] + "/", s)
                   for s in tracer.spans if s["name"] == f"query.{q}"]
               for q in KG_ALL}
    vec_cpu = group_stats(ev, "probe/vectorized")["cpu"]
    batches = prof["batches"]
    metrics = {
        "source.scan_s": (scan_s, "s"),
        "source.scans_per_pass": (med(passes, "scans"), "count"),
        "vectorized.plan_s": (vec["plan_s"], "s"),
        "vectorized.cpu_s": (vec_cpu, "s"),
        "vectorized.exchanges": (vec["exchanges"], "count"),
        "kernel_path.shuffle_write_mb": (
            group_stats(ev, "probe/kernel_path")["shuffle_mb"], "MB"),
        "kernel_path.python_s": (prof["python_s"], "s"),
        "kernel_path.batches_in": (batches, "count"),
        "kernel_path.rows_out_per_batch": (kp_rows / batches, "rows"),
        "kernel.expand_s": (ks["expand_s"], "s"),
        "kernel.nodemap_s": (ks["nodemap_s"], "s"),
        "kernel.to_rdf_s": (ks["to_rdf_s"], "s"),
        "kernel.quads_per_s": (ks["quads_per_s"], "1/s"),
    }
    for q in KG_ALL:
        metrics[f"kg_api.{q}.jobs"] = (med(queries[q], "jobs"), "count")
        metrics[f"kg_api.{q}.shuffle_mb"] = (med(queries[q], "shuffle_mb"),
                                             "MB")
        metrics[f"kg_api.{q}.driver_gap_s"] = (med(queries[q], "gap"), "s")
    metrics.update({
        "spark.jobs": (med(passes, "jobs"), "count"),
        "spark.tasks": (med(passes, "tasks"), "count"),
        "spark.cpu_s": (med(passes, "cpu"), "s"),
        "spark.driver_gap_s": (med(passes, "gap"), "s"),
        "spark.shuffle_write_mb": (med(passes, "shuffle_mb"), "MB"),
        "spark.spill_mb": (med(passes, "spill_mb"), "MB"),
        "spark.gc_s": (mem.gc_s / len(traced), "s"),
        "spark.jvm_heap_peak_mb": (mem.heap_peak_mb, "MB"),
        "spark.task_skew": (med(passes, "skew"), "ratio"),
        "process.peak_rss_mb": (rss.peak_mb, "MB"),
        "trace.overhead_s": (statistics.median(traced)
                             - statistics.median(base), "s"),
    })
    report_traced(wl, tracer, base, traced, prof, queries, metrics)
    attempted = n + 1
    failed += bool(bad)
    return {"correct": not bad and failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def group_stats(ev, prefix: str, span: dict | None = None) -> dict:
    """Event-log totals over the job groups under `prefix`; with the
    span of the call that ran them, also its driver gap (wall time
    outside any of its Spark jobs)."""
    groups = ev.groups(prefix)
    stages = ev.stage_list(groups)
    out = {
        "jobs": ev.n_jobs(groups),
        "scans": ev.n_scans(groups),
        "tasks": sum(len(s["tasks"]) for s in stages),
        "cpu": sum(s["cpu_ns"] for s in stages) / 1e9,
        "shuffle_mb": sum(s["shuffle_write"] for s in stages) / 2**20,
        "spill_mb": sum(s["spill"] for s in stages) / 2**20,
        "skew": 1.0,
    }
    longest = max(stages, key=lambda s: s["wall_ms"], default=None)
    if longest and longest["tasks"]:
        out["skew"] = max(longest["tasks"]) / max(
            statistics.median(longest["tasks"]), 1)
    if span is not None:
        out["wall"] = span["end"] - span["start"]
        out["gap"] = out["wall"] - ev.job_busy_s(groups)
    return out


def med(rows: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in rows) if rows else 0.0


def report_traced(wl, tracer, base, traced, prof, queries, metrics) -> None:
    print(f"traced run ({wl.name}): {len(base)} untraced and "
          f"{len(traced)} traced passes")
    print(f"  pass_s untraced {statistics.median(base):.3f} s, traced "
          f"{statistics.median(traced):.3f} s: tracing overhead "
          f"{metrics['trace.overhead_s'][0]:.3f} s")
    pass_spans = [s for s in tracer.spans if s["name"] == "pass"]
    self_t: dict[str, float] = {}
    for ps in pass_spans:
        todo = [ps["id"]]
        while todo:
            sid = todo.pop()
            name = tracer.spans[sid]["name"]
            self_t[name] = self_t.get(name, 0.0) + tracer.self_time(sid)
            todo.extend(c["id"] for c in tracer.children(sid))
    n = len(pass_spans)
    print("  self time per traced pass, by layer (s):")
    for name, t in sorted(self_t.items(), key=lambda kv: -kv[1]):
        print(f"    {name:<44} {t / n:10.4f}")
    wall = statistics.mean(s["end"] - s["start"] for s in pass_spans)
    print(f"    {'sum of self times':<44} {sum(self_t.values()) / n:10.4f}"
          f"   pass wall time {wall:.4f}")
    print(f"  kernel path probe: kernel_path.python_s "
          f"{prof['python_s']:.3f} s summed over Python workers (perf "
          "profiler); cumulative share by phase:")
    for k, v in prof["share"].items():
        print(f"    {k:<12} {100 * v:6.1f} %")
    for q, rows in queries.items():
        print(f"  {q}_s {med(rows, 'wall'):.3f} s per call of kg_api.q_kg_{q}"
              f" (traced), source scans {med(rows, 'scans'):g}, "
              f"{len(rows)} call(s)")
    print("per-layer:")
    for k, (v, u) in metrics.items():
        line(k, v, u)


# ---------------------------------------------------------------------------
def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "jsonld_js_spark")):
        print(f"perfbench: no jsonld_js_spark package in {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench_out",
                           f"{args.workload}-seed{args.seed}-t{args.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.join(out_dir, "tmp"))
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(out_dir, "tmp")
    wl = WORKLOADS[args.workload](args.seed, out_dir)
    result = (run_traced if args.trace else run_untraced)(wl, args, out_dir)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
