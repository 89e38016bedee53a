#!/usr/bin/env python3
"""Seeded workload benchmark for the s3bigdatasync_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Workloads: batch (corpus build + sync plan, closed loop) and stream (task
queue + dedup index legs, open loop). Each run is a fresh process with fresh
working directories under `.perfbench_run/`; inputs are generated from
--seed, every output is checked, and the last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 the Spark event log is switched on and
the metrics are the per-layer ones. Lines before the JSON give sample counts,
input sizes, error rate with its base, each failed check by name, and (for a
traced run after an untraced one of the same workload and seed) the tracing
overhead.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
DRIVER_MEM = "3g"

E2E_UNITS = {
    "setup_s": "s",
    "first_job_s": "s",
    "rows_per_s": "1/s",
    "freshness_p50_s": "s",
    "freshness_tail_s": "s",
    "catchup_rows_per_s": "1/s",
}
LAYER_COUNTERS = {
    "streaming.queue.trigger_ms.addBatch": "ms",
    "streaming.queue.trigger_ms.queryPlanning": "ms",
    "streaming.queue.trigger_ms.walCommit": "ms",
    "streaming.queue.trigger_ms.getBatch": "ms",
    "streaming.queue.sent_log_mb": "MB",
    "streaming.queue.redelivered_skipped_ratio": "ratio",
    "plans.pipeline.monitor_stats.log_rows_read": "count",
    "streaming.segments.write_amp": "ratio",
    "streaming.segments.live_segments": "count",
    "streaming.segments.compactions": "count",
    "streaming.segments.compaction_drop_s": "s",
    "generator.late_s": "s",
    # Peak memory is reported, not bounded: the JVM heap grows by G1's
    # timing-dependent sizing, and its quartile distance across ten seeds
    # reached a quarter of the median.
    "process.peak_rss_mb": "MB",
}


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: str | int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def configure(work: str, trace: bool) -> int:
    cores = len(os.sched_getaffinity(0))
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(f"{work}/{d}")
    # Keep every JVM's scratch files (and no perf-data file) inside the run dir.
    jvm_opts = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": jvm_opts,
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
        })
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CONF_JSON": json.dumps(conf),
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "TMPDIR": f"{work}/tmp",
    })
    return cores


def setup(tracer, base: str):
    """The cold set-up: launch the engine's JVM, build its session and
    register the generated inputs."""
    from s3bigdatasync_spark import views
    from s3bigdatasync_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    tracer.sc = spark.sparkContext
    with tracer.span("views.register_all"):
        views.register_all(spark, base)
    return spark


def stop_engine(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def fmt(v: float) -> str:
    return f"{v:.6g}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_proc = process_start_time()
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("s3bigdatasync_spark") is None:
        print(f"perfbench: s3bigdatasync_spark not found under {ROOT}; run from the "
              "repository root", file=sys.stderr)
        return 2
    import gen
    import spans as tr
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(RUN_DIR, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, t_proc, work, gen, tr, wl)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, t_proc, work, gen, tr, wl) -> int:
    trace = bool(args.trace)
    cores = configure(work, trace)
    t0 = time.time()
    base = f"{work}/base"
    truth = gen.write_base(base, args.seed, wl.base_sizes(args.workload))
    gen_s = time.time() - t0

    tracer = tr.Tracer(tag_jobs=trace)
    spark = setup(tracer, base)
    setup_s = time.time() - t_proc - gen_s

    ctx = wl.Ctx(spark=spark, tracer=tracer, base_dir=base, work=work, seed=args.seed,
                 seconds=args.seconds, truth=truth)
    try:
        e2e = wl.WORKLOADS[args.workload](ctx)
    except Exception as e:  # the failure is already recorded by name
        print(f"perfbench: workload aborted: {type(e).__name__}: {e}", file=sys.stderr)
        for f in ctx.failures:
            print(f"FAILED {f}", file=sys.stderr)
        stop_engine(spark)
        return 1
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    e2e["setup_s"] = setup_s
    ctx.report["process.peak_rss_mb"] = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    stop_engine(spark)

    failed = len(ctx.failures)
    attempted = max(ctx.attempted, 1)
    rep = ctx.report
    print(f"workload {args.workload} seed {args.seed} cores {cores} seconds {args.seconds} "
          f"trace {args.trace}; input generation {gen_s:.2f} s (not in setup_s)")
    print("inputs: " + ", ".join(f"{k}={v}" for k, v in rep.items()
                                 if not k.startswith(("streaming.", "plans.", "generator.", "process."))))
    print("setup_s: one cold set-up, from process start (minus input generation) through "
          "the JVM launch and session build to the inputs registered")
    for name, unit in E2E_UNITS.items():
        print(f"  {name} = {fmt(e2e[name])} {unit}")
    print(f"peak RSS (JVM VmHWM + Python VmHWM) = {fmt(rep['process.peak_rss_mb'])} MB")
    print(f"error_rate = {failed}/{attempted} = {failed / attempted:.6g} "
          "(failed calls + wrong outputs / operations attempted)")
    for f in ctx.failures:
        print(f"FAILED {f}")
    print("median busy per call: " + ", ".join(
        f"{name} {statistics.median(d):.3f} s x{len(d)}"
        for name in tr.SPANS if (d := tracer.durations(name))))

    prev_path = os.path.join(RUN_DIR, f"last-{args.workload}-{args.seed}-trace0.json")
    if trace:
        metrics = {}
        spans_path = os.path.join(RUN_DIR, f"spans-{args.workload}-{args.seed}.json")
        tracer.dump(spans_path)
        print(f"spans written to {os.path.relpath(spans_path)}")
        costs = tr.span_costs(tracer.spans, f"{work}/eventlog", cores)
        for name, (value, unit) in costs.items():
            metrics[name] = {"value": value, "unit": unit}
        for name, unit in LAYER_COUNTERS.items():
            metrics[name] = {"value": float(rep.get(name, 0.0)), "unit": unit}
        base_e2e = {}
        if os.path.exists(prev_path):
            with open(prev_path) as f:
                base_e2e = json.load(f)
        if base_e2e.get("seconds") == args.seconds:
            print("tracing overhead (traced - untraced, same workload, seed and seconds):")
            for name in E2E_UNITS:
                d = e2e[name] - base_e2e[name]
                print(f"  {name}: {fmt(d)} ({100 * d / base_e2e[name]:+.1f}%)")
        else:
            print("tracing overhead: run the same workload, seed and seconds with --trace 0 first")
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in E2E_UNITS.items()}
        with open(prev_path, "w") as f:
            json.dump({**e2e, "seconds": args.seconds}, f)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
