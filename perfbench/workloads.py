"""The benchmark workloads: `batch` and `stream`.

`batch` (closed loop) is one pass of the corpus build (release manifest,
semantic dedup) followed by the sync plan (inventory stats, size histogram,
src/dst diff, diff summary, transfer cost, task batches, then the task
store).
`stream` (open loop) runs, per cycle, the copy leg (task queue consumer, then
the monitor rollup, then the dashboard read) and the corpus leg (the
streaming dedup index, then the admission gate) over drops a lander thread
moves into the queue dirs on schedule.

Each workload drives the engine only through its public functions, on inputs
generated from the seed. Every call into a layer runs inside a
`Tracer.span`; every output is checked, and a failed call or a wrong output
is recorded by name in `ctx.failures`.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import gen

# Input sizes (recorded in BENCHMARK.json and printed by every run).
SYNC_OBJECTS = 5_000
CORPUS_DOCS = 600
CORPUS_VECTORS = 600
TASKS_PER_DROP = 100
DOCS_PER_DROP = 100
# Two drops a second offer 400 rows/s. A cycle over both legs takes 6-13 s on
# 4 cores, so each cycle takes every drop that landed during the one before
# (at most two micro-batches per leg: both consumers take 10 files per
# trigger), and the 20 drops of a 10 s open loop are picked up by 3 cycles.
# At one drop a second over 20 s the cycle count per run swung between 3 and
# 5 and the freshness medians between 7 and 16 s.
INTERVAL_S = 0.5
BACKLOG_DROPS = 12  # landed at once before the open loop: two micro-batches per leg, cold


@dataclass
class Ctx:
    spark: object
    tracer: object
    base_dir: str
    work: str
    seed: int
    seconds: float
    truth: dict
    failures: list = field(default_factory=list)
    attempted: int = 0
    report: dict = field(default_factory=dict)  # printed with the result

    def call(self, span: str, fn, *args, **kw):
        """One attempted layer call inside its span; a raised error is
        recorded as a failure and re-raised."""
        self.attempted += 1
        with self.tracer.span(span):
            try:
                return fn(*args, **kw)
            except Exception as e:
                self.failures.append(f"{span} raised {type(e).__name__}: {str(e)[:300]}")
                raise

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"check {name}: {detail}")


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and its
    label; with fewer than 21 samples that percentile is below the median,
    so the maximum is reported instead."""
    v = sorted(values)
    n = len(v)
    if n < 21:
        return v[-1], f"max of {n}"
    i = n - 11
    return v[i], f"p{100.0 * (i + 1) / n:.1f} of {n}"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# --------------------------------------------------------------------------
# batch


SYNC_QUERIES = (
    ("operators.stats.inventory_stats", "inventory_stats"),
    ("operators.stats.size_histogram", "size_histogram"),
    ("operators.joins.inventory_diff", "inventory_diff"),
    ("operators.joins.diff_summary", "diff_summary"),
    ("operators.cost.transfer_cost_estimate", "transfer_cost_estimate"),
    ("operators.joins.task_batches", "task_batches"),
)
CORPUS_QUERIES = (
    ("plans.llm_corpus.corpus_release_manifest", "corpus_release_manifest"),
    ("operators.similarity.semantic_dedup", "semantic_dedup"),
)


def batch(ctx: Ctx) -> dict:
    """One pass over freshly registered inputs, cold: what a one-shot planning
    job pays. (A second pass still runs mid JIT warm-up — on 4 cores pass times fall
    12.6, 10.3, 9.5, 8.9 s over four passes — so a single warm pass varies
    far more between runs than the cold one, and a JIT-steady median needs
    more passes than a run can afford.) A result's "freshness" is its return
    time from the pass start, with the inputs in place: the last result
    returns at the pass end, so freshness_tail_s equals first_job_s, and
    freshness_p50_s is the time until the fifth of the nine results."""
    from s3bigdatasync_spark import registry
    from s3bigdatasync_spark.plans import pipeline

    from tests.oracle_utils import compare

    spark, base = ctx.spark, ctx.base_dir
    exp = ctx.truth["sync_plan"]
    queries = registry.full_queries()
    tasks_dir = f"{ctx.work}/tasks"
    returned: list[float] = []

    def timed(span, fn, *args):
        out = ctx.call(span, fn, *args)
        returned.append(time.perf_counter() - t0)
        return out

    def sync_result(name):
        df = queries[name](spark, base)
        if name == "inventory_diff":  # every diff row is read, counted per class
            return df.groupBy("variance").count().collect()
        return df.collect()

    def corpus_result(name):
        df = queries[name](spark, base)
        return df.schema, df.collect()

    t0 = time.perf_counter()
    corpus = {name: timed(span, corpus_result, name) for span, name in CORPUS_QUERIES}
    out = {name: timed(span, sync_result, name) for span, name in SYNC_QUERIES}
    job = timed("plans.pipeline.list_producer", pipeline.list_producer,
                spark, spark.table("inventory_src"), "dst-bucket", tasks_dir)
    first = time.perf_counter() - t0

    # Checks, after the timed pass: the sync plan against the generator's
    # ground truth, the corpus results against the DuckDB oracles.
    check_sync(ctx, exp, out, job, tasks_dir)
    oracles = registry.full_oracles()
    for name, (schema, rows) in corpus.items():
        r = compare(spark.createDataFrame(rows, schema), oracles[name], base)
        ctx.check(f"{name}.oracle", r["ok"],
                  {k: v for k, v in r.items() if k != "ok"} if not r["ok"] else "")

    rows = exp["objects"] + CORPUS_DOCS + CORPUS_VECTORS
    t_tail, label = tail(returned)
    ctx.report.update({
        "input_rows": f"{rows} ({exp['objects']} objects, {CORPUS_DOCS} docs, {CORPUS_VECTORS} vectors)",
        "freshness_tail": label,
    })
    return {
        "first_job_s": first,
        "rows_per_s": rows / first,
        "freshness_p50_s": statistics.median(returned),
        "freshness_tail_s": t_tail,
        "catchup_rows_per_s": rows / first,
    }


def check_sync(ctx: Ctx, exp: dict, out: dict, job: dict, tasks_dir: str) -> None:
    diff = exp["diff"]
    got = {r["variance"]: r["count"] for r in out["inventory_diff"]}
    ctx.check("inventory_diff.counts", got == {k: v["n"] for k, v in diff.items()}, str(got))
    got = {r["variance"]: (r["n_objects"], r["bytes_to_move"]) for r in out["diff_summary"]}
    ctx.check("diff_summary", got == {k: (v["n"], v["bytes"]) for k, v in diff.items()}, str(got))
    got = {r["variance"]: (r["n_objects"], r["bytes_to_move"], r["n_requests"])
           for r in out["transfer_cost_estimate"]}
    ctx.check("transfer_cost_estimate",
              got == {k: (v["n"], v["bytes"], v["requests"]) for k, v in diff.items()}, str(got))
    hist = out["size_histogram"][0].asDict()
    ctx.check("size_histogram", hist == exp["histogram"], str(hist))
    got = {r["storage_class"]: {"object_count": r["object_count"], "total_size": r["total_size"],
                                "multipart_count": r["multipart_count"]}
           for r in out["inventory_stats"]}
    ctx.check("inventory_stats", got == exp["stats"], str(got))
    tb = out["task_batches"]
    ok = (len(tb) == exp["task_files"]
          and sum(r["n_objects"] for r in tb) == exp["objects"]
          and sum(r["batch_size"] for r in tb) == exp["bytes"])
    ctx.check("task_batches", ok, f"{len(tb)} batches")
    files = [f for f in os.listdir(tasks_dir) if f.startswith("part-")]
    ok = (job["job_info"]["n_tasks"] == exp["objects"] and len(files) == exp["task_files"]
          and job["statistics"]["total_size_bytes"] == exp["bytes"])
    ctx.check("list_producer.task_store", ok,
              f"{job['job_info']['n_tasks']} tasks in {len(files)} files")


# --------------------------------------------------------------------------
# stream


class Lander(threading.Thread):
    """Moves pre-generated drops from the stage dirs into the queue dirs at
    their scheduled times (open loop: the schedule never waits for the
    engine). Each file moves by rename, so a reader sees it whole or not at
    all."""

    def __init__(self, moves: list[list[tuple[str, str]]], due: list[float]):
        super().__init__(daemon=True)
        self.moves, self.due = moves, due
        self.late: list[float] = []

    def run(self) -> None:
        for pairs, t in zip(self.moves, self.due):
            wait = t - time.time()
            if wait > 0:
                time.sleep(wait)
            for src, dst in pairs:
                os.rename(src, dst)
            self.late.append(time.time() - t)


def consumed_files(checkpoint: str) -> set[str]:
    """File names a file-stream query has committed, from its checkpoint's
    source log (`sources/0/<batch>[.compact]`: a version line, then one JSON
    entry per file)."""
    log = f"{checkpoint}/sources/0"
    names: set[str] = set()
    if not os.path.isdir(log):
        return names
    for f in os.listdir(log):
        if f.startswith("."):
            continue
        with open(f"{log}/{f}") as fh:
            for line in fh:
                if line.startswith("{"):
                    names.add(os.path.basename(json.loads(line)["path"]))
    return names


def merged_drops(files: list[str], seen: set[str]) -> set[int]:
    """Indices of the drops whose file a query has committed."""
    return {i for i, f in enumerate(files) if f in seen}


def run_query(start_fn, *args) -> list[dict]:
    """Start an availableNow query, wait for it to drain, return its
    progress reports."""
    q = start_fn(*args)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return list(q.recentProgress)


def segments(state_dir: str) -> dict[str, int]:
    if not os.path.isdir(state_dir):
        return {}
    return {d: dir_bytes(f"{state_dir}/{d}") for d in os.listdir(state_dir) if d.startswith("seg_")}


class CopyLeg:
    """Task queue → copy log → stat table → dashboard (TaskExecutor →
    Monitor → UICenter)."""

    def __init__(self, ctx: Ctx, drops: list[dict]):
        self.ctx, self.drops = ctx, drops
        w = ctx.work
        self.queue, self.copy_log, self.dead = f"{w}/tasks_queue", f"{w}/copy_log", f"{w}/dead_letter"
        # The sent-log dir stays absent until the first batch writes it: an
        # existing empty dir makes the consumer's read fail schema inference.
        self.sent, self.ckpt, self.stat = f"{w}/sent_log", f"{w}/tasks_ckpt", f"{w}/stat"
        os.makedirs(self.queue)
        self.files = [d["file"] for d in drops]
        self.merged: set[int] = set()
        self.keys: set[str] = set()  # unique task keys merged so far
        self.progress: list[dict] = []
        self.log_rows: list[int] = []

    def cycle(self) -> tuple[set[int], float]:
        from s3bigdatasync_spark.plans import pipeline
        from s3bigdatasync_spark.streaming import queue as tq

        ctx, spark = self.ctx, self.ctx.spark

        def copy_fn(src_bucket, dst_bucket, key):
            # gen.copy_fails, inlined: this closure runs in Python workers,
            # which cannot import the benchmark's modules.
            import zlib

            return zlib.crc32(key.encode()) % 20 != 0

        self.progress += ctx.call("streaming.queue.consume_task_queue", run_query,
                                  tq.consume_task_queue, spark, self.queue, copy_fn,
                                  self.copy_log, self.dead, self.sent, self.ckpt)
        merged = merged_drops(self.files, consumed_files(self.ckpt))
        for d in merged - self.merged:
            self.keys.update(self.drops[d]["keys"])
        self.merged = merged
        ctx.call("plans.pipeline.monitor_stats", pipeline.monitor_stats, spark, self.copy_log, self.stat)
        p = ctx.call("plans.pipeline.dashboard_report", pipeline.dashboard_report, spark, self.stat)["progress"]
        t_read = time.time()
        total = p["success_num"] + p["failed_num"]
        self.log_rows.append(total)
        failed = sum(gen.copy_fails(k) for k in self.keys)
        ctx.check("dashboard_report.unique_tasks", total == len(self.keys),
                  f"{total} tasks counted, {len(self.keys)} unique in {len(merged)} drops")
        ctx.check("dashboard_report.failed", p["failed_num"] == failed,
                  f"{p['failed_num']} failed, {failed} expected in {len(merged)} drops")
        return merged, t_read

    def layer_counters(self) -> dict:
        out = {}
        for key in ("addBatch", "queryPlanning", "walCommit", "getBatch"):
            vals = [p["durationMs"].get(key, 0) for p in self.progress]
            out[f"streaming.queue.trigger_ms.{key}"] = statistics.mean(vals) if vals else 0.0
        rows_in = sum(p["numInputRows"] for p in self.progress)
        written = self.log_rows[-1] if self.log_rows else 0
        out["streaming.queue.sent_log_mb"] = dir_bytes(self.sent) / 1e6
        out["streaming.queue.redelivered_skipped_ratio"] = 1 - written / rows_in if rows_in else 0.0
        out["plans.pipeline.monitor_stats.log_rows_read"] = (
            statistics.mean(self.log_rows) if self.log_rows else 0.0)
        return out


class CorpusLeg:
    """Document drops → segmented dedup index → admission gate."""

    def __init__(self, ctx: Ctx, drops: list[dict]):
        self.ctx, self.drops = ctx, drops
        w = ctx.work
        self.queue, self.state, self.ckpt = f"{w}/docs_queue", f"{w}/dedup_state", f"{w}/docs_ckpt"
        os.makedirs(self.queue)
        self.files = [d["file"] for d in drops]
        self.merged: set[int] = set()
        self.keeper: dict[int, int] = {}  # content id -> lowest doc_id merged so far
        self.written = 0
        self.compactions = 0
        self.live: list[int] = []
        self.compaction_s: list[float] = []

    def cycle(self) -> tuple[set[int], float]:
        from pyspark.sql import functions as F
        from s3bigdatasync_spark.streaming import dedup_gate

        ctx, spark = self.ctx, self.ctx.spark
        before = segments(self.state)
        t0 = time.perf_counter()
        ctx.call("streaming.dedup_gate.stream_dedup_state", run_query,
                 dedup_gate.stream_dedup_state, spark, self.queue, self.state, self.ckpt)
        dt = time.perf_counter() - t0
        after = segments(self.state)
        new = [s for s in after if s not in before]
        self.written += sum(after[s] for s in new)
        compacted = [s for s in new if "_t0_" not in s]  # tier >= 1: a merge ran
        self.compactions += len(compacted)
        if compacted:
            self.compaction_s.append(dt)
        self.live.append(len(after))
        merged = merged_drops(self.files, consumed_files(self.ckpt))
        fresh = [self.drops[i] for i in sorted(merged - self.merged)]
        if not fresh:
            return merged, time.time()
        for d in fresh:
            for doc, cid in d["docs"]:
                if doc < self.keeper.get(cid, doc + 1):
                    self.keeper[cid] = doc
        paths = [f"{self.queue}/{d['file']}" for d in fresh]

        def gate():
            docs = spark.read.schema(dedup_gate.DOCS_STREAM_SCHEMA).parquet(*paths)
            rep = dedup_gate.admission_report(spark, self.state, docs)
            return rep.filter(F.col("admit")).select("doc_id").collect()

        admitted = {r["doc_id"] for r in ctx.call("streaming.dedup_gate.admission_report", gate)}
        t_read = time.time()
        for d in fresh:
            want = {doc for doc, cid in d["docs"] if self.keeper[cid] == doc}
            got = {doc for doc, _cid in d["docs"] if doc in admitted}
            ctx.check("admission_report.keepers", got == want,
                      f"{d['file']}: {len(got ^ want)} of {len(d['docs'])} docs gated wrongly")
        self.merged = merged
        return merged, t_read

    def layer_counters(self) -> dict:
        live = segments(self.state)
        return {
            "streaming.segments.write_amp": self.written / sum(live.values()) if live else 0.0,
            "streaming.segments.live_segments": statistics.mean(self.live) if self.live else 0.0,
            "streaming.segments.compactions": float(self.compactions),
            "streaming.segments.compaction_drop_s": (
                statistics.median(self.compaction_s) if self.compaction_s else 0.0),
        }


def stream(ctx: Ctx) -> dict:
    """BACKLOG_DROPS land at once and are drained cold (a monitor restarting
    after an outage: first_job_s and catchup_rows_per_s). Then one drop lands
    every INTERVAL_S for `seconds` while cycles run back to back. Each drop
    gives one freshness sample: from its scheduled landing to the return of
    the later of the two reads that reflect it, the dashboard read for its
    tasks and the admission read for its documents."""
    n_open = max(1, int(ctx.seconds / INTERVAL_S))
    n = BACKLOG_DROPS + n_open
    stage = f"{ctx.work}/stage"
    tasks = gen.write_task_drops(f"{stage}/tasks", ctx.seed, n, TASKS_PER_DROP)
    docs = gen.write_doc_drops(f"{stage}/docs", ctx.seed, n, DOCS_PER_DROP)
    legs = (CopyLeg(ctx, tasks), CorpusLeg(ctx, docs))
    moves = [[(f"{stage}/tasks/{t['file']}", f"{legs[0].queue}/{t['file']}"),
              (f"{stage}/docs/{d['file']}", f"{legs[1].queue}/{d['file']}")]
             for t, d in zip(tasks, docs)]
    rows = [t["rows"] + d["rows"] for t, d in zip(tasks, docs)]
    due = [0.0] * n
    seen = [[None] * n for _ in legs]  # per leg: read time that first reflected each drop
    late: list[float] = []
    n_cycles = 0

    def cycle():
        nonlocal n_cycles
        n_cycles += 1
        for j, leg in enumerate(legs):
            merged, t_read = leg.cycle()
            for d in merged:
                if seen[j][d] is None:
                    seen[j][d] = t_read

    def drain(upto: int, deadline: float):
        while any(s[d] is None for s in seen for d in range(upto)):
            if time.time() > deadline:
                ctx.check("stream.drained", False,
                          f"{[len(leg.merged) for leg in legs]} of {upto} drops reflected by the deadline")
                return
            cycle()

    # cold catch-up
    t_land = time.time()
    due[:BACKLOG_DROPS] = [t_land] * BACKLOG_DROPS
    lander = Lander(moves[:BACKLOG_DROPS], due[:BACKLOG_DROPS])
    lander.start()
    lander.join()
    late += lander.late
    drain(BACKLOG_DROPS, t_land + 120)
    first = time.time() - t_land
    # open loop
    start = time.time() + 0.05
    due[BACKLOG_DROPS:] = [start + i * INTERVAL_S for i in range(n_open)]
    lander = Lander(moves[BACKLOG_DROPS:], due[BACKLOG_DROPS:])
    lander.start()
    t_busy = time.perf_counter()
    n_cycles = 0
    drain(n, due[-1] + 120)
    busy = time.perf_counter() - t_busy
    lander.join()
    late += lander.late

    fresh = [max(s[d] for s in seen) - due[d] for d in range(BACKLOG_DROPS, n)
             if all(s[d] is not None for s in seen)]
    t_tail, label = tail(fresh)
    for leg in legs:
        ctx.report.update(leg.layer_counters())
    ctx.report.update({
        "generator.late_s": max(late),
        "input_rows": f"{sum(rows)} ({TASKS_PER_DROP} tasks + {DOCS_PER_DROP} docs per drop, "
                      f"{n} drops)",
        "backlog_drops": BACKLOG_DROPS,
        "open_loop": f"{n_open} drops at {1 / INTERVAL_S:g}/s picked up by {n_cycles} cycles, "
                     "one freshness sample each",
        "freshness_tail": label,
    })
    return {
        "first_job_s": first,
        "rows_per_s": sum(rows[BACKLOG_DROPS:]) / busy,
        "freshness_p50_s": statistics.median(fresh),
        "freshness_tail_s": t_tail,
        "catchup_rows_per_s": sum(rows[:BACKLOG_DROPS]) / first,
    }


WORKLOADS = {"batch": batch, "stream": stream}


def base_sizes(workload: str) -> gen.BaseSizes:
    """`batch` reads the generated base tables; `stream` only needs
    views.register_all to accept the directory, so its tables stay small."""
    if workload == "batch":
        return gen.BaseSizes(objects=SYNC_OBJECTS, docs=CORPUS_DOCS, vectors=CORPUS_VECTORS)
    return gen.BaseSizes(objects=2_000, docs=200, vectors=200)
