"""Spans around calls into the engine's layers, and their Spark-side cost.

A span is one call into a layer, named `<module>.<function>`. Spans are kept
in memory; with tracing on, each call is also tagged with
`sc.setJobGroup(<span>)`, and after the session stops the Spark event log is
folded into per-span counters: jobs, executor run time, shuffle bytes
written, bytes spilled and JVM GC time.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# Every span the workloads open, in report order.
SPANS = (
    "views.register_all",
    "operators.stats.inventory_stats",
    "operators.stats.size_histogram",
    "operators.joins.inventory_diff",
    "operators.joins.diff_summary",
    "operators.cost.transfer_cost_estimate",
    "operators.joins.task_batches",
    "plans.pipeline.list_producer",
    "plans.llm_corpus.corpus_release_manifest",
    "operators.similarity.semantic_dedup",
    "streaming.queue.consume_task_queue",
    "plans.pipeline.monitor_stats",
    "plans.pipeline.dashboard_report",
    "streaming.dedup_gate.stream_dedup_state",
    "streaming.dedup_gate.admission_report",
)
SPAN_STATS = (
    ("busy_s", "s"),
    ("jobs", "count"),
    ("core_util", "ratio"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("gc_s", "s"),
)


class Tracer:
    """Records (name, start, end) wall-clock times of each layer call. With
    `tag_jobs`, the call's Spark jobs are labelled with the span name through
    `sc`, the current SparkContext."""

    def __init__(self, tag_jobs: bool):
        self.tag_jobs = tag_jobs
        self.spans: list[tuple[str, float, float]] = []
        self.sc = None

    @contextmanager
    def span(self, name: str):
        if self.tag_jobs and self.sc is not None:
            self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))
            if self.tag_jobs and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e in self.spans if n == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{"name": n, "start": s, "end": e} for n, s, e in self.spans], f)


def _events(log_dir: str):
    """Every event of every application log under `log_dir`: single-file
    logs and rolling ones (a directory of `events_<n>_<app>` files)."""
    for path in sorted(glob.glob(f"{log_dir}/*")):
        parts = sorted(glob.glob(f"{path}/events_*"), key=_part_no) if os.path.isdir(path) else [path]
        for part in parts:
            with open(part) as f:
                for line in f:
                    yield json.loads(line)


def _part_no(path: str) -> int:
    return int(os.path.basename(path).split("_")[1])


def span_costs(spans: list[tuple[str, float, float]], log_dir: str, cores: int) -> dict:
    """Per-layer metrics from the spans and the event log(s) in `log_dir`.

    A job belongs to the span named by its job group; jobs without a span
    group (streaming micro-batches run on the query's own thread and group)
    belong to the span whose interval holds their submission time — spans
    never overlap, since only the main thread calls into the engine. Tasks
    follow their stage's job."""
    names = {n for n, _s, _e in spans}

    def by_time(ms: float) -> str | None:
        t = ms / 1000.0
        for n, s, e in spans:
            if s <= t <= e:
                return n
        return None

    stage_span: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    run_ms: dict[str, float] = defaultdict(float)
    gc_ms: dict[str, float] = defaultdict(float)
    shuffle_b: dict[str, float] = defaultdict(float)
    spill_b: dict[str, float] = defaultdict(float)
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            span = group if group in names else by_time(ev["Submission Time"])
            if span is None:
                continue
            jobs[span] += 1
            for sid in ev.get("Stage IDs", []):
                stage_span.setdefault(sid, span)
        elif kind == "SparkListenerTaskEnd":
            span = stage_span.get(ev.get("Stage ID"))
            tm = ev.get("Task Metrics")
            if span is None or not tm:
                continue
            run_ms[span] += tm.get("Executor Run Time", 0)
            gc_ms[span] += tm.get("JVM GC Time", 0)
            shuffle_b[span] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill_b[span] += tm.get("Disk Bytes Spilled", 0)

    out: dict[str, tuple[float, str]] = {}
    for name in SPANS:
        busy = [e - s for n, s, e in spans if n == name]
        calls = len(busy)
        total = sum(busy)
        per = (lambda v: v / calls) if calls else (lambda v: 0.0)
        vals = {
            "busy_s": statistics.median(busy) if busy else 0.0,
            "jobs": per(jobs[name]),
            "core_util": run_ms[name] / 1000.0 / (total * cores) if total else 0.0,
            "shuffle_mb": per(shuffle_b[name] / 1e6),
            "spill_mb": per(spill_b[name] / 1e6),
            "gc_s": per(gc_ms[name] / 1000.0),
        }
        for stat, unit in SPAN_STATS:
            out[f"{name}.{stat}"] = (vals[stat], unit)
    return out
