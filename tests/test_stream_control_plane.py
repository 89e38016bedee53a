"""Streaming control plane: the byte-sized admission policy of every
file-stream source, the fixed-schema control-plane reads (copy_log, stat
table, sent-log), the single-writer guard of the segmented sink, and
job-count guards that fail if a change adds control-plane Spark actions back
to the per-micro-batch paths."""

from __future__ import annotations

import json
import os
import uuid
from datetime import datetime, timezone

import pytest

from s3bigdatasync_spark.plans.pipeline import (
    dashboard_report,
    monitor_stats,
    task_executor,
)
from s3bigdatasync_spark.streaming.dedup_gate import (
    _BUCKET,
    _MERGE_AGGS,
    _STATE_KEYS,
    _STATE_SCHEMA,
    DOCS_STREAM_SCHEMA,
    _hash_counts,
)
from s3bigdatasync_spark.streaming.queue import consume_task_queue
from s3bigdatasync_spark.streaming.segments import segmented_count_sink
from s3bigdatasync_spark.streaming.source import file_stream, scan_wave_bytes

# Spark jobs per call, pinned at the counts the control plane needs today
# (local mode, AQE on: every shuffle stage and every broadcast is a job).
# Sink batch: applied-files broadcast, aggregation stage, checkpoint, segment
# write, files-log stage + write, manifest, meta.
SINK_BATCH_MAX_JOBS = 8
# Dashboard: progress aggregation (2) + graph join and sort (4).
DASHBOARD_MAX_JOBS = 6
# Consumer batch: sent-log broadcast, dedup stage, copy_log write,
# dead-letter probe + write, sent-log write.
CONSUMER_BATCH_MAX_JOBS = 6


class _JobCounter:
    """Counts the Spark jobs a block submits, through its own job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.group = f"jobcount-{uuid.uuid4().hex}"

    def __enter__(self):
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    @property
    def jobs(self) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group))


def _stream_jobs(spark, query) -> int:
    """Jobs of a streaming query's micro-batches: the query thread runs them
    under a job group named by the query's run id."""
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId)))


def _drain(query) -> list[dict]:
    query.awaitTermination(180)
    assert query.exception() is None, query.exception()
    return [p for p in query.recentProgress if p["numInputRows"] > 0]


def _files_per_batch(checkpoint_dir) -> list[int]:
    """Files each committed micro-batch of a file-stream query admitted, from
    its source log (one header line, then one line per file)."""
    log = checkpoint_dir / "sources" / "0"
    return [
        len((log / b).read_text().splitlines()) - 1
        for b in sorted((f for f in os.listdir(log) if f.isdigit()), key=int)
    ]


def _write_tasks(qdir, name, keys):
    qdir.mkdir(parents=True, exist_ok=True)
    with open(qdir / name, "w") as f:
        for k in keys:
            f.write(
                json.dumps(
                    {"bucket": "b1", "key": k, "size": 1000, "etag": "e", "dst_bucket": "b2"}
                )
                + "\n"
            )


def _docs(spark, docs_dir, tag, n):
    rows = [(ord(tag) * 10_000 + i, f"doc {tag} body {i % 7}", "en") for i in range(n)]
    spark.createDataFrame(rows, DOCS_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(docs_dir)


def _mk_sink(state_dir):
    return segmented_count_sink(
        state_dir,
        _STATE_SCHEMA,
        _STATE_KEYS,
        _hash_counts,
        bucket_col=_BUCKET,
        agg_exprs=_MERGE_AGGS(),
    )


# --------------------------------------------------------------------------
# byte-sized admission


def test_scan_wave_bytes_follows_the_session(spark):
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "1k")
        assert scan_wave_bytes(spark) == spark.sparkContext.defaultParallelism * 1024
    finally:
        spark.conf.set(key, old)
    assert scan_wave_bytes(spark) == spark.sparkContext.defaultParallelism * (
        128 * 1024 * 1024
    )


def test_byte_admission_sizes_micro_batches(spark, tmp_path):
    """Default: a backlog that fits one scan wave drains as ONE micro-batch
    (a 10-file cap would have cut it in two). An explicit file cap is still
    honoured, and a wave smaller than a file still admits one file per
    batch, so the drain always progresses."""
    src = str(tmp_path / "in")
    for i in range(12):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode("append").parquet(src)

    def batches(stream, ckpt):
        sizes = []
        q = (
            stream.writeStream.foreachBatch(lambda df, _b: sizes.append(df.count()))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        return sizes

    assert batches(file_stream(spark, "parquet", src, "id long"), "c1") == [120]
    capped = file_stream(spark, "parquet", src, "id long", max_files_per_trigger=5)
    assert batches(capped, "c2") == [50, 50, 20]
    # the limit is taken from the session when the source is built
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1b")  # wave = defaultParallelism bytes < one file
    try:
        tiny = file_stream(spark, "parquet", src, "id long")
    finally:
        spark.conf.set(key, old)
    assert batches(tiny, "c3") == [10] * 12


def test_cli_admission_default_is_bytes():
    from s3bigdatasync_spark.cli import build_parser

    p = build_parser()
    for verb in ("monitor-stream", "drift", "ppl-gate", "dedup-gate"):
        argv = [verb, "--checkpoint-dir", "c", "--state-dir", "s", "--docs-dir", "d"]
        if verb == "monitor-stream":
            argv = [verb, "--copy-log-dir", "l", "--stat-dir", "s", "--checkpoint-dir", "c"]
        assert p.parse_args(argv).max_files_per_trigger is None
        assert p.parse_args(argv + ["--max-files-per-trigger", "3"]).max_files_per_trigger == 3


def test_file_count_defaults_where_a_batch_costs_per_file(spark, tmp_path):
    """The queue consumer and both SCD2 streams keep a 10-file default, so a
    12-file backlog drains as 10 + 2. The consumer's batch cost is its copies
    (copy_log and the sent-log land only when the batch ends, and a crash
    re-runs it whole); an SCD2 batch folds one version per file."""
    import time

    from s3bigdatasync_spark.streaming import scd2, scd2_open

    queue = tmp_path / "queue"
    for i in range(12):
        _write_tasks(queue, f"q{i:02d}.json", [f"k{i}"])
    q = consume_task_queue(
        spark, str(queue), lambda s, d, k: True,
        *[str(tmp_path / n) for n in ("log", "dlq", "sent", "qckpt")],
    )
    _drain(q)
    assert _files_per_batch(tmp_path / "qckpt") == [10, 2]

    snaps = str(tmp_path / "snaps")
    for v in range(1, 13):
        spark.createDataFrame(
            [(f"k{k}", v, f"{k}:{(k + v) // 4}", 100 + k) for k in range(5)],
            scd2_open.SNAPSHOT_STREAM_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(snaps)
    t0 = time.perf_counter()
    q = scd2.stream_snapshot_history(
        spark, snaps, str(tmp_path / "runs"), str(tmp_path / "c1")
    )
    _drain(q)
    q = scd2_open.stream_snapshot_history_open(
        spark, snaps, str(tmp_path / "open"), str(tmp_path / "c2")
    )
    _drain(q)
    assert _files_per_batch(tmp_path / "c1") == [10, 2]
    assert _files_per_batch(tmp_path / "c2") == [10, 2]
    elapsed = time.perf_counter() - t0
    assert elapsed < 240, f"deep-backlog drain took {elapsed:.0f}s"
    assert scd2_open.read_watermark(spark, str(tmp_path / "open")) == 12


# --------------------------------------------------------------------------
# fixed-schema control-plane reads


def test_copy_log_from_both_writers_and_old_files(spark, tmp_path):
    """monitor_stats and dashboard_report read a copy_log dir that holds
    files from the batch executor, the streaming consumer, and both writers'
    spellings from before the schemas were unified (replication_status int
    from the consumer, long from the executor)."""
    log = str(tmp_path / "copy_log")
    ts = datetime(2024, 1, 1, 12, 0, 30, tzinfo=timezone.utc)
    # pre-unification files, as each writer used to lay them out
    spark.createDataFrame(
        [("old-int-ok", ts, 1, 10), ("old-int-bad", ts, 0, 20)],
        "object_key string, replication_time timestamp, "
        "replication_status int, size long",
    ).write.mode("append").parquet(log)
    spark.createDataFrame(
        [("old-long-ok", ts, 1, 40)],
        "object_key string, replication_time timestamp, "
        "replication_status long, size long",
    ).write.mode("append").parquet(log)

    # today's executor
    tasks = tmp_path / "tasks"
    _write_tasks(tasks, "t0.json", ["x1", "x2", "x3"])
    assert task_executor(
        spark, str(tasks), lambda s, d, k: k != "x3", log, str(tmp_path / "dlq1")
    ) == (2, 1)
    # today's consumer
    queue = tmp_path / "queue"
    _write_tasks(queue, "q0.json", ["y1", "y2"])
    _drain(
        consume_task_queue(
            spark, str(queue), lambda s, d, k: True, log, str(tmp_path / "dlq2"),
            str(tmp_path / "sent"), str(tmp_path / "ckpt"),
        )
    )

    stat = str(tmp_path / "stat")
    monitor_stats(spark, log, stat)
    p = dashboard_report(spark, stat)["progress"]
    assert (p["success_num"], p["failed_num"]) == (2 + 2 + 2, 1 + 1)
    assert p["success_size"] == 10 + 40 + 2 * 1000 + 2 * 1000
    assert p["failed_size"] == 20 + 1000
    units = {r["time_unit"] for r in spark.read.parquet(stat).collect()}
    assert units == {1, 5, 60}


def test_monitor_stats_rollups_agree_across_units(spark, tmp_path):
    """The single-scan rollup: every time unit sees every row once, and a
    row's bucket start is its time floored to the unit."""
    log = str(tmp_path / "copy_log")
    base = datetime(2024, 1, 1, 12, 0, 0, tzinfo=timezone.utc).timestamp()
    rows = [
        (f"k{i}", datetime.fromtimestamp(base + 47 * i, timezone.utc), i % 3 != 0, 100 + i)
        for i in range(90)
    ]
    spark.createDataFrame(
        [(k, t, int(ok), s) for k, t, ok, s in rows],
        "object_key string, replication_time timestamp, "
        "replication_status long, size long",
    ).write.parquet(log)
    stat = str(tmp_path / "stat")
    monitor_stats(spark, log, stat)
    got = spark.read.parquet(stat).collect()
    for minutes in (1, 5, 60):
        secs = minutes * 60
        want: dict[int, list[int]] = {}
        for _k, t, ok, s in rows:
            start = int(t.timestamp()) // secs * secs
            acc = want.setdefault(start, [0, 0, 0, 0])
            acc[0 if ok else 2] += s
            acc[1 if ok else 3] += 1
        have = {
            r["start_time"]: [
                r["success_object_size"],
                r["success_object_num"],
                r["failed_object_size"],
                r["failed_object_num"],
            ]
            for r in got
            if r["time_unit"] == minutes
        }
        assert have == want, minutes


def test_consumer_accepts_existing_empty_sent_log(spark, tmp_path):
    """An existing but still empty sent-log dir reads as no sent messages."""
    sent = tmp_path / "sent"
    sent.mkdir()
    queue = tmp_path / "queue"
    _write_tasks(queue, "q0.json", ["a", "b", "a"])
    _drain(
        consume_task_queue(
            spark, str(queue), lambda s, d, k: True, str(tmp_path / "log"),
            str(tmp_path / "dlq"), str(sent), str(tmp_path / "ckpt"),
        )
    )
    assert spark.read.parquet(str(tmp_path / "log")).count() == 2
    assert spark.read.parquet(str(sent)).count() == 2


def test_dashboard_report_on_stat_dir_without_parquet(spark, tmp_path):
    stat = tmp_path / "stat"
    stat.mkdir()
    report = dashboard_report(spark, str(stat), total_objects=10, total_size=100)
    p = report["progress"]
    assert (p["success_num"], p["failed_num"], p["success_size"]) == (0, 0, 0)
    assert p["start_time"] is None and p["end_time"] is None
    assert p["pct_objects"] == 0.0 and p["eta_seconds"] is None
    assert all(v == [] for v in report["graph"].values())


# --------------------------------------------------------------------------
# single-writer guard


@pytest.mark.parametrize("spelling", ["trailing_slash", "relative", "file_uri"])
def test_single_writer_guard_normalises_the_dir(spark, tmp_path, monkeypatch, spelling):
    """A second sink opened on another spelling of the same state dir takes
    it over: the first sink's carried version pointer and manifest are then
    stale, so its next batch must raise instead of writing."""
    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    _docs(spark, docs_dir, "a", 10)
    sink_a = _mk_sink(state_dir)
    sink_a(spark.read.schema(DOCS_STREAM_SCHEMA).parquet(docs_dir), 0)

    monkeypatch.chdir(tmp_path)
    other = {
        "trailing_slash": state_dir + "/",
        "relative": os.path.join(".", "state"),
        "file_uri": "file://" + state_dir,
    }[spelling]
    _mk_sink(other)
    with pytest.raises(RuntimeError, match="single-writer"):
        sink_a(spark.read.schema(DOCS_STREAM_SCHEMA).parquet(docs_dir), 1)


def test_checkpoint_metrics_fails_loudly_without_a_row(monkeypatch):
    from s3bigdatasync_spark.operators import dedup
    from s3bigdatasync_spark.operators.dedup import checkpoint_metrics

    class NoJavaSide:  # a runtime whose Observation has no Java-side row
        pass

    with pytest.raises(RuntimeError, match="never arrived"):
        checkpoint_metrics(NoJavaSide(), "probe")

    class NeverArrives:
        class _jo:
            @staticmethod
            def getRowOrEmpty():
                class Empty:
                    @staticmethod
                    def isDefined():
                        return False

                return Empty

    monkeypatch.setattr(dedup, "_OBS_TIMEOUT_S", 0.05)
    with pytest.raises(RuntimeError, match="never arrived"):
        checkpoint_metrics(NeverArrives(), "probe")


# --------------------------------------------------------------------------
# job-count guards


def test_segmented_sink_batch_job_count(spark, tmp_path):
    """A steady-state micro-batch of the segmented sink (version pointer and
    manifest carried, state non-empty) runs at most SINK_BATCH_MAX_JOBS."""
    docs_dir = str(tmp_path / "docs")
    state_dir = str(tmp_path / "state")
    sink = _mk_sink(state_dir)
    for i, tag in enumerate("abc"):
        _docs(spark, docs_dir, tag, 20)
        with _JobCounter(spark) as jc:
            sink(spark.read.schema(DOCS_STREAM_SCHEMA).parquet(docs_dir), i)
    assert jc.jobs <= SINK_BATCH_MAX_JOBS, jc.jobs
    # the state still equals the batch recomputation
    from s3bigdatasync_spark.streaming.dedup_gate import batch_equivalent, dedup_state

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(dedup_state(spark, state_dir)) == rows(batch_equivalent(spark, docs_dir))


def test_dashboard_report_job_count(spark, tmp_path):
    log = str(tmp_path / "copy_log")
    ts = datetime(2024, 1, 1, 12, 0, 30, tzinfo=timezone.utc)
    spark.createDataFrame(
        [(f"k{i}", ts, i % 2, 10) for i in range(20)],
        "object_key string, replication_time timestamp, "
        "replication_status long, size long",
    ).write.parquet(log)
    stat = str(tmp_path / "stat")
    monitor_stats(spark, log, stat)
    with _JobCounter(spark) as jc:
        report = dashboard_report(spark, stat)
    assert report["progress"]["success_num"] == 10
    assert len(report["graph"]["start_times"]) == 60
    assert jc.jobs <= DASHBOARD_MAX_JOBS, jc.jobs


def test_consume_task_queue_batch_job_count(spark, tmp_path):
    """A consumer micro-batch that dedups against a non-empty sent-log and
    dead-letters a failure runs at most CONSUMER_BATCH_MAX_JOBS."""
    queue = tmp_path / "queue"
    dirs = [str(tmp_path / n) for n in ("log", "dlq", "sent", "ckpt")]
    _write_tasks(queue, "q0.json", ["a", "b"])
    _drain(consume_task_queue(spark, str(queue), lambda s, d, k: k != "z", *dirs))
    _write_tasks(queue, "q1.json", ["a", "c", "z"])
    _write_tasks(queue, "q2.json", ["d"])
    q = consume_task_queue(spark, str(queue), lambda s, d, k: k != "z", *dirs)
    assert len(_drain(q)) == 1  # both new files in one batch
    assert _stream_jobs(spark, q) <= CONSUMER_BATCH_MAX_JOBS, _stream_jobs(spark, q)
    keys = {r["object_key"] for r in spark.read.parquet(dirs[0]).collect()}
    assert keys == {"a", "b", "c", "d", "z"}
    assert [r["object_key"] for r in spark.read.parquet(dirs[1]).collect()] == ["z"]
