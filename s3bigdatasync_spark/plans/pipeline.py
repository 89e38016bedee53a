"""The three reference lifecycles (SURVEY §3) as composable Spark jobs.

§3.1 ListProducer  → list_producer():  inventory scan → stats + task store
§3.2 TaskExecutor  → task_executor():  task store → copy → copy_log + DLQ
§3.3 Monitor/UI    → monitor_stats(), dashboard_progress(): rollups

The reference moves data through SQS/DynamoDB with hand-rolled batching,
retries and dead-lettering; here the task store is a partitioned file table
(each output file ≙ one SQS message batch of ~TASK_BATCH_SIZE objects), the
copy is a pluggable per-partition callable (boto3 in production, local FS in
tests), failures are quarantined by a filter, and idempotence comes from the
msg_id anti-join (operators.joins.dedup_anti_join pattern).
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.stats import SIZE_BUCKETS
from ..streaming.monitor import as_copy_log, read_copy_log

TASK_BATCH_SIZE = 100  # objects per task file ≙ message_body_max_num (ListProducer.py:17)

ROLLUP_MINUTES = (1, 5, 60)  # the stat table's time_unit partitions

# The stat table monitor_stats writes, read under a fixed schema: no
# schema-inference job per read, and a stat dir with no parquet file yet
# reads as an empty table.
STAT_SCHEMA = (
    "start_time long, success_object_size long, success_object_num long, "
    "failed_object_size long, failed_object_num long, time_unit int"
)


def compute_stats(inv: DataFrame) -> DataFrame:
    """§3.1 step: the D1 histogram as the manifest 'statistics' block."""
    aggs = [
        F.count("*").alias("total_objects"),
        F.sum("size").alias("total_size_bytes"),
    ] + [
        F.sum(F.when(F.col("size") <= t, 1).otherwise(0)).alias(name)
        for name, t in SIZE_BUCKETS
    ]
    return inv.agg(*aggs)


def list_producer(
    spark: SparkSession,
    inv: DataFrame,
    dst_bucket: str,
    tasks_dir: str,
    stats_path: str | None = None,
) -> dict:
    """§3.1: inventory → size stats + batched task store.

    Task batching is per-partition at the sink (repartition to
    ceil(n/TASK_BATCH_SIZE) files) — no global sort, no driver loop; at
    100 TB this is one round-robin shuffle sized by the object count.
    Returns the enriched job stats dict (≙ job.json, ListProducer.py:135-157).
    """
    tasks = inv.withColumn("dst_bucket", F.lit(dst_bucket))
    n = tasks.count()
    n_files = max(1, math.ceil(n / TASK_BATCH_SIZE))
    tasks.repartition(n_files).write.mode("overwrite").json(tasks_dir)
    stats_row = compute_stats(inv).collect()[0].asDict()
    job = {"statistics": stats_row, "job_info": {"dst_bucket": dst_bucket, "n_tasks": n}}
    if stats_path:
        import json

        with open(stats_path, "w") as f:
            json.dump(job, f, default=str)
    return job


CopyFn = Callable[[str, str, str], bool]
"""(src_bucket, dst_bucket, key) -> success. Production: boto3 server-side
copy (libs/s3_utils.py:17-35); tests: local FS toucher."""


def task_executor(
    spark: SparkSession,
    tasks_dir: str,
    copy_fn: CopyFn,
    copy_log_dir: str,
    dead_letter_dir: str,
) -> tuple[int, int]:
    """§3.2: consume the task store, execute copies per partition, log
    status, quarantine failures (B8/B9).

    The copy runs inside mapPartitions with bounded per-task work — the Spark
    translation of the competing-consumers loop (TaskExecutor.py:18-102).
    Task retries replace the SQS visibility/redrive machinery; the
    dead-letter table replaces the `*-dead-letter` queue, and keeps the job
    'successful' exactly like the reference (TaskExecutor.py:79-85).
    Returns (n_success, n_failed).
    """
    tasks = spark.read.json(tasks_dir)
    fn = copy_fn  # rebind for closure pickling

    def run_partition(rows: Iterator) -> Iterator[tuple]:
        import time as _t

        for r in rows:
            ok = False
            try:
                ok = fn(r["bucket"], r["dst_bucket"], r["key"])
            except Exception:
                ok = False
            yield (r["key"], float(_t.time()), 1 if ok else 0, r["size"])

    results = tasks.rdd.mapPartitions(run_partition).toDF(
        ["object_key", "replication_time", "replication_status", "size"]
    ).withColumn("replication_time", F.timestamp_seconds("replication_time"))
    results = results.cache()
    # Reference logs BOTH statuses to the monitor table (item_log with
    # ReplicationStatus 0/1, TaskExecutor.py:66-80) and additionally routes
    # the failed action to the dead-letter queue for retry (79-85).
    as_copy_log(results).write.mode("append").parquet(copy_log_dir)
    failed = results.filter(F.col("replication_status") == 0)
    n_failed = failed.count()
    if n_failed:
        failed.write.mode("append").parquet(dead_letter_dir)
    n_success = results.count() - n_failed
    results.unpersist()
    return n_success, n_failed


def monitor_stats(spark: SparkSession, copy_log_dir: str, stat_dir: str) -> None:
    """§3.3 batch leg: 1/5/60-minute rollup of copy_log → stat table
    partitioned by time_unit (the D4 shape; streaming variant in
    streaming.monitor). One scan of the log: each row is fanned out to its
    three time units before a single keyed aggregation."""
    unit = F.explode(F.array(*[F.lit(m) for m in ROLLUP_MINUTES])).alias("time_unit")
    secs = F.col("time_unit") * 60
    start = (F.col("replication_time").cast("long") / secs).cast("long") * secs
    ok = F.col("replication_status") == 1
    bad = F.col("replication_status") == 0
    (
        read_copy_log(spark, copy_log_dir)
        .select("replication_time", "replication_status", "size", unit)
        .groupBy("time_unit", start.alias("start_time"))
        .agg(
            F.sum(F.when(ok, F.col("size")).otherwise(0)).alias("success_object_size"),
            F.sum(F.when(ok, 1).otherwise(0)).alias("success_object_num"),
            F.sum(F.when(bad, F.col("size")).otherwise(0)).alias("failed_object_size"),
            F.sum(F.when(bad, 1).otherwise(0)).alias("failed_object_num"),
        )
        .write.mode("overwrite")
        .partitionBy("time_unit")
        .parquet(stat_dir)
    )


def _minute_stats(spark: SparkSession, stat_dir: str) -> DataFrame:
    """The time_unit=1 partition of the stat table."""
    return (
        spark.read.schema(STAT_SCHEMA)
        .parquet(stat_dir)
        .filter(F.col("time_unit") == 1)
    )


def dashboard_progress(spark: SparkSession, stat_dir: str) -> DataFrame:
    """§3.3 serving leg: global progress rollup (D7/D8) off the stat table —
    partition-pruned to time_unit=1."""
    return _minute_stats(spark, stat_dir).agg(
        F.sum("success_object_size").alias("success_size"),
        F.sum("success_object_num").alias("success_num"),
        F.sum("failed_object_size").alias("failed_size"),
        F.sum("failed_object_num").alias("failed_num"),
    )


def dashboard_graph(
    spark: SparkSession,
    stat_dir: str,
    window_minutes: int = 60,
    hi: int | None = None,
) -> DataFrame:
    """§3.3 serving leg, graph half: the zero-filled per-minute series
    UICenter's `/tasksGraph` route renders (`ddbModel.returnTasksGraphData`
    builds 60 zero slots and overwrites the minutes that have a stat row —
    `UICenter/BackEnd/ddbModel.py:253-275`). Spine = the last
    `window_minutes` minute slots ending at the stat table's newest minute
    (the serving anchor — deterministic, no wall clock), outer-joined
    against the time_unit=1 partition and zero-filled: the
    time_spine_zero_fill pattern (J2) over the stat table. The spine is
    `window_minutes` rows driver-built from one 1-row bounds agg; the stat
    side is partition-pruned (time_unit=1) plus a pushed start_time range
    filter — at any scale this reads one hour of one partition. A caller
    that already holds the newest minute passes it as `hi`, which skips the
    bounds agg."""
    stat = _minute_stats(spark, stat_dir)
    if hi is None:
        hi = stat.agg(F.max("start_time").alias("hi")).collect()[0]["hi"]
    empty_schema = (
        "start_time long, success_object_num long, failed_object_num long, "
        "success_object_size long, failed_object_size long"
    )
    if hi is None:
        return spark.createDataFrame([], empty_schema)
    hi = int(hi)
    lo = hi - 60 * (window_minutes - 1)
    spine = spark.range(1).select(
        F.explode(
            F.sequence(F.lit(lo), F.lit(hi), F.lit(60))
        ).alias("start_time")
    )
    recent = stat.filter(F.col("start_time") >= lo)
    return (
        spine.join(recent, "start_time", "left")
        .select(
            "start_time",
            F.coalesce("success_object_num", F.lit(0))
            .cast("long")
            .alias("success_object_num"),
            F.coalesce("failed_object_num", F.lit(0))
            .cast("long")
            .alias("failed_object_num"),
            F.coalesce("success_object_size", F.lit(0))
            .cast("long")
            .alias("success_object_size"),
            F.coalesce("failed_object_size", F.lit(0))
            .cast("long")
            .alias("failed_object_size"),
        )
        .orderBy("start_time")
    )


def dashboard_report(
    spark: SparkSession,
    stat_dir: str,
    total_objects: int | None = None,
    total_size: int | None = None,
    window_minutes: int = 60,
) -> dict:
    """§3.3 serving leg, combined: the one JSON report covering BOTH
    UICenter routes (`/totalProgress` + `/tasksGraph`,
    `UICenter/BackEnd/server.py:10-45`) from a stat dir — the last
    reference entry point with no runnable analogue until round 9.

      progress — the D7/D8 rollup (success/failed counts + bytes), plus
          start_time/end_time bounds, estimate_speed in bytes/min
          (`returnTotalProgressData`'s successSize/elapsed-minutes formula,
          ddbModel.py:244-247, with the stat table's own [min,max] span as
          the elapsed clock — deterministic, serving-time-free), and, when
          the manifest totals are supplied (the route reads them from the
          job statistics), pct_objects / pct_size / eta_seconds.
      graph — dashboard_graph's zero-filled minute series, rendered as the
          route's parallel arrays.

    Driver-side state is the report itself: one 1-row agg collect + one
    `window_minutes`-row collect. The agg's t_hi anchors the graph, so the
    stat table is read once per half and never for its bounds again. A stat
    dir with no parquet file yet renders the zero report."""
    row = _minute_stats(spark, stat_dir).agg(
        F.sum("success_object_size").alias("success_size"),
        F.sum("success_object_num").alias("success_num"),
        F.sum("failed_object_size").alias("failed_size"),
        F.sum("failed_object_num").alias("failed_num"),
        F.min("start_time").alias("t_lo"),
        F.max("start_time").alias("t_hi"),
    ).collect()[0]
    progress = {
        "success_size": int(row["success_size"] or 0),
        "success_num": int(row["success_num"] or 0),
        "failed_size": int(row["failed_size"] or 0),
        "failed_num": int(row["failed_num"] or 0),
        "start_time": None if row["t_lo"] is None else int(row["t_lo"]),
        "end_time": None if row["t_hi"] is None else int(row["t_hi"]),
    }
    elapsed_min = (
        (progress["end_time"] - progress["start_time"]) / 60 + 1
        if progress["start_time"] is not None
        else 0
    )
    speed = progress["success_size"] / elapsed_min if elapsed_min else 0.0
    progress["estimate_speed"] = round(speed, 3)
    if total_objects is not None:
        progress["total_objects"] = int(total_objects)
        progress["pct_objects"] = round(
            100.0 * progress["success_num"] / total_objects, 3
        ) if total_objects else None
    if total_size is not None:
        progress["total_size"] = int(total_size)
        progress["pct_size"] = round(
            100.0 * progress["success_size"] / total_size, 3
        ) if total_size else None
        remaining = max(0, int(total_size) - progress["success_size"])
        progress["eta_seconds"] = (
            round(remaining / speed * 60, 3) if speed > 0 else None
        )
    g = (
        dashboard_graph(
            spark, stat_dir, window_minutes=window_minutes, hi=progress["end_time"]
        ).collect()
        if progress["end_time"] is not None
        else []
    )
    graph = {
        "start_times": [int(r["start_time"]) for r in g],
        "success_objects": [int(r["success_object_num"]) for r in g],
        "failure_objects": [int(r["failed_object_num"]) for r in g],
        "success_bytes": [int(r["success_object_size"]) for r in g],
        "failure_bytes": [int(r["failed_object_size"]) for r in g],
    }
    return {"progress": progress, "graph": graph}
