"""Streaming monitor/stat pipeline (SURVEY §2 D4/D5 streaming leg, §3.3).

The reference's batch stat job restarts from a high-water mark and its PUT
upsert clobbers partially-filled buckets on re-run (s3_monitor_statistic.py:
59-68, 209-248 — the correctness wart called out in SURVEY §7.4.1). The
Spark-native fix is exactly the built-in machinery:

  readStream(copy_log dir) → withWatermark → window agg → foreachBatch upsert

* watermark bounds state AND defines the late-data policy explicitly
  (rows later than WATERMARK_DELAY are dropped, never silently clobbered);
* checkpointing replaces the hand-rolled HWM (restart-safe, exactly-once
  into an idempotent sink);
* the per-trigger admission limit is the backpressure knob (≙ the
  reference's queue high-watermark 1000, AzureEtagCheck/mpmgr.py:139-145):
  one scan wave of bytes by default, or a file count (streaming/source.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .source import file_stream

# The one copy_log schema: both writers (plans.pipeline.task_executor and
# streaming.queue.consume_task_queue) project onto it and every reader reads
# under it, so no read pays a schema-inference job. replication_status is
# long because an int-typed file (the consumer's spelling before the schemas
# were unified) widens to long on read, while a long-typed file cannot be
# read as int.
COPY_LOG_SCHEMA = StructType(
    [
        StructField("object_key", StringType()),
        StructField("replication_time", TimestampType()),
        StructField("replication_status", LongType()),
        StructField("size", LongType()),
    ]
)


def as_copy_log(df: DataFrame) -> DataFrame:
    """`df`'s copy-log columns, cast and ordered as COPY_LOG_SCHEMA."""
    return df.select(*[F.col(f.name).cast(f.dataType) for f in COPY_LOG_SCHEMA])


def read_copy_log(spark: SparkSession, copy_log_dir: str) -> DataFrame:
    return spark.read.schema(COPY_LOG_SCHEMA).parquet(copy_log_dir)


WATERMARK_DELAY = "10 minutes"


def _windowed_stat(stream: DataFrame, minutes: int) -> DataFrame:
    return (
        stream.withWatermark("replication_time", WATERMARK_DELAY)
        .groupBy(
            F.window("replication_time", f"{minutes} minutes").alias("w"),
            F.col("replication_status").alias("status"),
        )
        .agg(F.sum("size").alias("total_size"), F.count("*").alias("total_num"))
        .select(
            F.lit(minutes).alias("time_unit"),
            F.col("w.start").cast("long").alias("start_time"),
            "status",
            "total_size",
            "total_num",
        )
    )


def stream_time_rollup(
    spark: SparkSession,
    copy_log_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    minutes: int = 1,
    max_files_per_trigger: int | None = None,
):
    """Start the streaming stat job; returns the StreamingQuery.

    foreachBatch writes each micro-batch's closed windows to a parquet stat
    table partitioned by time_unit — append of finalized windows (watermark
    guarantees no window is emitted twice in update=False append mode).
    """
    stream = file_stream(
        spark, "parquet", copy_log_dir, COPY_LOG_SCHEMA, max_files_per_trigger
    )
    stat = _windowed_stat(stream, minutes)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # CRASH WINDOW: a kill after this append but before the checkpoint
        # commit replays the batch — append mode re-emits the SAME closed
        # windows with identical totals (they were final when the watermark
        # closed them). read_stats() dedups; out_dir raw is at-least-once.
        batch_df.write.mode("append").partitionBy("time_unit").parquet(out_dir)

    return (
        stat.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )


def read_stats(spark: SparkSession, out_dir: str) -> DataFrame:
    """The exactly-once view of the stat table: full-row distinct() —
    (time_unit, start_time, status) is unique in committed output (append
    mode emits each closed window once) and crash-replayed rows are
    byte-identical, so this removes only replay re-appends. See
    ack_join.read_matches for the reader-contract rationale."""
    return spark.read.parquet(out_dir).distinct()


def batch_equivalent(spark: SparkSession, copy_log_dir: str, minutes: int = 1) -> DataFrame:
    """The batch query the stream must converge to (parity oracle for tests:
    run the stream over incremental appends, compare to this)."""
    log = read_copy_log(spark, copy_log_dir)
    return (
        log.groupBy(
            F.window("replication_time", f"{minutes} minutes").alias("w"),
            F.col("replication_status").alias("status"),
        )
        .agg(F.sum("size").alias("total_size"), F.count("*").alias("total_num"))
        .select(
            F.lit(minutes).alias("time_unit"),
            F.col("w.start").cast("long").alias("start_time"),
            "status",
            "total_size",
            "total_num",
        )
    )
