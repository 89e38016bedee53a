"""Streaming dedup with bounded state: dropDuplicatesWithinWatermark.

The reference deduplicates forever against a DynamoDB msg-id table
(inventory_lib.py:146-191) — state grows without bound. The streaming-native
form keeps dedup state only within the watermark horizon: duplicates arriving
inside the window are dropped, state for older keys is evicted. Use this for
at-least-once producers whose retries happen within a bounded delay (the SQS
redrive case exactly); the queue consumer's sent-log anti-join remains the
full-history guarantee.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .queue import TASK_SCHEMA, msg_id
from .source import file_stream

WATERMARK = "30 minutes"
EVENT_TIME_COL = "enqueued_at"


def stream_dedup_tasks(
    spark: SparkSession,
    queue_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Drain the task-queue dir, dropping duplicate msg_ids that arrive
    within the watermark horizon; unique tasks append to out_dir."""
    from pyspark.sql.types import StructField, StructType, TimestampType

    # StructType.add MUTATES self (and returns it) — calling it on the
    # shared module-level TASK_SCHEMA appended enqueued_at once per
    # stream_dedup_tasks call, making the second stream in a process fail
    # with AMBIGUOUS_REFERENCE. Build a fresh StructType instead.
    schema = StructType(
        TASK_SCHEMA.fields + [StructField(EVENT_TIME_COL, TimestampType())]
    )
    stream = file_stream(spark, "json", queue_dir, schema, max_files_per_trigger)
    deduped = (
        msg_id(stream)
        .withWatermark(EVENT_TIME_COL, WATERMARK)
        .dropDuplicatesWithinWatermark(["msg_id"])
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # CRASH WINDOW: a kill after this append but before the checkpoint
        # commit replays the batch — dropDuplicatesWithinWatermark's state
        # restores with the checkpoint, so the replay emits the same unique
        # tasks again, byte-identical. read_tasks() dedups on msg_id;
        # out_dir raw is at-least-once by design.
        batch_df.write.mode("append").parquet(out_dir)

    return (
        deduped.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )


def read_tasks(spark: SparkSession, out_dir: str) -> DataFrame:
    """The exactly-once view of the unique-task sink: full-row distinct()
    (replays are byte-identical, and msg_id is unique in committed output
    within the watermark horizon by construction) — removes only
    crash-replay re-appends. Same reader contract as trending/sessions/
    ack_join; see ack_join.read_matches for why full-row distinct beats
    dropDuplicates(subset) here."""
    return spark.read.parquet(out_dir).distinct()
