"""Incremental table-fingerprint maintenance — the streaming leg of
operators/stats.table_checksum.

The batch operator fingerprints a snapshot in one pass; at 100 TB you don't
want to re-scan the table every time new inventory files land. Because the
fingerprint is a commutative/associative SUM of per-row 40-bit md5 chunks,
it is exactly incrementalizable: each micro-batch contributes its partial
(n_rows, total_size, checksum) and the running state is the element-wise sum.
The parity oracle (tests/test_stream_checksum.py) pins

    stream-over-appends state  ==  batch table_checksum over everything seen

after every round of appends.

Exactly-once: foreachBatch is at-least-once on retry, so the running state
records the last applied batch_id and re-deliveries of an already-applied
batch are skipped — the same sent-log idempotence pattern as
streaming/queue.py, with a 1-row state table instead of a log.

Scale: per-batch work is one map-side-combinable agg over the new files only;
the state is ONE row regardless of table size. The driver-side merge touches
fingerprints, never data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType
from pyspark.sql.utils import AnalysisException

from ..operators.stats import CHECKSUM_MOD, checksum_chunk, checksum_sum
from .localrel import local_rel
from .source import file_stream

INVENTORY_STREAM_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("size", LongType()),
        StructField("etag", StringType()),
    ]
)

_STATE_SCHEMA = "n_rows long, total_size long, checksum long, last_batch_id long"


def read_state(spark: SparkSession, state_dir: str):
    """Current running fingerprint (zeros before the first batch)."""
    try:
        rows = spark.read.parquet(state_dir).collect()
    except AnalysisException as e:
        # Only a missing state dir (first batch ever) may start from zeros.
        # Any other read error must propagate: treating a transient failure
        # as "no state" would silently reset the fingerprint AND the
        # batch-id guard, double-applying history on the retry.
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
        rows = []
    if not rows:
        return {"n_rows": 0, "total_size": 0, "checksum": 0, "last_batch_id": -1}
    return rows[0].asDict()


def stream_table_checksum(
    spark: SparkSession,
    inventory_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Maintain the running fingerprint over an append-only inventory dir.
    Returns the StreamingQuery (availableNow trigger: drains the backlog,
    then stops — re-run on the same checkpoint to pick up new files)."""
    stream = file_stream(
        spark, "parquet", inventory_dir, INVENTORY_STREAM_SCHEMA, max_files_per_trigger
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        state = read_state(batch_df.sparkSession, state_dir)
        if batch_id <= state["last_batch_id"]:
            return  # retry of an applied batch — idempotent skip
        part = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("size"), F.lit(0)).alias("s"),
            F.coalesce(checksum_sum(checksum_chunk()), F.lit(0)).alias("c"),
        ).collect()[0]
        merged = [
            (
                state["n_rows"] + part["n"],
                state["total_size"] + part["s"],
                # modular addition: (a+b) mod p == ((a mod p)+(b mod p)) mod p,
                # so per-batch fingerprints merge without ever overflowing
                (state["checksum"] + part["c"]) % CHECKSUM_MOD,
                batch_id,
            )
        ]
        local_rel(batch_df.sparkSession, merged, _STATE_SCHEMA).write.mode(
            "overwrite"
        ).parquet(state_dir)

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )


def batch_equivalent(spark: SparkSession, inventory_dir: str) -> dict:
    """What the running state must equal: one batch pass over everything."""
    df = spark.read.schema(INVENTORY_STREAM_SCHEMA).parquet(inventory_dir)
    row = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.sum("size"), F.lit(0)).alias("total_size"),
        F.coalesce(checksum_sum(checksum_chunk()), F.lit(0)).alias("checksum"),
    ).collect()[0]
    return row.asDict()
