"""The one admission policy of every file-stream source in this package.

A micro-batch pays a fixed cost per Spark action (job scheduling, state
reads, the sink's control-plane writes) whatever it holds, so the size of a
micro-batch decides how much of a drain is overhead. A file COUNT bounds
nothing real: ten 100-row drops cost two sink passes where one would do,
and ten 10 GB files form one 100 GB batch. The default here is one scan wave
of BYTES per micro-batch:

    maxBytesPerTrigger = defaultParallelism × spark.sql.files.maxPartitionBytes

i.e. as many bytes as the session's cores split into full-size input
partitions in one pass. Both factors are read from the session, so the
limit follows the cluster (more cores → larger batches) and the split size
a deployment already tunes, and no new setting exists. The file source
admits at least one file per micro-batch, so a single file above the limit
still drains.

An explicit ``max_files_per_trigger`` keeps the file-count policy (Spark
rejects setting both limits): modules whose batch boundaries carry meaning
pass 1, tests use it to force several micro-batches, and the CLI's
--max-files-per-trigger sets it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def scan_wave_bytes(spark: SparkSession) -> int:
    """Bytes one scan wave of the session reads: defaultParallelism input
    partitions of spark.sql.files.maxPartitionBytes each. The conf value is
    parsed by Spark's own byte-string parser ("128MB", "134217728b", ...)."""
    sc = spark.sparkContext
    split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    split_bytes = sc._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        split
    )
    return sc.defaultParallelism * int(split_bytes)


def file_stream(
    spark: SparkSession,
    fmt: str,
    path: str,
    schema: StructType | str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """A file-stream source over `path` in format `fmt` ("parquet", "json")
    under the fixed `schema`. ``max_files_per_trigger=None`` admits one scan
    wave of bytes per micro-batch (see the module docstring); an int caps
    the file count instead."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is None:
        reader = reader.option("maxBytesPerTrigger", scan_wave_bytes(spark))
    else:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(path)
