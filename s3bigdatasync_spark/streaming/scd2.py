"""Streaming SCD2 maintenance — the operational leg of
operators/timeline.snapshot_history_merge.

Inventory snapshots land as files in a directory (one version per file,
rows carry their version number `v`); each micro-batch folds the new
versions into the persistent run table with the O(snapshot + churn)
incremental merge — history is never recollapsed. The parity oracle
(tests/test_stream_scd2.py) pins

    streamed run table  ==  batch collapse_runs over every version seen

after every round of appends.

Exactly-once without a batch-id log: the merge's natural idempotence key is
the version number. The run table's max(v_to) only advances when version v
is applied, so a retried batch (or an out-of-order redelivery of an old
file) sees v <= max(v_to) and skips it — the domain's own monotonic
watermark, the same idea as the reference's HWM restart
(TaskMonitor/s3_monitor_statistic.py:209-231) but applied to a state table
that a re-run cannot clobber.

Scale: per-batch work is keyed joins between one snapshot and the run
table, all hash-partitioned on the object key; the run table rewrite is the
only full-table write, landed as a pointer-swapped version dir so no crash
window can corrupt the current table (at production scale: a MERGE into a
Delta/Iceberg table, same plan shape — the table format supplies the
atomic pointer).

Write-amplification audit (round-10, prompted by dedup_gate's segmented
rework): this module DOES rewrite the full run table per batch, and unlike
dedup_gate that is inherent to the run ENCODING, not the storage layout —
every key present in a snapshot advances its open run's v_to each version,
so O(|inventory|) rows genuinely change per applied snapshot and neither
hash-bucketing nor an LSM segment log can shrink the delta below that.
The two real fixes change the encoding or the table format: (a) open-run
encoding — v_to NULL until the run closes, so unchanged keys' rows never
change and the per-batch delta is O(churn), or (b) the Delta/Iceberg
MERGE named above, where copy-on-write lands at file granularity. Fix (a)
is SHIPPED as `streaming/scd2_open.py` (round 10): an append-only
OPEN/CLOSE/SIZE event log on the segmented LSM store whose closed-form
view equals collapse_runs exactly (gaps, size-min, disappearance — pinned
in tests/test_stream_scd2_open.py), with a zero-churn version writing a
single watermark-sentinel row. THIS module stays as the materialized-
table variant: acceptable at the reference's own daily-snapshot operating
point (one scan-sized parquet write per applied version), and its
read_runs is a plain table scan where the open-run variant pays a
segment merge-agg per read — pick by read/write ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, IntegerType, StringType, StructField, StructType
from pyspark.sql.utils import AnalysisException

from ..operators.timeline import snapshot_history_merge
from .localrel import local_rel
from .source import file_stream

SNAPSHOT_STREAM_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("v", IntegerType()),
        StructField("etag", StringType()),
        StructField("size", LongType()),
    ]
)

_RUNS_SCHEMA = (
    "key string, run_id long, etag string, v_from int, v_to int, size long"
)
_META_SCHEMA = "version long"


def _scan_latest_complete(runs_dir: str) -> int:
    """Meta-loss recovery: max version N whose runs_vN committed (_SUCCESS).
    The meta pointer is a parquet dir overwrite (delete-then-recreate); a
    crash in that window leaves versioned run tables but no pointer. The
    newest complete version is always the right answer: it either already
    contains the crashed batch's merge (whose replay the v <= max(v_to)
    watermark then skips) or predates it (replayed exactly once). GC only
    deletes versions AFTER a successful meta flip, so the reachable one
    survives every crash window. Local FS only, matching _gc_versions."""
    import re
    from pathlib import Path

    root = Path(runs_dir)
    if not root.is_dir():
        return -1
    out = set()
    for d in root.iterdir():
        m = re.fullmatch(r"runs_v(\d+)", d.name)
        if m and (d / "_SUCCESS").exists():
            out.add(int(m.group(1)))
    return max(out, default=-1)


def _flat_layout_files(runs_dir: str) -> list[str]:
    """The bare parquet data files of a pre-pointer FLAT-layout table (empty
    list when runs_dir is versioned or absent). Listed file-by-file so a
    flat read can never sweep in runs_v*/meta subdirs — a crash between the
    runs_v0 write and the meta flip leaves such a subdir, and Spark's
    partition discovery over the parent dir would double-read it."""
    from pathlib import Path

    root = Path(runs_dir)
    if not root.is_dir():
        return []
    return sorted(
        str(f) for f in root.iterdir() if f.suffix == ".parquet" and f.is_file()
    )


def _has_flat_layout(runs_dir: str) -> bool:
    return bool(_flat_layout_files(runs_dir))


def _read_meta(spark: SparkSession, runs_dir: str) -> int:
    try:
        # explicit schema: a half-rewritten meta dir must read as 0 rows →
        # recovery scan, not an infer-schema error
        rows = spark.read.schema(_META_SCHEMA).parquet(f"{runs_dir}/meta").collect()
    except AnalysisException as e:
        # only a missing meta may fall through to recovery; see drift.py
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
        rows = []
    if rows:
        return rows[0]["version"]
    # Missing/empty meta: crash inside the pointer overwrite, a legacy
    # flat-layout table, or a true bootstrap — never silently the last one:
    # treating live state as empty would regress the max(v_to) watermark and
    # re-apply all history on the next merge.
    return _scan_latest_complete(runs_dir)


def read_runs(spark: SparkSession, runs_dir: str) -> DataFrame:
    """Current run table — the version the meta pointer names (empty before
    the first snapshot). STRICTLY READ-ONLY (round-3 ADVICE: a read that
    writes lets two concurrent readers race the runs_v0/meta overwrites).
    The state is pointer-swapped, never overwritten in place: a plain
    `overwrite` of the run table is not atomic (a crash mid-commit leaves a
    corrupt dir whose max(v_to) watermark regresses, and the next merge
    silently re-applies history); writing runs_v{n+1} and flipping the 1-row
    meta last makes every crash window recoverable — the drift.py state
    contract. A lost meta is recovered by scanning for the newest committed
    runs_v* dir, and a legacy FLAT-layout table (bare parquet files written
    before the pointer-swap change, so no meta and no version dirs) is read
    in place — never silently treated as empty, which would regress the
    watermark. Migration to the versioned layout happens on the next WRITE
    (the sink's pointer flip lands the merged state at runs_v0) or via the
    explicit migrate_flat_layout() step."""
    last = _read_meta(spark, runs_dir)
    if last < 0:
        flat = _flat_layout_files(runs_dir)
        if flat:
            # the bare data files only, never the parent dir: a crashed
            # migration's half-written runs_v0 subdir must not be swept in
            return spark.read.schema(_RUNS_SCHEMA).parquet(*flat)
        return spark.createDataFrame([], _RUNS_SCHEMA)
    return spark.read.schema(_RUNS_SCHEMA).parquet(f"{runs_dir}/runs_v{last}")


def migrate_flat_layout(spark: SparkSession, runs_dir: str) -> bool:
    """Explicit one-time migration of a legacy flat-layout run table to the
    pointer-swapped versioned layout (runs_v0 + meta). Single-writer admin
    step — run it while no stream is writing, like any table migration.
    Returns True if a migration happened. The flat files stay in place
    (reads are version-dir-scoped once meta exists); deleting user data is
    the operator's call, not this function's."""
    flat = _flat_layout_files(runs_dir)
    if _read_meta(spark, runs_dir) >= 0 or not flat:
        return False
    legacy = spark.read.schema(_RUNS_SCHEMA).parquet(*flat)
    legacy.write.mode("overwrite").parquet(f"{runs_dir}/runs_v0")
    spark.createDataFrame([(0,)], _META_SCHEMA).write.mode("overwrite").parquet(
        f"{runs_dir}/meta"
    )
    return True


def _gc_versions(runs_dir: str, keep: set[int]) -> None:
    """Best-effort deletion of superseded (unreachable) run-table versions.
    Local FS only; object-store deployments use a lifecycle rule."""
    import re
    import shutil
    from pathlib import Path

    root = Path(runs_dir)
    if not root.is_dir():
        return
    for d in root.iterdir():
        m = re.fullmatch(r"runs_v(\d+)", d.name)
        if m and int(m.group(1)) not in keep:
            shutil.rmtree(d, ignore_errors=True)


def stream_snapshot_history(
    spark: SparkSession,
    snapshots_dir: str,
    runs_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 10,
):
    """Maintain the SCD2 run table over an append-only snapshot dir.
    Returns the StreamingQuery (availableNow: drains, then stops).
    Admission is a file count: each snapshot file is one version and the
    sink folds a batch version by version, so its cost grows with the file
    count, not with bytes (``None`` opts into streaming/source.py's bytes)."""
    stream = file_stream(
        spark, "parquet", snapshots_dir, SNAPSHOT_STREAM_SCHEMA, max_files_per_trigger
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        runs = read_runs(sess, runs_dir)
        applied = runs.agg(F.max("v_to").alias("m")).collect()[0]["m"]
        applied = -1 if applied is None else applied
        versions = sorted(
            r["v"]
            for r in batch_df.select("v").distinct().collect()
            if r["v"] > applied
        )
        if not versions:
            return  # retry / stale redelivery — idempotent skip
        for v in versions:
            snap = batch_df.filter(F.col("v") == v).select("key", "etag", "size")
            # Per-version lineage truncation (round 11): the merge references
            # `runs` three times (open-run probe, max_run, untouched anti-
            # join), so chaining k versions without truncation builds a plan
            # whose run-table subtree appears O(3^k) times — at the default
            # max_files_per_trigger=10 a backlog drain carries 10 versions
            # and PLANNING alone ran >9 minutes at 20k keys (caught by
            # tools/probe_scd2_read.py; the scd2_open/dedup_clusters cliff,
            # previously unexercised here because tests folded <=2 versions
            # per batch). Eager localCheckpoint holds each fold's plan flat;
            # the merge already scans the full run relation per fold, so the
            # materialization adds no asymptotic cost.
            runs = snapshot_history_merge(runs, snap, v).localCheckpoint(
                eager=True
            )
        # pointer-swap state: the merge writes the NEXT version dir (never
        # the one it read, so no crash can corrupt the current table), then
        # flips the meta. (Production shape: a Delta/Iceberg MERGE — same
        # plan, the table format supplies the atomic pointer.)
        version = _read_meta(sess, runs_dir) + 1
        runs.select(
            "key", "run_id", "etag", "v_from", "v_to", "size"
        ).write.mode("overwrite").parquet(f"{runs_dir}/runs_v{version}")
        local_rel(sess, [(version,)], _META_SCHEMA).write.mode(
            "overwrite"
        ).parquet(f"{runs_dir}/meta")
        _gc_versions(runs_dir, keep={version})

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
