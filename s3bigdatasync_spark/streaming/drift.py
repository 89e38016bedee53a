"""Incremental source-drift maintenance — the streaming leg of
operators/curation.source_kl_divergence.

The batch operator scans the whole corpus per report; at 100 TB you don't
want a full re-tokenize every time a new document drop lands. The
(source, token) unigram counts are the report's sufficient statistic and
merge by plain addition, so each micro-batch contributes its own counts and
the running state is the summed relation; the KL report replays over the
state (kl_report_from_counts) without touching any document ever seen.
The parity oracle (tests/test_stream_drift.py) pins

    report(stream-over-appends state)  ==  batch report over everything seen

after every round of appends.

Exactly-once, from two mechanisms working together:
  * versioned state — the merge reads the version the meta row points at,
    writes counts/files under the NEXT monotonic version (never the one it
    read — batch_id-keyed versions would self-overwrite on a
    completed-batch retry), then flips the meta pointer last. A crash
    between the writes re-runs the merge from the still-pointed-at OLD
    version; half-written new versions are unreachable and GC'd. This is
    the multi-row generalization of streaming/checksum.py's 1-row swap.
  * file-identity filtering — the state carries the applied-FILES log and
    every batch anti-joins its rows by input file before counting. There is
    deliberately NO batch-id skip guard: batch ids restart at 0 when a lost
    checkpoint is replaced, so an id-based skip would silently drop a
    renumbered batch carrying a genuinely-new file (and an id-based accept
    would double-count old ones). File identity doesn't renumber —
    checkpoint replacement degrades to a harmless re-listing where applied
    files contribute nothing and new files count exactly once; a
    checkpoint-intact retry just rewrites an identical state version.
    (streaming/ingest.py gets the same property from its content-hash
    seen-log; counts have no natural content key, hence the file log.)

Scale: per-batch work is one tokenize+agg over the NEW documents only plus a
merge bounded by |vocabulary × sources| — the state never grows with corpus
size, only with vocabulary. The report is the batch plan over that bounded
relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType
from pyspark.sql.utils import AnalysisException

from ..operators.curation import kl_report_from_counts, source_token_counts
from .localrel import local_rel
from .source import file_stream

DOCS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("source", StringType()),
    ]
)

_META_SCHEMA = "version long"
_COUNTS_SCHEMA = "source string, token string, c long"
_FILES_SCHEMA = "file_path string"


def _scan_latest_complete(
    state_dir: str, prefixes: tuple[str, str] = ("counts", "files")
) -> int:
    """Meta-loss recovery: the max version N whose {prefixes[0]}_vN AND
    {prefixes[1]}_vN both committed (_SUCCESS marker present). The meta
    pointer is rewritten via a parquet dir overwrite, which deletes before it
    recreates — a crash inside that window leaves no meta, but the versioned
    state dirs are intact (GC keeps exactly the reachable one, and GC only
    runs AFTER a successful meta flip, so the newest complete version is
    always recoverable). Returning the newest complete version is safe either
    way: if the crashed batch had fully written vN, the applied-files log
    inside vN makes its replay a no-op; if it hadn't, vN is incomplete (no
    _SUCCESS) and we return vN-1, replaying the batch exactly once. Prefixes
    parametric because the segmented store (streaming/segments.py) commits
    (manifest, files) per version instead of (counts, files). Local FS only —
    matching _gc_versions; an object-store deployment recovers via its own
    listing."""
    import re
    from pathlib import Path

    root = Path(state_dir)
    if not root.is_dir():
        return -1

    def complete(prefix: str) -> set[int]:
        out = set()
        for d in root.iterdir():
            m = re.fullmatch(rf"{prefix}_v(\d+)", d.name)
            if m and (d / "_SUCCESS").exists():
                out.add(int(m.group(1)))
        return out

    return max(complete(prefixes[0]) & complete(prefixes[1]), default=-1)


def _read_meta(
    spark: SparkSession,
    state_dir: str,
    prefixes: tuple[str, str] = ("counts", "files"),
) -> int:
    try:
        # explicit schema: a half-rewritten meta dir (exists, no data files)
        # must read as 0 rows → recovery scan, not an infer-schema error
        rows = spark.read.schema(_META_SCHEMA).parquet(f"{state_dir}/meta").collect()
    except AnalysisException as e:
        # Only a missing meta may fall through to the recovery scan; any
        # other read error must propagate — treating a transient failure as
        # "no state" would silently abandon accumulated counts.
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
        rows = []
    if rows:
        return rows[0]["version"]
    # Missing/empty meta: a crash during the pointer overwrite, OR a true
    # bootstrap. Scan for surviving complete versions before bootstrapping —
    # bootstrapping over live state would orphan the counts AND the
    # applied-files log (old files are never re-delivered under an intact
    # checkpoint), silently losing every accumulated count.
    return _scan_latest_complete(state_dir, prefixes)


def read_versioned_counts(
    spark: SparkSession, state_dir: str, counts_schema: str
) -> DataFrame:
    """The running count state — the version the meta points at (empty
    relation before the first applied batch). Schema-parametric: the same
    versioned protocol backs differently-keyed count states (source-drift's
    (source, token), ppl_gate's (lang, token))."""
    last = _read_meta(spark, state_dir)
    if last < 0:
        return local_rel(spark, [], counts_schema)
    return spark.read.schema(counts_schema).parquet(f"{state_dir}/counts_v{last}")


def read_counts(spark: SparkSession, state_dir: str) -> DataFrame:
    """The running (source, token, c) state — the version the meta points at
    (empty relation before the first applied batch)."""
    return read_versioned_counts(spark, state_dir, _COUNTS_SCHEMA)


def _gc_versions(state_dir: str, keep: set[int]) -> None:
    """Best-effort removal of superseded state versions — the meta pointer
    has already moved past them, so they are unreachable by any reader and
    the dir would otherwise grow by one counts+files version per batch
    forever. Local filesystem only (the test/driver environment); an object
    store deployment swaps in its own lifecycle rule or SDK delete. Failures
    are ignored: GC is an optimization, never a correctness dependency."""
    import re
    import shutil
    from pathlib import Path

    root = Path(state_dir)
    if not root.is_dir():  # non-local path (s3://, hdfs://) — skip
        return
    for d in root.iterdir():
        m = re.fullmatch(r"(counts|files)_v(\d+)", d.name)
        if m and int(m.group(2)) not in keep:
            shutil.rmtree(d, ignore_errors=True)


def _read_files(spark: SparkSession, state_dir: str) -> DataFrame:
    """The applied-files log of the version the meta points at."""
    last = _read_meta(spark, state_dir)
    if last < 0:
        return local_rel(spark, [], _FILES_SCHEMA)
    return spark.read.schema(_FILES_SCHEMA).parquet(f"{state_dir}/files_v{last}")


def drift_report(spark: SparkSession, state_dir: str) -> DataFrame:
    """The KL drift report over the current running state — identical shape
    and semantics to the batch source_kl_divergence output."""
    return kl_report_from_counts(read_counts(spark, state_dir))


def stream_source_drift(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Maintain the running unigram-count state over an append-only document
    dir. Returns the StreamingQuery (availableNow trigger: drains the
    backlog, then stops — re-run on the same checkpoint for new files)."""
    stream = file_stream(
        spark, "parquet", docs_dir, DOCS_STREAM_SCHEMA, max_files_per_trigger
    )
    sink = versioned_count_sink(
        state_dir, _COUNTS_SCHEMA, ["source", "token"], source_token_counts
    )
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )


def versioned_count_sink(
    state_dir: str, counts_schema: str, key_cols, count_fn, agg_exprs=None
):
    """foreachBatch sink maintaining an addition-merged count state under
    the versioned exactly-once protocol this module documents — parametric
    over the count key so differently-keyed BOUNDED states (source-drift
    here, the ppl_gate LM in streaming/ppl_gate.py) share ONE implementation
    of the crash-window machinery instead of cloning it. This sink rewrites
    the full merged relation per batch, which is the right trade ONLY while
    the state is bounded (|keys × vocabulary| here); an unbounded state
    (one row per distinct corpus content) pays O(state) per batch and must
    use streaming/segments.segmented_count_sink instead — dedup_gate moved
    there in round 10.

    agg_exprs optionally overrides the merge aggregation (default
    [sum(c) AS c]): any per-key aggregates that are associative and
    commutative over union keep the exactly-once argument intact — the
    merge of (old state ∪ fresh counts) is order- and batching-independent,
    so a replay from the still-pointed-at old version reproduces the same
    state (e.g. min(keeper): min is idempotent under re-union, exactly like
    sum over the file-filtered fresh rows)."""
    merge_aggs = agg_exprs if agg_exprs is not None else [F.sum("c").alias("c")]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        # NO batch-id skip guard: after checkpoint replacement batches
        # renumber from 0, and an id-based skip would silently drop a
        # renumbered batch that carries a genuinely-new file. The file log
        # makes every delivery idempotent instead — a retry of a fully
        # applied batch just rewrites an identical state version.
        # Versions are MONOTONIC (last+1), deliberately not batch_id: a
        # completed-batch retry under batch_id-keyed versions would read and
        # overwrite the SAME dir in one action (the self-overwrite trap).
        version = _read_meta(sp, state_dir) + 1
        applied = _read_files(sp, state_dir)
        # file-identity filter: a replaced checkpoint renumbers batches, so
        # rows from already-applied files must contribute nothing
        tagged = batch_df.withColumn("file_path", F.input_file_name())
        fresh = tagged.join(applied, "file_path", "left_anti")
        old = read_versioned_counts(sp, state_dir, counts_schema)
        merged = (
            old.unionByName(count_fn(fresh))
            .groupBy(*key_cols)
            .agg(*merge_aggs)
        )
        files = applied.unionByName(fresh.select("file_path").distinct()).distinct()
        # the merge result must not depend on the files it's about to replace;
        # versioned dirs already guarantee that (write target != read source),
        # so no localCheckpoint materialization is needed.
        merged.write.mode("overwrite").parquet(f"{state_dir}/counts_v{version}")
        files.write.mode("overwrite").parquet(f"{state_dir}/files_v{version}")
        # local_rel, not createDataFrame: a Python-RDD-backed 1-row write
        # costs seconds per micro-batch (see streaming/localrel.py)
        local_rel(sp, [(version,)], _META_SCHEMA).write.mode(
            "overwrite"
        ).parquet(f"{state_dir}/meta")
        _gc_versions(state_dir, keep={version})

    return sink


def batch_equivalent(spark: SparkSession, docs_dir: str) -> DataFrame:
    """What the state-backed report must equal: the batch KL report over one
    pass of everything that has landed."""
    docs = spark.read.schema(DOCS_STREAM_SCHEMA).parquet(docs_dir)
    return kl_report_from_counts(source_token_counts(docs))
