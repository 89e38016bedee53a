"""Streaming perplexity admission scoring — the streaming leg of
operators/curation.perplexity_buckets (CCNet's per-language quality gate).

The batch operator re-tokenizes the whole corpus to build each language's
unigram LM; at 100 TB an ingest pipeline cannot afford a full re-scan per
document drop. The (lang, token) counts are the LM's sufficient statistic
and merge by plain addition, so the running state is the summed relation
maintained by drift.py's versioned exactly-once sink (SHARED machinery, not
a clone: `versioned_count_sink` — versioned counts+files dirs, monotonic
versions, meta pointer flipped last, file-identity idempotence; every
crash-window argument in drift.py's module docstring applies verbatim).

Scoring order is merge-THEN-score: a batch's counts enter the state before
its documents are scored, so every scored token is inside the LM's support
(no out-of-vocabulary -inf) and the parity oracle is exact:

    ppl_scores(state after draining appends, all landed docs)
        == the batch scoring core over everything landed
        == perplexity_buckets' (doc_id, lang, n_tokens, bits_per_token)
           columns when the landed corpus is the sf documents table

(tests/test_stream_ppl_gate.py pins both equalities after every round of
appends). The tercile/keep decision stays downstream — a RANK gate needs
the population, which is exactly what this state supplies to the batch
window at report time; the stream's job is the LM and the scores.

Scale: per-batch work is one tokenize+agg over the NEW documents plus a
merge bounded by |languages x vocabulary|; scoring any doc set is one
hash join against that bounded state — documents ever seen are never
re-read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.curation import (
    PPL_BUCKETS,
    _TOK_RE,
    bits_against_lm,
    doc_lang_token_counts,
    lang_token_counts,
)
from .drift import read_versioned_counts, versioned_count_sink
from .source import file_stream

DOCS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

_LANG_COUNTS_SCHEMA = "lang string, token string, c long"


def read_lm_counts(spark: SparkSession, state_dir: str) -> DataFrame:
    """The running (lang, token, c) LM state — empty before the first
    applied batch."""
    return read_versioned_counts(spark, state_dir, _LANG_COUNTS_SCHEMA)


def stream_ppl_state(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Maintain the per-language LM counts over an append-only document dir.
    Returns the StreamingQuery (availableNow trigger: drains the backlog,
    then stops — re-run on the same checkpoint for new files)."""
    stream = file_stream(
        spark, "parquet", docs_dir, DOCS_STREAM_SCHEMA, max_files_per_trigger
    )
    sink = versioned_count_sink(
        state_dir, _LANG_COUNTS_SCHEMA, ["lang", "token"], lang_token_counts
    )
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )


def ppl_scores(
    spark: SparkSession, state_dir: str, docs: DataFrame
) -> DataFrame:
    """Score any (doc_id, lang, text) relation against the current LM state:
    (doc_id, lang, n_tokens, bits_per_token). Exact for documents whose
    counts are already merged into the state (the gate's contract); a doc
    carrying tokens the state has never seen drops those tokens from its
    score via the inner LM join — admission of truly out-of-corpus text
    should merge first (the batch sink does)."""
    lm = read_lm_counts(spark, state_dir).withColumnRenamed("c", "cf")
    return bits_against_lm(doc_lang_token_counts(docs), lm)


def ppl_gate_report(
    spark: SparkSession, state_dir: str, docs: DataFrame
) -> DataFrame:
    """The full CCNet decision over state-backed scores: per-language
    NTILE(PPL_BUCKETS) terciles + keep(head+middle) — identical output
    shape to the batch perplexity_buckets, computed from the incremental
    LM instead of a corpus re-scan.

    Loud-failure contract (round-9 ADVICE): ppl_scores' inner LM join makes
    a document whose tokens are ALL outside the state's support vanish
    rather than score — which is exactly what happens when files land in
    docs_dir after the stream drained, so the report would silently gate a
    smaller population than it was handed. The report refuses to render in
    that case: merge the stragglers first (re-run stream_ppl_state), then
    report. Cost: one count over the per-doc scored relation (cached for
    reuse by the returned plan), one anti-join count over doc ids."""
    from pyspark.sql import Window

    from ..operators import scoped_cache

    scored = scoped_cache(ppl_scores(spark, state_dir, docs))
    # Zero-token docs (empty/whitespace-only text) are excluded from the
    # staleness check, matching the batch operator's silent drop: they can
    # never appear in `scored`, and re-running stream_ppl_state merges no
    # tokens for them, so treating them as stale would make the report
    # permanently unrenderable on a remediation that cannot succeed
    # (round-10 ADVICE).
    tokenized = docs.filter(
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOK_RE), F.lit(0))
        )
        > 0
    )
    missing = (
        tokenized.select("doc_id").distinct()
        .join(scored.select("doc_id"), "doc_id", "left_anti")
    )
    n_missing = missing.count()
    if n_missing:
        sample = [r["doc_id"] for r in missing.limit(5).collect()]
        raise ValueError(
            f"ppl_gate_report: {n_missing} document(s) have no in-support "
            f"tokens in the LM state (e.g. doc_id {sample}) — the state is "
            "stale for them (files landed after the stream drained). "
            "Re-run stream_ppl_state to merge, then report."
        )
    w = Window.partitionBy("lang").orderBy("bits_per_token", "doc_id")
    return scored.select(
        "doc_id",
        "lang",
        "n_tokens",
        "bits_per_token",
        F.ntile(PPL_BUCKETS).over(w).alias("ppl_bucket"),
    ).withColumn("keep", F.col("ppl_bucket") < PPL_BUCKETS)


def batch_equivalent(spark: SparkSession, docs_dir: str) -> DataFrame:
    """What the state-backed scores must equal: the batch scoring core over
    one pass of everything that has landed."""
    docs = spark.read.schema(DOCS_STREAM_SCHEMA).parquet(docs_dir)
    dcnt = doc_lang_token_counts(docs)
    lm = dcnt.groupBy("lang", "token").agg(F.sum("c").alias("cf"))
    return bits_against_lm(dcnt, lm)
