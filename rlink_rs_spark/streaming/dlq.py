"""Streaming intake with dead-letter routing -- the two-sink split every
production ingest runs: each micro-batch's rows are classified once and
routed to EITHER the clean sink or the quarantine (DLQ) sink with a
reason code, never both, never neither.

Epoch protocol: streaming/epochs.py, over TWO roots. Both sinks commit
epoch N inside ONE foreachBatch handler, and the epoch is VISIBLE only
while it is committed in both `dlq` and `clean` -- so a drain reader can
never observe a state where the DLQ rows landed but the clean rows
didn't (ADVICE r9: the disjoint-and-complete invariant), whether the
drain falls between the writes, after an unresumed crash, or while a
replay's overwrite has torn one of the dirs. Replay rewrites both dirs
byte-identically (classification is deterministic) -- exactly-once
across a MULTI-sink epoch.

At 100 TB: classification is row-local expressions plus one broadcast
of the (tiny, config-sized) source blocklist -- the corpus never
shuffles; each sink write is partition-local. The DLQ stays queryable
by reason for pipeline triage.

Reference parity: the reference routes rejected rows to logs
(input_mapper.rs drops unparseable Kafka payloads); a queryable
reason-coded quarantine is the production generalization.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rlink_rs_spark.streaming.epochs import committed, path, read, start

MIN_CHARS = 100
ALLOWED_LANGS = ("en", "de", "fr", "es")
BLOCKED_SOURCES = ("src7", "src13")

_ROUTED_SCHEMA = (
    "doc_id bigint, lang string, source string, n_chars bigint, "
    "reason string, quarantined boolean"
)


def classify_intake(docs: DataFrame) -> DataFrame:
    """First-match-wins reason codes (too_short > lang_missing >
    lang_unsupported > source_blocked; NULL = clean). The blocklist joins
    as a broadcast dim -- the plan shape a config-driven blocklist has in
    production -- while the other rules are row-local expressions.

    lang IS NULL is an EXPLICIT quarantine reason: without the branch it
    would fall through the isin() check (NULL comparison -> no match) and
    land in the clean sink, a surprising policy for a quarantine gate
    (ADVICE r9). The oracle carries the same branch."""
    spark = docs.sparkSession
    block = spark.createDataFrame(
        [(s,) for s in BLOCKED_SOURCES], "source string"
    ).withColumn("blocked", F.lit(True))
    return (
        docs.join(F.broadcast(block), "source", "left")
        .select(
            "doc_id", "lang", "source", "n_chars",
            F.when(F.col("n_chars") < MIN_CHARS, F.lit("too_short"))
            .when(F.col("lang").isNull(), F.lit("lang_missing"))
            .when(~F.col("lang").isin(*ALLOWED_LANGS), F.lit("lang_unsupported"))
            .when(F.col("blocked"), F.lit("source_blocked"))
            .alias("reason"),
        )
        .withColumn("quarantined", F.col("reason").isNotNull())
    )


def streaming_dlq_sink(doc_stream: DataFrame, work_dir: str):
    """foreachBatch handler writing the epoch's clean rows and DLQ rows to
    their own per-epoch dirs; the epoch is visible once both are
    committed. Returns the StreamingQuery."""
    dlq_dir, clean_dir = os.path.join(work_dir, "dlq"), os.path.join(work_dir, "clean")

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        routed = classify_intake(batch_df)
        routed.where(F.col("quarantined")).write.mode("overwrite").parquet(
            path(dlq_dir, epoch_id)
        )
        routed.where(~F.col("quarantined")).write.mode("overwrite").parquet(
            path(clean_dir, epoch_id)
        )

    return start(doc_stream, handle, work_dir, "append")


def _read_sink(spark: SparkSession, work_dir: str, sink: str) -> DataFrame:
    """One sink's rows of the epochs committed in BOTH sinks."""
    roots = [os.path.join(work_dir, s) for s in ("dlq", "clean")]
    visible = set(committed(roots[0])).intersection(committed(roots[1]))
    root = os.path.join(work_dir, sink)
    return read(spark, [path(root, e) for e in sorted(visible)], _ROUTED_SCHEMA)


def read_clean(spark: SparkSession, work_dir: str) -> DataFrame:
    return _read_sink(spark, work_dir, "clean")


def read_dlq(spark: SparkSession, work_dir: str) -> DataFrame:
    return _read_sink(spark, work_dir, "dlq")
