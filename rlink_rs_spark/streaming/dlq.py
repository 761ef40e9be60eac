"""Streaming intake with dead-letter routing -- the two-sink split every
production ingest runs: each micro-batch's rows are classified once and
routed to EITHER the clean sink or the quarantine (DLQ) sink with a
reason code, never both, never neither.

Epoch protocol: streaming/epochs.py, over ONE root. Epoch N's routed
rows, clean and quarantined alike, are one write into
`routed/batch_id=N`, and the clean and DLQ readers filter that dir on its
`quarantined` column. So a drain reader can never observe an epoch's DLQ
rows without its clean rows (ADVICE r9: the disjoint-and-complete
invariant): a crash or a replay's overwrite tears the one dir, which
hides the epoch from both readers. Replay rewrites the dir
byte-identically (classification is deterministic) -- exactly-once.

At 100 TB: classification is row-local expressions plus one broadcast
of the (tiny, config-sized) source blocklist -- the corpus never
shuffles; the epoch write is partition-local. The DLQ stays queryable
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
    """foreachBatch handler writing the epoch's routed rows as one dir.
    Returns the StreamingQuery."""
    root = os.path.join(work_dir, "routed")

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        classify_intake(batch_df).write.mode("overwrite").parquet(path(root, epoch_id))

    return start(doc_stream, handle, work_dir, "append")


def _read_routed(spark: SparkSession, work_dir: str) -> DataFrame:
    root = os.path.join(work_dir, "routed")
    return read(spark, [path(root, e) for e in committed(root)], _ROUTED_SCHEMA)


def read_clean(spark: SparkSession, work_dir: str) -> DataFrame:
    return _read_routed(spark, work_dir).where(~F.col("quarantined"))


def read_dlq(spark: SparkSession, work_dir: str) -> DataFrame:
    return _read_routed(spark, work_dir).where(F.col("quarantined"))
