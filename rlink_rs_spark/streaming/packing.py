"""Streaming sequence packing -- the streaming twin of
queries/pipeline_ops.pack_sequences, via the carrier-state pattern
(streaming/rollup.py): the only cross-batch state the greedy
concat-and-chop pack needs is ONE running token total per language.

Per micro-batch: compute the batch-local per-lang prefix sum with the
SAME distributed helper the batch twin uses
(operators/ranking.with_group_prefix_sum), offset it by the carried
per-lang totals (a broadcast <= #langs-row table), emit each doc's bin
assignment as an epoch delta, and commit the updated totals as the
epoch's state. Chunks replay in doc_id order, so carried-total +
within-batch prefix equals the global per-lang cumsum and the drained
(lang, bin) aggregate hash-matches the batch oracle.

Epoch protocol: streaming/epochs.py, with deltas written first and the
state (the commit record) last -- epoch N+1 only fires after N's handler
returned, so it always reads N's committed totals; a crash anywhere in N
replays both writes byte-identically. State is O(#langs), constant in
stream length.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rlink_rs_spark.streaming.epochs import latest, path, read, start

_STATE_SCHEMA = "lang string, total bigint"
_DELTA_SCHEMA = "doc_id bigint, lang string, n bigint, bin bigint"


def streaming_pack_sink(
    doc_stream: DataFrame, work_dir: str, checkpoint: str, ctx_len: int
):
    """foreachBatch sink assigning each arriving doc its training-context
    bin from the carried per-lang token totals. Returns the started
    StreamingQuery."""
    from rlink_rs_spark.operators.ranking import with_group_prefix_sum

    spark = doc_stream.sparkSession
    state_dir = os.path.join(work_dir, "state")
    delta_dir = os.path.join(work_dir, "deltas")

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        sized = batch_df.select(
            "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n")
        )
        if sized.isEmpty():
            return
        prev = latest(state_dir, before=epoch_id)
        carried = read(
            spark, [] if prev is None else [path(state_dir, prev)], _STATE_SCHEMA
        )
        cum = with_group_prefix_sum(sized, ["lang"], [F.col("doc_id")], "n")
        offset = cum.join(F.broadcast(carried), "lang", "left").fillna(
            0, subset=["total"]
        )
        assigned = offset.select(
            "doc_id", "lang", "n",
            F.floor(
                (F.col("total") + F.col("_gcum") - F.col("n")) / float(ctx_len)
            ).cast("bigint").alias("bin"),
        )
        assigned.write.mode("overwrite").parquet(path(delta_dir, epoch_id))
        new_state = (
            carried.unionByName(
                sized.groupBy("lang").agg(F.sum("n").cast("bigint").alias("total"))
            )
            .groupBy("lang")
            .agg(F.sum("total").cast("bigint").alias("total"))
        )
        new_state.write.mode("overwrite").parquet(path(state_dir, epoch_id))

    return start(doc_stream, handle, checkpoint, "update")


def read_packed_bins(spark: SparkSession, work_dir: str) -> DataFrame:
    """Drain: aggregate the per-doc assignments into the batch twin's
    (lang, bin, n_docs, total_tokens) shape."""
    from rlink_rs_spark.streaming.deltas import read_deltas

    assigned = read_deltas(spark, os.path.join(work_dir, "deltas"), _DELTA_SCHEMA)
    return assigned.groupBy("lang", "bin").agg(
        F.count("*").alias("n_docs"), F.sum("n").alias("total_tokens")
    )
