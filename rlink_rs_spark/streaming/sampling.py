"""Streaming weighted reservoir sampling -- the streaming twin of
queries/text.weighted_sample_docs (Efraimidis-Spirakis A-ES).

A-ES turns "sample K docs per language with probability proportional to
weight, without replacement" into "keep the top-K by key pow(u, 1/w)", and
top-K composes exactly: top-K(stream so far) = top-K(top-K(prefix) UNION
new batch). So the streaming state is the reservoir itself -- K rows per
language, CONSTANT in stream length -- and the drained result is
row-identical to the batch query over the same rows (deterministic salted
md5 keys make the draw independent of arrival order and partitioning).

Epoch protocol: streaming/epochs.py; epoch N carries the newest committed
reservoir forward as its own state dir.

Reference parity: the reference's per-stream sampling would live in a
CoProcess with keyed state (core/function.rs:256-272); here the state is
K rows per key and the merge is one rank window per micro-batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rlink_rs_spark.streaming.epochs import latest, path, start

_RESERVOIR_SCHEMA = "lang string, doc_id bigint, n_chars bigint, key_n bigint"


def streaming_weighted_reservoir_sink(
    doc_stream: DataFrame,
    key_expr: str,
    work_dir: str,
    checkpoint: str,
    top_k: int = 20,
):
    """foreachBatch sink maintaining the per-language A-ES reservoir.
    `doc_stream` needs (lang, doc_id, n_chars); `key_expr` is the SQL for
    the integer A-ES key (shared verbatim with the batch query and its
    DuckDB oracle). Returns the started StreamingQuery."""
    spark = doc_stream.sparkSession
    state_dir = os.path.join(work_dir, "reservoir")

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        keyed = batch_df.select(
            "lang",
            "doc_id",
            # bigint: the batch twin passes the fixture's int64 through
            # untouched, and the driver's value hash is type-sensitive
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.expr(key_expr).alias("key_n"),
        )
        prev = latest(state_dir, before=epoch_id)
        if prev is not None:
            keyed = keyed.unionByName(
                spark.read.schema(_RESERVOIR_SCHEMA).parquet(path(state_dir, prev))
            )
        w = Window.partitionBy("lang").orderBy(F.col("key_n").desc(), F.col("doc_id"))
        merged = (
            keyed.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_k)
            .drop("rank")
        )
        merged.write.mode("overwrite").parquet(path(state_dir, epoch_id))

    return start(doc_stream, handle, checkpoint, "update")


def read_reservoir(spark: SparkSession, work_dir: str, top_k: int = 20) -> DataFrame:
    """Final reservoir (newest committed epoch) with the batch query's
    output shape: (lang, rank, doc_id, n_chars, key)."""
    state_dir = os.path.join(work_dir, "reservoir")
    last = latest(state_dir)
    if last is None:
        return spark.createDataFrame([], "lang string, rank int, doc_id bigint, n_chars bigint, key double")
    res = spark.read.schema(_RESERVOIR_SCHEMA).parquet(path(state_dir, last))
    w = Window.partitionBy("lang").orderBy(F.col("key_n").desc(), F.col("doc_id"))
    return (
        res.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= top_k)
        .select(
            "lang",
            "rank",
            "doc_id",
            "n_chars",
            (F.col("key_n") / F.lit(1000000000.0)).alias("key"),
        )
    )
