"""Streaming materialized-view maintenance -- the streaming twin of
queries/analytics.incremental_daily_rollup.

The daily rollup is kept in MERGEABLE-CARRIER form (count, sum-cents,
max, min), so maintaining it under a stream is the same algebra as the
batch incremental merge: per micro-batch, aggregate the BATCH ONLY and
re-aggregate against the carried view on the <= days x types summary
table. State is the view itself -- bounded by the key space, constant in
stream length -- and the drained view equals the batch rollup over the
same rows, so it shares that DuckDB oracle.

Epoch protocol: streaming/epochs.py; epoch N carries the newest committed
view forward as its own state dir.

Reference parity: this is the reference's incremental window reduce
(window_base_reduce.rs:84-101) generalized to a persistent, queryable
view instead of per-window transient state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rlink_rs_spark.streaming.epochs import latest, path, start

_VIEW_SCHEMA = "day bigint, event_type string, n bigint, sc bigint, mx double, mn double"
_DAY_MS = 86_400_000


def _batch_rollup(df: DataFrame) -> DataFrame:
    return df.groupBy(
        F.expr(f"CAST(unix_millis(ts) div {_DAY_MS} AS BIGINT)").alias("day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CAST(ROUND(value*100) AS BIGINT)")).cast("bigint").alias("sc"),
        F.max("value").alias("mx"),
        F.min("value").alias("mn"),
    )


def streaming_rollup_sink(stream: DataFrame, work_dir: str, checkpoint: str):
    """foreachBatch sink folding each micro-batch's daily rollup into the
    carried view. Returns the started StreamingQuery."""
    spark = stream.sparkSession
    view_dir = os.path.join(work_dir, "view")

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        delta = _batch_rollup(batch_df)
        prev = latest(view_dir, before=epoch_id)
        if prev is not None:
            delta = delta.unionByName(
                spark.read.schema(_VIEW_SCHEMA).parquet(path(view_dir, prev))
            )
        merged = delta.groupBy("day", "event_type").agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("sc").cast("bigint").alias("sc"),
            F.max("mx").alias("mx"),
            F.min("mn").alias("mn"),
        )
        merged.write.mode("overwrite").parquet(path(view_dir, epoch_id))

    return start(stream, handle, checkpoint, "update")


def read_rollup_view(spark: SparkSession, work_dir: str) -> DataFrame:
    """Drain the newest committed view into the batch twin's output shape."""
    view_dir = os.path.join(work_dir, "view")
    last = latest(view_dir)
    if last is None:
        return spark.createDataFrame(
            [],
            "day_start_ms bigint, event_type string, cnt bigint, "
            "sum_value double, max_value double, min_value double",
        )
    view = spark.read.schema(_VIEW_SCHEMA).parquet(path(view_dir, last))
    return view.select(
        (F.col("day") * _DAY_MS).alias("day_start_ms"),
        "event_type",
        F.col("n").alias("cnt"),
        (F.col("sc") / 100.0).alias("sum_value"),
        F.col("mx").alias("max_value"),
        F.col("mn").alias("min_value"),
    )
