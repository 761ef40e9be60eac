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

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rlink_rs_spark.streaming.epochs import latest, path, start

# The view's one schema: pinned on every read, because an empty view (a
# single-day corpus' history) has no part file to infer it from.
VIEW_SCHEMA = "day bigint, event_type string, n bigint, sc bigint, mx double, mn double"
DAY_MS = 86_400_000


def day() -> Column:
    """The UTC day index of the event timestamp ``ts``."""
    return F.expr(f"CAST(unix_millis(ts) div {DAY_MS} AS BIGINT)")


def batch_rollup(df: DataFrame) -> DataFrame:
    """Distributive daily rollup in MERGEABLE form: count/sum-cents/max/min
    re-aggregate losslessly, which is what makes the view incrementally
    maintainable (avg or distinct would need their own mergeable carriers
    -- n+sum and the KMV sketch respectively)."""
    return df.groupBy(day().alias("day"), "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CAST(ROUND(value*100) AS BIGINT)")).cast("bigint").alias("sc"),
        F.max("value").alias("mx"),
        F.min("value").alias("mn"),
    )


def merge(views: DataFrame) -> DataFrame:
    """Fold stacked views (carrier rows) into one view."""
    return views.groupBy("day", "event_type").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sc").cast("bigint").alias("sc"),
        F.max("mx").alias("mx"),
        F.min("mn").alias("mn"),
    )


def view_rows(view: DataFrame) -> DataFrame:
    """A view in the rollup's output shape (the shared oracle's columns)."""
    return view.select(
        (F.col("day") * DAY_MS).alias("day_start_ms"),
        "event_type",
        F.col("n").alias("cnt"),
        (F.col("sc") / 100.0).alias("sum_value"),
        F.col("mx").alias("max_value"),
        F.col("mn").alias("min_value"),
    )


def streaming_rollup_sink(stream: DataFrame, work_dir: str):
    """foreachBatch sink folding each micro-batch's daily rollup into the
    carried view. Returns the started StreamingQuery."""
    spark = stream.sparkSession
    view_dir = os.path.join(work_dir, "view")

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        delta = batch_rollup(batch_df)
        prev = latest(view_dir, before=epoch_id)
        if prev is not None:
            delta = delta.unionByName(
                spark.read.schema(VIEW_SCHEMA).parquet(path(view_dir, prev))
            )
        merge(delta).write.mode("overwrite").parquet(path(view_dir, epoch_id))

    return start(stream, handle, work_dir, "update")


def read_rollup_view(spark: SparkSession, work_dir: str) -> DataFrame:
    """Drain the newest committed view into the batch twin's output shape."""
    view_dir = os.path.join(work_dir, "view")
    last = latest(view_dir)
    if last is None:
        return view_rows(spark.createDataFrame([], VIEW_SCHEMA))
    return view_rows(spark.read.schema(VIEW_SCHEMA).parquet(path(view_dir, last)))
