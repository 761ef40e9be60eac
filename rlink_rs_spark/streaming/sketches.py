"""Streaming KMV distinct-count sketch -- the streaming twin of
queries/stats.approx_distinct_users.

The KMV sketch (Bar-Yossef et al. 2002) is MERGEABLE EXACTLY: the K
smallest distinct hashes of (prefix UNION batch) equal the K smallest of
(kept-K(prefix) UNION batch), because everything a prefix discarded is
larger than its kth smallest, and the kth smallest only decreases as the
stream grows. So the keyed streaming state is the sketch itself -- at most
K hash values per group plus one running row count -- CONSTANT in stream
length, and the drained estimate is row-identical to the batch query over
the same rows regardless of arrival order or partitioning (deterministic
md5-derived hashes). This is the property HLL shares in principle but not
in any engine-portable way; KMV's merge is plain distinct-union + top-K.

Epoch protocol: streaming/epochs.py; epoch N carries the newest committed
sketch forward as its own dir of (group, h, cnt) rows: the group's <= K
smallest hashes, each carrying the group's running row count.

Reference parity: the reference's only approx aggregate is the histogram
pct (functions/percentile/mod.rs:1-222); a distinct sketch would live in
the same ReduceFunction fold slot (core/function.rs:224-237). Here the
fold is one distinct-union + rank window per micro-batch.

100 TB path: per micro-batch the sketch work is one groupBy on
(group, h) over the BATCH only (map-side combined), then a merge window
over at most |groups| * (K + batch-distinct) rows; the standing corpus is
never rescanned and state is O(|groups| * K) rows total.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rlink_rs_spark.streaming.epochs import latest, path, read, start

_SKETCH_SCHEMA = "event_type string, h bigint, cnt bigint"


def _kmv_hash(col: str) -> F.Column:
    """60-bit md5-derived hash -- the exact expression the batch twin and
    its DuckDB oracle use (operators/aggregations.kmv_distinct_sketch)."""
    return F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def streaming_kmv_sink(
    stream: DataFrame,
    group_col: str,
    value_col: str,
    work_dir: str,
    k: int = 1024,
):
    """foreachBatch sink maintaining the per-group KMV sketch across
    micro-batches. State per epoch: one dir of the <= K smallest distinct
    hashes per group, each row carrying the group's running row count.
    Returns the started StreamingQuery."""
    spark = stream.sparkSession
    root = os.path.join(work_dir, "sketch")

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        # batch rows count 1 each (n); carried rows count 0 and bring the
        # prior running count (cnt)
        rows = batch_df.select(
            F.col(group_col).alias("event_type"),
            _kmv_hash(value_col).alias("h"),
            F.lit(1).cast("bigint").alias("n"),
            F.lit(0).cast("bigint").alias("cnt"),
        )
        prev = latest(root, before=epoch_id)
        if prev is not None:
            carried = spark.read.schema(_SKETCH_SCHEMA).parquet(path(root, prev))
            rows = rows.unionByName(carried.withColumn("n", F.lit(0).cast("bigint")))
        g = Window.partitionBy("event_type")
        merged = (
            rows.groupBy("event_type", "h")
            .agg(F.sum("n").alias("n"), F.max("cnt").alias("cnt"))
            .select(
                "event_type",
                "h",
                (F.sum("n").over(g) + F.max("cnt").over(g)).alias("cnt"),
                F.row_number().over(g.orderBy("h")).alias("rn"),
            )
            .where(F.col("rn") <= k)
            .drop("rn")
        )
        merged.write.mode("overwrite").parquet(path(root, epoch_id))

    return start(stream, handle, work_dir, "update")


def read_kmv_estimate(spark: SparkSession, work_dir: str, k: int = 1024) -> DataFrame:
    """Drain the newest committed sketch into the batch twin's output shape
    (event_type, approx_users, cnt)."""
    root = os.path.join(work_dir, "sketch")
    last = latest(root)
    sketch = read(spark, [] if last is None else [path(root, last)], _SKETCH_SCHEMA)
    two60 = 1 << 60
    est = F.floor(
        F.lit(float(k - 1)) * F.lit(float(two60)) / F.col("kth").cast("double")
    ).cast("long")
    # a null group drops out, as in the batch twin's join on the group
    return (
        sketch.where(F.col("event_type").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            F.max("h").alias("kth"),
            F.max("cnt").alias("cnt"),
        )
        .select(
            "event_type",
            F.when(F.col("n_small") < k, F.col("n_small").cast("bigint"))
            .otherwise(est)
            .alias("approx_users"),
            "cnt",
        )
    )


_CMS_SCHEMA = "r int, b bigint, c bigint"


def streaming_cms_sink(
    stream: DataFrame,
    bucket_expr: str,
    d: int,
    work_dir: str,
):
    """foreachBatch sink maintaining count-min counters across micro-batches.
    The CMS merge is counter ADDITION -- exactly associative BIGINT sums --
    so the carried state is the fixed d x w counter table itself and the
    drained sketch is bit-equal to the batch fold over the same rows.
    `bucket_expr` is the Spark SQL bucket expression shared verbatim with
    the batch query and its DuckDB oracle."""
    spark = stream.sparkSession
    cdir = os.path.join(work_dir, "counters")

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        rows = spark.range(d).select(F.col("id").cast("int").alias("r"))
        delta = (
            batch_df.crossJoin(F.broadcast(rows))
            .groupBy("r", F.expr(bucket_expr).alias("b"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        prev = latest(cdir, before=epoch_id)
        if prev is not None:
            delta = delta.unionByName(
                spark.read.schema(_CMS_SCHEMA).parquet(path(cdir, prev))
            )
        merged = delta.groupBy("r", "b").agg(F.sum("c").cast("bigint").alias("c"))
        merged.write.mode("overwrite").parquet(path(cdir, epoch_id))

    return start(stream, handle, work_dir, "update")


def read_cms_counters(spark: SparkSession, work_dir: str) -> DataFrame:
    """Drain the newest committed counter table (r, b, c)."""
    cdir = os.path.join(work_dir, "counters")
    last = latest(cdir)
    return read(spark, [] if last is None else [path(cdir, last)], _CMS_SCHEMA)
