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
sketch forward as its own state dirs, and a KMV epoch counts only once both
its `hashes` and `counts` dirs are committed.

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

_HASH_SCHEMA = "event_type string, h bigint"
_COUNT_SCHEMA = "event_type string, cnt bigint"


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
    checkpoint: str,
    k: int = 1024,
):
    """foreachBatch sink maintaining the per-group KMV sketch across
    micro-batches. State per epoch: `hashes` (<= K smallest distinct
    hashes per group) and `counts` (one running row count per group).
    Returns the started StreamingQuery."""
    spark = stream.sparkSession
    hash_dir = os.path.join(work_dir, "hashes")
    count_dir = os.path.join(work_dir, "counts")

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.select(
            F.col(group_col).alias("event_type"), _kmv_hash(value_col).alias("h")
        )
        batch_counts = batch.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        batch_hashes = batch.distinct()

        # a replay can tear either dir while its twin stays committed from
        # the prior attempt, so the pair is resolved together
        prev = latest(hash_dir, count_dir, before=epoch_id)
        if prev is not None:
            prev_hashes = spark.read.schema(_HASH_SCHEMA).parquet(path(hash_dir, prev))
            batch_hashes = batch_hashes.unionByName(prev_hashes).distinct()
            prev_counts = spark.read.schema(_COUNT_SCHEMA).parquet(path(count_dir, prev))
            batch_counts = (
                batch_counts.unionByName(prev_counts)
                .groupBy("event_type")
                .agg(F.sum("cnt").cast("bigint").alias("cnt"))
            )
        w = Window.partitionBy("event_type").orderBy("h")
        merged = (
            batch_hashes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .drop("rn")
        )
        # a crash between the two writes leaves the epoch committed in one
        # root only, so readers and replay fall back to the previous pair
        batch_counts.write.mode("overwrite").parquet(path(count_dir, epoch_id))
        merged.write.mode("overwrite").parquet(path(hash_dir, epoch_id))

    return start(stream, handle, checkpoint, "update")


def read_kmv_estimate(spark: SparkSession, work_dir: str, k: int = 1024) -> DataFrame:
    """Drain the newest committed sketch into the batch twin's output shape
    (event_type, approx_users, cnt)."""
    hash_dir = os.path.join(work_dir, "hashes")
    count_dir = os.path.join(work_dir, "counts")
    last = latest(hash_dir, count_dir)
    if last is None:
        return spark.createDataFrame(
            [], "event_type string, approx_users bigint, cnt bigint"
        )
    hashes = spark.read.schema(_HASH_SCHEMA).parquet(path(hash_dir, last))
    counts = spark.read.schema(_COUNT_SCHEMA).parquet(path(count_dir, last))
    two60 = 1 << 60
    sk = hashes.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_small"), F.max("h").alias("kth")
    )
    est = F.floor(
        F.lit(float(k - 1)) * F.lit(float(two60)) / F.col("kth").cast("double")
    ).cast("long")
    return sk.join(counts, "event_type").select(
        "event_type",
        F.when(F.col("n_small") < k, F.col("n_small").cast("bigint"))
        .otherwise(est)
        .alias("approx_users"),
        "cnt",
    )


_CMS_SCHEMA = "r int, b bigint, c bigint"


def streaming_cms_sink(
    stream: DataFrame,
    bucket_expr: str,
    d: int,
    work_dir: str,
    checkpoint: str,
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

    return start(stream, handle, checkpoint, "update")


def read_cms_counters(spark: SparkSession, work_dir: str) -> DataFrame:
    """Drain the newest committed counter table (r, b, c)."""
    cdir = os.path.join(work_dir, "counters")
    last = latest(cdir)
    return read(spark, [] if last is None else [path(cdir, last)], _CMS_SCHEMA)
