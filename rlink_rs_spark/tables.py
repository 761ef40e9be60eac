"""Fixture table loaders for the TESTDATA.md parquet tables.

The reference has no file formats at all (SURVEY.md 2.1: no CSV/Parquet/JSON
readers); Spark gives us columnar parquet scans with predicate pushdown and
column pruning for free.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import lru_cache

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _pin_read_confs(spark: SparkSession, ns_cols: tuple[str, ...]) -> None:
    # UTC, so TIMESTAMP_NTZ -> TIMESTAMP casts and window arithmetic are
    # timezone-stable (the DuckDB oracle reads naive timestamps as UTC), and
    # no TIMESTAMP_NTZ inference: unix_millis()/withWatermark() reject it.
    pins = {"spark.sql.session.timeZone": "UTC",
            "spark.sql.parquet.inferTimestampNTZ.enabled": "false"}
    if ns_cols:
        pins["spark.sql.legacy.parquet.nanosAsLong"] = "true"
    for k, v in pins.items():
        spark.conf.set(k, v)


@lru_cache(maxsize=256)
def _fixture_schema(
    spark: SparkSession, path: str, size: int, mtime_ns: int
) -> tuple[StructType, tuple[str, ...]]:
    """(Spark's schema under the pinned confs, TIMESTAMP(NANOS) columns) of
    one file version. Spark has no nanosecond type, so those columns read
    as raw INT64 (nanosAsLong); the footer check is pyarrow's. Inferring
    runs a Spark job (80-100 ms warm), hence one per (path, size, mtime)."""
    ns_cols = tuple(f.name for f in pq.read_schema(path) if str(f.type).startswith("timestamp[ns"))
    _pin_read_confs(spark, ns_cols)
    return spark.read.parquet(path).schema, ns_cols


def read_fixture(spark: SparkSession, path: str, scan: Callable[[StructType], DataFrame]) -> DataFrame:
    """``scan(schema)`` with the fixture file's memoized schema, nanosecond
    timestamps truncated to microsecond TimestampType -- DuckDB's epoch_ms()
    truncation, so engine and oracle see identical instants."""
    st = os.stat(path)
    schema, ns_cols = _fixture_schema(spark, path, st.st_size, st.st_mtime_ns)
    _pin_read_confs(spark, ns_cols)
    df = scan(schema)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; scans stay pushdown-friendly (no caching here)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return read_fixture(spark, path, lambda schema: spark.read.schema(schema).parquet(path))
