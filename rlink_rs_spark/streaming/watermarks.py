"""Watermark strategies.

Reference semantics mapped (SURVEY.md §2.7):
  * SchemaTimestampAssigner (functions/watermark/schema_timestamp_assigner.rs:8-38)
    -> the event-time column passed to withWatermark.
  * BoundedOutOfOrdernessWatermarks: wm = max_event_ts - delay - 1
    (bounded_out_of_orderness_watermarks.rs:23-39) -> withWatermark(col, delay)
    (Spark: wm = max - delay; the -1ms is emission bookkeeping, not
    semantics). Spark's rule, pinned against a pure-Python model by
    tests/test_properties.py::test_watermark_model: after each batch every
    watermark node stands at the max event time it has seen minus its
    delay (0 until it sees a row), and the global watermark is the minimum
    over the nodes and never moves back. A batch filters late input with
    the previous batch's watermark and evicts with its own (SPARK-40925):
    a stream-stream join drops a row whose event time is <= that
    watermark; a window aggregation drops a row's copy for each window
    whose end is <= it (numRowsDroppedByWatermark then counts the batch's
    dropped (window, key) groups, not rows), and append mode emits a window
    once its end is <= the watermark.
  * TimePeriodicWatermarks (rate-limited emission, time_periodic_watermarks.rs:39-73):
    behavioral no-op under micro-batching -- the engine advances the
    watermark once per batch, which IS periodic emission.
  * WatermarksWithIdleness (watermarks_with_idleness.rs:27-81): no per-source
    PySpark knob, so the mitigation is a KEEP-ALIVE HEARTBEAT UNION
    (keep_alive_union below): synthetic sentinel-keyed rows are unioned
    into the idle-prone source BEFORE its watermark node, so the node's
    max-event-time scan keeps advancing and the source stops pinning the
    global min watermark -- the reference's "exclude idle source from
    alignment" effect. Heartbeat rows flow THROUGH the stateful operator
    under the sentinel key and are stripped after it (strip_heartbeats):
    a pre-watermark filter would be pushed below EventTimeWatermarkExec
    by Catalyst (the predicate doesn't reference the event-time column)
    and the mitigation would silently no-op. `idle_timeout` drives the
    production heartbeat lag (rate_heartbeats: hb ts = wall clock -
    idle_timeout, so a LIVE source's data-driven watermark is never
    overtaken -- watermarks are max-monotonic -- while an idle source's
    watermark starts tracking processing time after ~idle_timeout,
    matching the reference's processing-time IdlenessTimer,
    watermarks_with_idleness.rs:86-134). Divergence kept: with ALL
    sources idle the reference stalls the global watermark entirely,
    while heartbeats keep advancing it at wall-clock pace.
    Witnesses: tests/test_streaming.py::test_idle_source_watermark_policy
    (the unmitigated divergence) and the oracled
    streaming_idle_source_heartbeat registry query (the mitigation).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HEARTBEAT_KEY = "__hb__"


@dataclass(frozen=True)
class WatermarkStrategy:
    """DefaultWatermarkStrategy analogue (default_watermark_strategy.rs:13-88):
    event-time column + bounded out-of-orderness delay."""

    ts_col: str
    delay_seconds: float = 0.0
    idle_timeout_seconds: float | None = None  # declared intent; see module doc

    def delay_str(self) -> str:
        ms = int(round(self.delay_seconds * 1000))
        return f"{ms} milliseconds" if ms % 1000 else f"{ms // 1000} seconds"

    def apply(self, df: DataFrame) -> DataFrame:
        if not df.isStreaming:
            return df  # batch runs see all data; watermark is a no-op
        return df.withWatermark(self.ts_col, self.delay_str())


def bounded_out_of_orderness(ts_col: str, delay_seconds: float) -> WatermarkStrategy:
    return WatermarkStrategy(ts_col, delay_seconds)


def with_idleness(
    strategy: WatermarkStrategy, idle_timeout_seconds: float
) -> WatermarkStrategy:
    """DefaultWatermarkStrategy::with_idleness analogue
    (default_watermark_strategy.rs + watermarks_with_idleness.rs:27-81)."""
    return WatermarkStrategy(
        strategy.ts_col, strategy.delay_seconds, idle_timeout_seconds
    )


def keep_alive_union(
    source: DataFrame, heartbeats: DataFrame, strategy: WatermarkStrategy
) -> DataFrame:
    """WatermarksWithIdleness mitigation (watermarks_with_idleness.rs:27-81):
    union keep-alive rows into a source BEFORE its watermark assignment so
    an idle source's max-event-time (and therefore its watermark) keeps
    advancing instead of pinning the global min watermark.

    Heartbeat rows must carry HEARTBEAT_KEY in their key column and the
    source's schema; they flow through the downstream stateful operator as
    their own sentinel groups and are dropped AFTER it (strip_heartbeats on
    the sink output). Do NOT filter them between this union and the
    stateful operator: Catalyst pushes key predicates below
    EventTimeWatermarkExec (they don't reference the event-time column),
    which would silently remove the rows from the watermark scan and
    re-open the divergence this operator closes."""
    return strategy.apply(source.unionByName(heartbeats.select(*source.columns)))


def strip_heartbeats(df: DataFrame, key_col: str) -> DataFrame:
    """Drop the sentinel groups keep_alive_union's heartbeat rows produced.
    Apply to the STATEFUL OPERATOR'S OUTPUT (or the materialized sink
    result) -- see keep_alive_union for why not earlier. Null-safe: a
    source whose key column contains NULLs keeps those real groups (a
    plain `!=` would evaluate NULL and drop them with the sentinels)."""
    return df.where(~F.col(key_col).eqNullSafe(HEARTBEAT_KEY))


def rate_heartbeats(
    source: DataFrame,
    strategy: WatermarkStrategy,
    key_col: str,
    rows_per_second: int = 1,
) -> DataFrame:
    """Production keep-alive stream for keep_alive_union: a rate source
    emitting sentinel rows whose event time is wall clock minus
    idle_timeout. While a source is live (event time ~ processing time,
    the regime where idleness matters), its data watermark stays ahead of
    the heartbeat watermark, so heartbeats change nothing (watermarks are
    max-monotonic); once it has been silent for ~idle_timeout, the
    heartbeat watermark overtakes the stalled data watermark and the
    source stops holding back the min -- the reference's idleness marking,
    processing-time-based exactly like its IdlenessTimer
    (watermarks_with_idleness.rs:86-134).

    `source` supplies the schema to clone: the key column gets
    HEARTBEAT_KEY, the event-time column gets the lagged wall clock, and
    every other column is NULL of the right type. Bounded replays stage
    deterministic heartbeat files instead (streaming.sources.
    heartbeat_stream) -- wall clock has no meaning in a replay."""
    if strategy.idle_timeout_seconds is None:
        raise ValueError("rate_heartbeats needs strategy.idle_timeout_seconds")
    spark = source.sparkSession
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    lag = int(round(strategy.idle_timeout_seconds))
    cols = []
    for f in source.schema.fields:
        if f.name == strategy.ts_col:
            cols.append(
                (F.col("timestamp") - F.expr(f"INTERVAL {lag} SECONDS")).alias(f.name)
            )
        elif f.name == key_col:
            cols.append(F.lit(HEARTBEAT_KEY).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return rate.select(*cols)
