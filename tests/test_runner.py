"""streaming.runner is the one place that drains a bounded streaming query,
stops it and sizes its state partitions: these tests hold it to that."""

from __future__ import annotations

import os
import tempfile
import time
from dataclasses import dataclass, field

import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException
from pyspark.sql import functions as F

from rlink_rs_spark.operators.joins import interval_join
from rlink_rs_spark.queries import REGISTRY
from rlink_rs_spark.queries.streams import click_purchase_join, flagship_window_agg
from rlink_rs_spark.streaming.metrics import ProgressCollector
from rlink_rs_spark.streaming.runner import (
    _policy,
    drain,
    run_to_memory,
    run_to_parquet,
    state_partitions,
)
from rlink_rs_spark.streaming.sources import file_stream

_PARTS = "spark.sql.shuffle.partitions"
_NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"


def _rate_query(spark, handler):
    """A never-ending query: rate source, processing-time trigger."""
    return (
        spark.readStream.format("rate").option("rowsPerSecond", 10).load()
        .writeStream.foreachBatch(handler)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="rlink_rate_ck_"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )


def test_drain_stops_every_query_when_one_fails(spark):
    """A failing query's error propagates out of drain, and the queries
    after it are stopped rather than left running."""

    def fail(batch_df, epoch_id):
        raise RuntimeError("injected sink failure")

    failing = _rate_query(spark, fail)
    running = _rate_query(spark, lambda batch_df, epoch_id: None)
    with pytest.raises(StreamingQueryException, match="injected sink failure"):
        drain(failing, running, what="two rate queries")
    assert not failing.isActive
    assert not running.isActive


@dataclass
class _BatchProbe(ProgressCollector):
    """ProgressCollector that also records each batch's state-store
    partition count and the rows its sink reports."""

    state_partitions: list[int] = field(default_factory=list)
    sink_rows: list[int] = field(default_factory=list)

    def onQueryProgress(self, event):  # noqa: N802 (Spark API names)
        ops = event.progress.stateOperators
        if ops:
            self.state_partitions.append(ops[0].numShufflePartitions)
        self.sink_rows.append(event.progress.sink.numOutputRows)
        super().onQueryProgress(event)


def _events_join(spark, sf_dir, how: str = "inner"):
    """Click -> purchase interval join of two watermarked events streams:
    the registry's plan when inner."""
    if how == "inner":
        return click_purchase_join(
            file_stream(spark, sf_dir, "events"), file_stream(spark, sf_dir, "events")
        )
    clicks, purchases = (
        file_stream(spark, sf_dir, "events")
        .select(F.col("user_id").alias(f"{side}_user"), F.col("ts").alias(f"{side}_ts"))
        .withWatermark(f"{side}_ts", "1 minute")
        for side in ("c", "p")
    )
    return interval_join(clicks, purchases, "c_user", "p_user", "c_ts", "p_ts", how=how)


def test_runner_pins_state_partitions_and_restores_conf(spark, sf_dir):
    """run_to_memory runs stateful queries with state_partitions(stream)
    state stores whatever the session's setting -- 1 for the 27 KB sf0.001
    events, also under a session ceiling of 3 -- and gives the session its
    own shuffle-partition and no-data settings back afterwards, also when
    the query fails to start."""
    prev = spark.conf.get(_PARTS)
    spark.conf.set(_PARTS, "3")
    try:
        probe = _BatchProbe()
        stream = file_stream(spark, sf_dir, "events").groupBy("event_type").count()
        assert state_partitions(stream) == 1
        counts = run_to_memory(stream, output_mode="complete", listener=probe)
        assert counts.count() > 0
        assert probe.state_partitions and set(probe.state_partitions) == {1}
        assert spark.conf.get(_PARTS) == "3"

        # an inner join skips its no-data batch; the session keeps its setting
        assert run_to_parquet(_events_join(spark, sf_dir)).count() > 0
        assert (spark.conf.get(_PARTS), spark.conf.get(_NO_DATA)) == ("3", "true")

        # leftOuter join without watermarks: rejected when the query starts
        clicks = file_stream(spark, sf_dir, "events").select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
        )
        purchases = file_stream(spark, sf_dir, "events").select(
            F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts")
        )
        j = interval_join(
            clicks, purchases, "c_user", "p_user", "click_ts", "purchase_ts", how="leftOuter"
        )
        with pytest.raises(Exception):
            run_to_memory(j)
        assert spark.conf.get(_PARTS) == "3"

        # an inner join in complete mode: rejected at start, with the
        # no-data setting pinned
        with pytest.raises(Exception):
            run_to_memory(_events_join(spark, sf_dir), output_mode="complete")
        assert (spark.conf.get(_PARTS), spark.conf.get(_NO_DATA)) == ("3", "true")
    finally:
        spark.conf.set(_PARTS, prev)


@pytest.mark.parametrize(
    "build, skip",
    [
        (lambda spark, sf_dir: _events_join(spark, sf_dir), True),
        (lambda spark, sf_dir: _events_join(spark, sf_dir, "leftOuter"), False),
        (
            lambda spark, sf_dir: _events_join(spark, sf_dir)
            .groupBy(F.window(F.timestamp_millis("click_ts_ms"), "1 hour"))
            .count(),
            False,
        ),
        (
            lambda spark, sf_dir: file_stream(spark, sf_dir, "events")
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"]),
            True,
        ),
        (lambda spark, sf_dir: flagship_window_agg(file_stream(spark, sf_dir, "events")), False),
        (lambda spark, sf_dir: _stateful_python(spark, sf_dir, "cusum_drift"), False),
        (lambda spark, sf_dir: _stateful_python(spark, sf_dir, "transition_pairs"), False),
        (lambda spark, sf_dir: file_stream(spark, sf_dir, "events").where("value > 0"), False),
    ],
    ids=[
        "inner-join", "left-outer-join", "join-window-agg", "dedup-within-watermark",
        "window-agg", "cusum_drift", "transition_pairs", "stateless",
    ],
)
def test_no_data_batch_policy(spark, sf_dir, build, skip):
    """A bounded run skips its no-data batch only when every stateful node
    emits for input rows alone: inner stream-stream joins and dedups."""
    assert _policy(build(spark, sf_dir))[1] is skip


def _stateful_python(spark, sf_dir, name: str):
    from rlink_rs_spark.streaming import stateful

    return getattr(stateful, name)(file_stream(spark, sf_dir, "events"))


def _registry_run(spark, duck, sf_dir, name: str) -> _BatchProbe:
    """Run registry query `name` against its oracle with a probe listening."""
    from tests.helpers import run_query_vs_oracle

    probe = _BatchProbe()
    spark.streams.addListener(probe)
    try:
        run_query_vs_oracle(spark, duck, sf_dir, name)
        deadline = time.time() + 30
        while not probe.terminated_ids and time.time() < deadline:
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(probe)
    assert len(probe.terminated_ids) == 1
    return probe


def test_no_data_batches_run_only_where_they_emit(spark, duck, sf_dir):
    """The interval join runs its one data batch and no no-data batch, and
    still equals its oracle; the flagship keeps its no-data batch, which
    emits every window the final watermark closes (2,997 at sf0.001)."""
    join = _registry_run(spark, duck, sf_dir, "stream_stream_interval_join")
    assert [p["numInputRows"] > 0 for p in join.progress] == [True]

    flagship = _registry_run(spark, duck, sf_dir, "streaming_flagship_agg")
    assert [p["numInputRows"] > 0 for p in flagship.progress] == [True, False]
    closed = duck.sql(f"SELECT COUNT(*) FROM ({REGISTRY['streaming_flagship_agg'].oracle})")
    assert flagship.sink_rows == [0, closed.fetchone()[0]]


def test_bounded_runs_delete_their_checkpoint(spark, sf_dir, tmp_path, monkeypatch):
    """run_to_memory and run_to_parquet leave no rlink_ck_* checkpoint behind,
    also when the query fails to start."""
    made = []

    def mkdtemp(*args, **kwargs):
        made.append(real_mkdtemp(*args, **kwargs))
        return made[-1]

    real_mkdtemp = tempfile.mkdtemp
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    assert run_to_memory(flagship_window_agg(file_stream(spark, sf_dir, "events"))).count() > 0
    assert run_to_parquet(_events_join(spark, sf_dir)).count() > 0
    with pytest.raises(Exception):
        run_to_memory(_events_join(spark, sf_dir), output_mode="complete")
    checkpoints = [d for d in made if os.path.basename(d).startswith("rlink_ck_")]
    assert len(checkpoints) == 3
    assert not [d for d in checkpoints if os.path.exists(d)]


def _sized_stream(spark, n_bytes: int | None):
    """A file stream over a dir holding one n_bytes file, or a rate stream
    for None. The policy sizes the plan without running it, so the file
    is a sparse placeholder that is never read."""
    if n_bytes is None:
        return spark.readStream.format("rate").load().select("value")
    d = tempfile.mkdtemp(prefix="rlink_sized_")
    with open(os.path.join(d, "part-0.parquet"), "wb") as f:
        f.truncate(n_bytes)
    return spark.readStream.schema("value long").parquet(d)


@pytest.mark.parametrize(
    "source_bytes, ceiling, want",
    [
        ([27_156], 8, 1),  # sf0.001 events
        ([221_075], 8, 1),  # sf0.01 events
        ([2_045_762], 8, 4),  # sf0.1 events
        ([2_045_762], 3, 3),  # clamped to the session's ceiling
        ([400_000, 300_000], 8, 1),  # a join sizes by its largest source (sum: 2)
        ([None], 3, 3),  # rate: nothing to size, the ceiling
    ],
    ids=["sf0.001", "sf0.01", "sf0.1", "ceiling", "join-largest", "rate"],
)
def test_state_partitions_policy(spark, source_bytes, ceiling, want):
    prev = spark.conf.get(_PARTS)
    spark.conf.set(_PARTS, str(ceiling))
    try:
        frames = [_sized_stream(spark, n) for n in source_bytes]
        stream = frames[0]
        for other in frames[1:]:
            stream = stream.join(other, "value")
        assert state_partitions(stream.groupBy("value").count()) == want
    finally:
        spark.conf.set(_PARTS, prev)
