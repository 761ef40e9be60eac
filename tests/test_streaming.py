"""Structured Streaming parity: the same logical pipelines must produce
batch-identical results under replay, survive kill/resume exactly-once
(FIXTURES.md scenario 9 -- stronger than the reference's at-least-once
completed-checkpoint-id scheme, docs/checkpoint.md), and drop late data."""

from __future__ import annotations

import os
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from rlink_rs_spark.operators.aggregations import count, max_, min_, sum_
from rlink_rs_spark.plans.pipeline import Pipeline, SlidingEventTimeWindows
from rlink_rs_spark.streaming.runner import drain, run_to_memory
from rlink_rs_spark.streaming.sources import file_stream, kafka_source_options
from rlink_rs_spark.tables import load_table

_PROVIDER_PKG = "org.apache.spark.sql.execution.streaming.state"


# RocksDB witnesses under the default run. rocksdbjni has a native race in
# its statistics collection (rocksdb::StatisticsImpl::getTickerCountLocked
# SIGSEGV'd the whole JVM mid-suite in round 4 -- hs_err_pid14230.log, app
# name "tests", shuffle.partitions=8); one dead JVM loses every remaining
# test, so the full 2x matrix is opt-in (SPARK_GRAFT_ROCKSDB_FULL=1) and the
# default run pins a curated subset covering: windowed agg + watermark
# emission, kill/resume exactly-once, dedup state, and stateful
# applyInPandasWithState -- each state-store code path once.
_ROCKSDB_WITNESSES = {
    "test_pipeline_stream_equals_batch_closed_windows",
    "test_checkpoint_kill_resume_exactly_once",
    "test_state_partitions_pinned_across_resume",
    "test_streaming_dedup_kill_resume_no_dupes",
    "test_stateful_threshold_alerts_matches_batch",
    "test_transform_with_state_matches_batch",
    # r14: chained stateful operators (window_time second aggregation) is
    # a distinct state-store code path -- two stores in one query, plus
    # their joint recovery under checkpoint restart
    "test_example_connect_chained_aggs_match_oracle",
    "test_example_connect_chained_aggs_kill_resume",
}


@pytest.fixture(
    params=["HDFSBackedStateStoreProvider", "RocksDBStateStoreProvider"],
    ids=["hdfs-store", "rocksdb-store"],
    autouse=True,
)
def state_store_provider(request, spark):
    """Run the streaming suite under BOTH state-store providers.
    RocksDB is the 100 TB state path (state spills to native storage
    instead of the JVM heap, SCALING.md); every checkpoint below is
    created fresh per test invocation, so the provider -- which must not
    change across restarts of one checkpoint -- is consistent within each
    kill/resume pair. The RocksDB leg runs the witness subset above unless
    SPARK_GRAFT_ROCKSDB_FULL=1 (native-flake blast-radius control)."""
    if (
        request.param == "RocksDBStateStoreProvider"
        and os.environ.get("SPARK_GRAFT_ROCKSDB_FULL") != "1"
        and request.node.originalname not in _ROCKSDB_WITNESSES
    ):
        pytest.skip("RocksDB leg: witness subset only (SPARK_GRAFT_ROCKSDB_FULL=1 for all)")
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(key, f"{_PROVIDER_PKG}.{request.param}")
    yield request.param
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


def _flagship_pipeline() -> Pipeline:
    return (
        Pipeline()
        .assign_timestamps_and_watermarks("ts", 1.0)
        .key_by("event_type")
        .window(SlidingEventTimeWindows.of(60, 20))
        .reduce(sum_("value"), max_("value"), min_("value"), count())
    )


def _closed_windows(batch_df, events):
    max_ts = events.agg(F.unix_millis(F.max("ts"))).collect()[0][0]
    return batch_df.where(F.col("window_end") <= max_ts - 1000)


def test_pipeline_batch_equals_direct(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    via_pipeline = {tuple(r) for r in _flagship_pipeline().build(events).collect()}
    from rlink_rs_spark.queries import REGISTRY

    direct = {
        (r.window_start, r.window_end, r.event_type, r.sum_value, r.max_value, r.min_value, r.cnt)
        for r in REGISTRY["flagship_sliding_window_agg"].fn(spark, sf_dir).collect()
    }
    assert via_pipeline == direct


def test_pipeline_stream_equals_batch_closed_windows(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    p = _flagship_pipeline()
    batch = p.build(events)
    stream_src = file_stream(spark, sf_dir, "events", max_files_per_trigger=1, chunks=4, order_col="ts")
    streamed = p.run_stream_to_memory(stream_src)
    got = {tuple(r) for r in streamed.collect()}
    want = {tuple(r) for r in _closed_windows(batch, events).collect()}
    assert got == want and got


def test_checkpoint_kill_resume_exactly_once(spark, sf_dir):
    """Kill mid-stream, resume from the checkpoint, expect exactly the
    batch result over closed windows in the (fault-tolerant) file sink."""
    from rlink_rs_spark.streaming.sources import stage_stream_dir, stream_from_staged

    events = load_table(spark, sf_dir, "events")
    p = _flagship_pipeline()
    ck = tempfile.mkdtemp(prefix="rlink_ck_resume_")
    out_dir = tempfile.mkdtemp(prefix="rlink_sink_")
    staged = stage_stream_dir(sf_dir, "events", chunks=6, order_col="ts")

    def start(trigger_available_now: bool):
        # same staged dir across restarts: the checkpoint pins the source path
        src = stream_from_staged(spark, staged, sf_dir, "events", max_files_per_trigger=1)
        agg = p.build(src)
        writer = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime="1 second")
        return writer.start()

    q = start(trigger_available_now=False)
    deadline = time.time() + 120
    while time.time() < deadline and len(q.recentProgress) < 2:
        time.sleep(0.5)
    q.stop()  # kill mid-stream (>=1 batch committed, more pending)
    q.awaitTermination(60)

    q2 = start(trigger_available_now=True)
    q2.awaitTermination(240)
    if q2.isActive:
        q2.stop()

    got = {tuple(r) for r in spark.read.parquet(out_dir).collect()}
    want = {tuple(r) for r in _closed_windows(p.build(events), events).collect()}
    assert got == want and got


def test_state_partitions_pinned_across_resume(spark, sf_dir):
    """The state-store count a query starts with is pinned in its
    checkpoint: after the input grows past what the policy sized the first
    run for, a resume keeps the first run's count and its output still
    equals the batch twin over everything staged."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from rlink_rs_spark.streaming.runner import drain, pinned_state_partitions, state_partitions
    from rlink_rs_spark.streaming.sources import stage_stream_dir, stream_from_staged

    staged = stage_stream_dir(sf_dir, "events", chunks=2, order_col="ts")
    held = tempfile.mkdtemp(prefix="rlink_held_")
    shutil.move(os.path.join(staged, "chunk_00001.parquet"), held)  # one batch
    ck = tempfile.mkdtemp(prefix="rlink_ck_pinned_")

    def agg_over_staged():
        src = stream_from_staged(spark, staged, sf_dir, "events", max_files_per_trigger=1)
        return src.groupBy("event_type").agg(
            F.count("*").alias("n"), F.sum("event_id").alias("ids")
        )

    def run(agg, tag: str):
        with pinned_state_partitions(agg):
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName(f"pinned_{tag}")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            drain(q, what=f"pinned-partitions {tag} run")
        counts = {
            p.stateOperators[0].numShufflePartitions
            for p in q.recentProgress
            if p.stateOperators
        }
        return counts, spark.table(f"pinned_{tag}")

    first_agg = agg_over_staged()
    first = state_partitions(first_agg)
    counts, _ = run(first_agg, "first")
    assert counts == {first}

    # the held chunk plus an uncompressed replica file, later mtimes: the
    # input now sizes to more stores than the checkpoint pinned
    shutil.move(os.path.join(held, "chunk_00001.parquet"), staged)
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    base = pc.max(events.column("event_id")).as_py() + 1
    reps = -(-700_000 // events.nbytes)
    i = events.schema.get_field_index("event_id")
    extra = pa.concat_tables(
        events.set_column(i, "event_id", pc.add(events.column("event_id"), k * base))
        for k in range(1, reps + 1)
    )
    p = os.path.join(staged, "chunk_00002.parquet")
    pq.write_table(extra, p, compression="none", use_dictionary=False)
    later = time.time() + 10
    os.utime(p, (later, later))
    resumed_agg = agg_over_staged()
    assert state_partitions(resumed_agg) > first

    counts, got = run(resumed_agg, "resumed")
    assert counts == {first}
    twin = spark.read.parquet(staged).groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("event_id").alias("ids")
    )
    want = {tuple(r) for r in twin.collect()}
    assert {tuple(r) for r in got.collect()} == want and want


def test_stateful_threshold_alerts_matches_batch(spark, sf_dir):
    from rlink_rs_spark.streaming.stateful import threshold_alerts, threshold_alerts_batch_oracle

    events = load_table(spark, sf_dir, "events")
    src = file_stream(spark, sf_dir, "events", max_files_per_trigger=1, chunks=4, order_col="ts")
    streamed = run_to_memory(threshold_alerts(src, threshold=1000.0), output_mode="append")
    got = {(r.user_id, r.alert_seq) for r in streamed.collect()}
    want = {
        (r.user_id, r.alert_seq)
        for r in threshold_alerts_batch_oracle(events, threshold=1000.0).collect()
    }
    assert got == want and got


def test_transform_with_state_matches_batch(spark, sf_dir, state_store_provider):
    """threshold_alerts on the Spark-4 transformWithStateInPandas API:
    construction + output schema always verified; execution parity vs the
    batch oracle runs where the API's protobuf dependency is installed
    (absent in this container -- the documented seam, like the Kafka jar).
    Requires RocksDB, so the HDFS-backed parametrization skips."""
    if state_store_provider != "RocksDBStateStoreProvider":
        pytest.skip("transformWithState requires the RocksDB state store")
    from rlink_rs_spark.streaming.stateful import (
        ALERT_SCHEMA,
        threshold_alerts_batch_oracle,
        threshold_alerts_tws,
    )

    src = file_stream(spark, sf_dir, "events", max_files_per_trigger=1, chunks=4, order_col="ts")
    tws = threshold_alerts_tws(src, threshold=1000.0)
    assert tws.isStreaming
    from pyspark.sql.types import _parse_datatype_string

    assert tws.schema == _parse_datatype_string(ALERT_SCHEMA)

    try:
        import google.protobuf.descriptor  # noqa: F401
    except ImportError:
        pytest.skip("transformWithState execution needs protobuf (absent in container)")

    events = load_table(spark, sf_dir, "events")
    streamed = run_to_memory(tws, output_mode="append")
    got = {(r.user_id, r.alert_seq) for r in streamed.collect()}
    want = {
        (r.user_id, r.alert_seq)
        for r in threshold_alerts_batch_oracle(events, threshold=1000.0).collect()
    }
    assert got == want and got


def test_interval_join_chunked_replay_matches_batch(spark, sf_dir):
    """Stream-stream interval join under chunked ordered replay must equal
    the batch interval join: state retention derived from the range bound
    keeps every click that any future purchase can still match."""
    from rlink_rs_spark.operators.joins import interval_join

    def sides(src):
        clicks = (
            src.where(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
            )
        )
        purchases = (
            src.where(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
            )
        )
        return clicks, purchases

    def join(clicks, purchases):
        return interval_join(
            clicks, purchases, "c_user", "p_user", "click_ts", "purchase_ts",
            "INTERVAL 0 SECONDS", "INTERVAL 6 HOURS",
        ).select("click_id", "purchase_id")

    events = load_table(spark, sf_dir, "events")
    bc, bp = sides(events)
    want = {tuple(r) for r in join(bc, bp).collect()}

    sc_src = file_stream(spark, sf_dir, "events", max_files_per_trigger=1, chunks=4, order_col="ts")
    sp_src = file_stream(spark, sf_dir, "events", max_files_per_trigger=1, chunks=4, order_col="ts")
    sc, sp = sides(sc_src)[0], sides(sp_src)[1]
    streamed = run_to_memory(
        join(sc.withWatermark("click_ts", "1 minute"), sp.withWatermark("purchase_ts", "1 minute"))
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == want and got


def test_streaming_dedup_kill_resume_no_dupes(spark, sf_dir):
    """Redelivered chunks + a mid-stream kill/resume: the dedup state in the
    checkpoint must suppress duplicates across the restart too."""
    import os

    from rlink_rs_spark.streaming.dedup import dedup_stream
    from rlink_rs_spark.streaming.sources import (
        stage_stream_dir_with_dups,
        stream_from_staged,
    )

    staged = stage_stream_dir_with_dups(sf_dir, "events", chunks=6, dup_chunks=(2, -1))
    ck = tempfile.mkdtemp(prefix="rlink_ck_dedup_")
    out_dir = tempfile.mkdtemp(prefix="rlink_sink_dedup_")

    def start(available_now: bool):
        src = stream_from_staged(spark, staged, sf_dir, "events", max_files_per_trigger=1)
        deduped = dedup_stream(src, ["event_id"], ts_col="ts", delay="35 days").select(
            "event_id", "user_id", "value"
        )
        writer = (
            deduped.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
        )
        writer = writer.trigger(availableNow=True) if available_now else writer.trigger(
            processingTime="1 second"
        )
        return writer.start()

    q = start(available_now=False)
    deadline = time.time() + 120
    while time.time() < deadline and len(q.recentProgress) < 2:
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)

    q2 = start(available_now=True)
    assert q2.awaitTermination(240), "resumed dedup query timed out"

    got = spark.read.parquet(out_dir)
    n_events = load_table(spark, sf_dir, "events").count()
    assert got.count() == n_events  # every row exactly once
    assert got.select("event_id").distinct().count() == n_events


def test_late_rows_dropped_by_watermark(spark, sf_dir):
    """Rows older than the watermark are dropped at the stateful agg
    (reference: Watermark_Expire counters, watermark_assigner_runnable.rs:92-110)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    # three chunks: fresh data, a buffer batch (the watermark lags one
    # micro-batch -- it is computed from batch N-1's max event time), then
    # one very late row that must be dropped
    d = tempfile.mkdtemp(prefix="rlink_late_")
    t0 = 1_700_000_000_000_000_000  # ns

    def tbl(ids, tss, vals):
        return pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(tss, pa.timestamp("ns")),
                "user_id": pa.array([1] * len(ids), pa.int64()),
                "event_type": pa.array(["click"] * len(ids)),
                "value": pa.array(vals),
                "props": pa.array(["{}"] * len(ids)),
            }
        )

    chunks = [
        tbl([1, 2], [t0, t0 + 600_000_000_000], [1.0, 1.0]),
        tbl([4], [t0 + 610_000_000_000], [2.0]),
        tbl([3], [t0 - 7_200_000_000_000], [100.0]),  # 2h late
    ]
    now = time.time()
    for i, t in enumerate(chunks):
        p = os.path.join(d, f"chunk_{i}.parquet")
        pq.write_table(t, p)
        os.utime(p, (now + i, now + i))

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(d).schema
    src = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    agg = (
        src.withWatermark("ts", "1 second")
        .groupBy(F.window("ts", "60 seconds"), "event_type")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sv"))
        .select(F.unix_millis("window.start").alias("ws"), "cnt", "sv")
    )
    out = run_to_memory(agg).collect()
    # the late row (2h old, watermark established two batches earlier)
    # must not appear in any emitted window
    assert all(r.sv < 100.0 for r in out)
    total = sum(r.cnt for r in out)
    assert total <= 3  # late row contributed nothing


def test_observed_metrics_surface(spark, sf_dir):
    """df.observe() metrics flow through streaming progress events -- the
    reference's per-operator counter surface (metrics/mod.rs) mapped to
    Spark's native observability."""
    import tempfile
    import uuid

    from rlink_rs_spark.streaming.metrics import with_observed_counts

    src = with_observed_counts(
        file_stream(spark, sf_dir, "events").select("event_id", "value"), name="ingest"
    )
    name = f"obs_{uuid.uuid4().hex[:8]}"
    q = (
        src.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="rlink_ck_obs_"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    observed = [
        p["observedMetrics"]["ingest"]["rows"]
        for p in (q.recentProgress or [])
        if p.get("observedMetrics", {}).get("ingest")
    ]
    expected = load_table(spark, sf_dir, "events").count()
    assert sum(observed) == expected


def test_update_mode_converges_to_batch(spark, sf_dir):
    """Update output mode emits changed windows per micro-batch; taking the
    LAST emission per window key must converge to the full batch result
    (no watermark withholding -- update emits open windows too)."""
    events = load_table(spark, sf_dir, "events")
    src = file_stream(spark, sf_dir, "events", max_files_per_trigger=1, chunks=4, order_col="ts")
    agg = (
        src.withWatermark("ts", "1 second")
        .groupBy(F.window("ts", "300 seconds"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_millis("window.start").alias("ws"), "event_type", "cnt")
    )
    emitted = run_to_memory(agg, output_mode="update").collect()
    last = {}
    for r in emitted:  # memory sink appends in emission order; later wins
        last[(r.ws, r.event_type)] = r.cnt
    want = {
        (r.ws, r.event_type): r.cnt
        for r in events.groupBy(F.window("ts", "300 seconds"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_millis("window.start").alias("ws"), "event_type", "cnt")
        .collect()
    }
    assert last == want and last


def test_outer_interval_join_requires_watermarks(spark, sf_dir):
    """OUTER stream-stream joins without watermarks must be rejected (null
    emission needs a closure signal); inner joins are merely unbounded-state
    and legal, which is why interval_join's docstring mandates watermarks."""
    from rlink_rs_spark.operators.joins import interval_join

    clicks = (
        file_stream(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
    )  # no watermark
    purchases = (
        file_stream(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
    )
    j = interval_join(
        clicks, purchases, "c_user", "p_user", "click_ts", "purchase_ts", how="leftOuter"
    )
    with pytest.raises(Exception):
        run_to_memory(j)


def test_idle_source_watermark_policy(spark, sf_dir):
    """Executable witness for the WatermarksWithIdleness divergence
    (streaming/watermarks.py): an idle source holds back the global
    watermark under Spark's default multipleWatermarkPolicy=min, and the
    'max' policy is the engine's idleness escape hatch -- windows past the
    idle source's last event finalize only under 'max'."""
    events = load_table(spark, sf_dir, "events")
    lo, hi = events.agg(
        F.unix_millis(F.min("ts")), F.unix_millis(F.max("ts"))
    ).collect()[0]
    cutoff_ms = lo + (hi - lo) // 2

    def run(policy: str):
        spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", policy)
        try:
            # source A goes idle halfway through event time; source B runs on
            a = (
                file_stream(spark, sf_dir, "events")
                .where(F.unix_millis("ts") < cutoff_ms)
                .select("ts", "event_type", "value")
                .withWatermark("ts", "1 second")
            )
            b = (
                file_stream(spark, sf_dir, "events")
                .select("ts", "event_type", "value")
                .withWatermark("ts", "1 second")
            )
            agg = (
                a.unionByName(b)
                .groupBy(F.window("ts", "60 seconds"))
                .agg(F.count("*").alias("cnt"))
                .select(F.unix_millis("window.end").alias("window_end"), "cnt")
            )
            return {r.window_end for r in run_to_memory(agg).collect()}
        finally:
            spark.conf.unset("spark.sql.streaming.multipleWatermarkPolicy")

    closed_min = run("min")
    closed_max = run("max")
    # min policy: nothing past the idle source's horizon finalizes
    assert max(closed_min) <= cutoff_ms + 60_000
    # max policy: windows up to the live source's watermark finalize
    assert max(closed_max) > cutoff_ms + 60_000
    assert closed_min < closed_max


def test_idle_source_heartbeat_mitigation(spark, sf_dir):
    """keep_alive_union closes the WatermarksWithIdleness divergence UNDER
    THE DEFAULT min POLICY (watermarks_with_idleness.rs:27-81): the same
    idle-source scenario as test_idle_source_watermark_policy, but with
    sentinel heartbeats unioned into the idle source before its watermark
    node. Windows past the idle horizon must finalize, heartbeat groups
    must be strippable after the stateful op, and no data row may be lost
    or duplicated vs the oracle (the registry query's DuckDB oracle proves
    value parity; here we pin the engine-behavior bound and the strip)."""
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.streaming.watermarks import HEARTBEAT_KEY

    events = load_table(spark, sf_dir, "events")
    lo, hi = events.agg(
        F.unix_millis(F.min("ts")), F.unix_millis(F.max("ts"))
    ).collect()[0]
    cutoff_ms = lo + (hi - lo) // 2

    out = REGISTRY["streaming_idle_source_heartbeat"].fn(spark, sf_dir)
    rows = out.collect()
    assert rows, "mitigated run emitted nothing"
    # closure passed the idle horizon under the min policy (the raw query
    # raises internally if not; re-assert on the stripped output)
    assert max(r.window_end for r in rows) > cutoff_ms + 60_000
    # sentinel groups stripped
    assert all(r.event_type != HEARTBEAT_KEY for r in rows)


def test_example_connect_chained_aggs_kill_resume(spark, duck, sf_dir):
    """Kill the chained-stateful example-connect pipeline mid-replay and
    resume from the checkpoint: TWO state stores (sparse bucket counts +
    the window_time merge) must both recover and the drained parquet sink
    must equal the DuckDB oracle exactly -- the multiple-stateful-operator
    commit protocol under restart, which no single-agg witness covers."""
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.streams import example_connect_plan
    from rlink_rs_spark.streaming.sources import stage_stream_dir, stream_from_staged

    ck = tempfile.mkdtemp(prefix="rlink_ck_ecresume_")
    out_dir = tempfile.mkdtemp(prefix="rlink_ecsink_")
    staged = stage_stream_dir(sf_dir, "events", chunks=6, order_col="ts")

    def start(trigger_available_now: bool):
        src = stream_from_staged(spark, staged, sf_dir, "events", max_files_per_trigger=1)
        out = example_connect_plan(spark, sf_dir, src)
        writer = (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime="1 second")
        return writer.start()

    q = start(trigger_available_now=False)
    deadline = time.time() + 120
    while time.time() < deadline and len(q.recentProgress) < 2:
        time.sleep(0.5)
    q.stop()  # kill mid-stream (>=1 batch committed, more pending)
    q.awaitTermination(60)

    q2 = start(trigger_available_now=True)
    assert q2.awaitTermination(300), "resumed chained-agg stream timed out"

    got = {
        tuple(r)
        for r in spark.read.schema("field string, value long, pct_99 long, pct_90 long")
        .parquet(out_dir)
        .collect()
    }
    want = {
        tuple(r)
        for r in duck.sql(REGISTRY["example_connect_app_parity"].oracle).fetchall()
    }
    assert got == want and got


def test_example_connect_chained_aggs_match_oracle(spark, duck, sf_dir):
    """The example-connect parity query chains TWO stateful window
    aggregations in one streaming plan (sparse bucket counts ->
    window_time merge) -- two state stores in one query, a code path no
    other witness exercises. Runs under BOTH providers (it is in the
    RocksDB witness subset): the chained-operator commit protocol must
    produce oracle-exact Output rows regardless of store backend."""
    from tests.helpers import run_query_vs_oracle

    run_query_vs_oracle(spark, duck, sf_dir, "example_connect_app_parity")


def test_example_kafka_app_kill_resume(spark, duck, sf_dir):
    """Kill the example-kafka replay mid-stream and resume from the
    checkpoint: the offset-range seek, windowed sum state, AND the
    foreachBatch producer sink must all recover. The producer is
    at-least-once (a killed uncommitted epoch replays, like a real
    non-idempotent Kafka producer), so the witness compares the DISTINCT
    decoded output rows -- exactly-once per (key, payload) -- against the
    composed oracle."""
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.streams import (
        _KAFKA_BEGIN,
        _KAFKA_END,
        _KAFKA_PARTS,
        example_kafka_plan,
    )
    from rlink_rs_spark.sources.loopback import (
        KAFKA_SCHEMA,
        publish,
        publish_stream,
        subscribe,
        to_envelope,
    )

    events = load_table(spark, sf_dir, "events")
    in_env = to_envelope(
        events,
        key_col="event_id",
        value_col=F.to_json(
            F.struct(
                F.unix_millis("ts").alias("timestamp"),
                F.col("event_type").alias("name"),
                F.round(F.col("value") * 100).cast("long").alias("value"),
            )
        ),
        topic="rlink-test",
        n_partitions=_KAFKA_PARTS,
        ts_col="ts",
        order_col="event_id",
    )
    topic_dir = tempfile.mkdtemp(prefix="rlink_ekafka_kr_in_")
    publish(in_env, topic_dir)
    out_dir = tempfile.mkdtemp(prefix="rlink_ekafka_kr_out_")
    ck = tempfile.mkdtemp(prefix="rlink_ekafka_kr_ck_")

    def start(available_now: bool):
        src = subscribe(
            spark,
            topic_dir,
            starting_offsets=_KAFKA_BEGIN,
            ending_offsets=_KAFKA_END,
            max_files_per_trigger=1,
        )
        return publish_stream(
            example_kafka_plan(spark, src), out_dir, ck, available_now=available_now
        )

    q = start(available_now=False)
    deadline = time.time() + 120
    while time.time() < deadline and len(q.recentProgress) < 2:
        time.sleep(0.5)
    q.stop()  # kill mid-replay (>=1 batch committed, more pending)
    q.awaitTermination(60)

    q2 = start(available_now=True)
    assert q2.awaitTermination(300), "resumed example-kafka stream timed out"

    from pyspark.sql import types as T

    payload = T.StructType(
        [
            T.StructField("timestamp", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("value", T.LongType()),
        ]
    )
    got = {
        tuple(r)
        for r in spark.read.schema(KAFKA_SCHEMA)
        .parquet(out_dir)
        .select(
            "partition",
            F.col("key").cast("string").alias("key"),
            F.from_json(F.col("value").cast("string"), payload).alias("p"),
        )
        .select("partition", "key", "p.timestamp", "p.name", "p.value")
        .distinct()
        .collect()
    }
    want = {
        tuple(r)
        for r in duck.sql(REGISTRY["example_kafka_app_parity"].oracle).fetchall()
    }
    assert got == want and got


def test_example_kafka_app_matches_oracle(spark, duck, sf_dir):
    """Single clean run of the composed example-kafka pipeline vs its
    DuckDB oracle (produce -> Direct offset-range seek -> parse -> sliding
    window sum -> encode -> produce -> decode)."""
    from tests.helpers import run_query_vs_oracle

    run_query_vs_oracle(spark, duck, sf_dir, "example_kafka_app_parity")


def test_subscribe_ending_offsets_inclusive(spark):
    """OffsetRange::Direct end bound (offset_range.rs): INCLUSIVE per
    partition (consumer.rs:84 drops only when end_offset < offset);
    partitions without an end entry are unbounded."""
    from rlink_rs_spark.sources.loopback import subscribe

    topic_dir = tempfile.mkdtemp(prefix="rlink_endoff_")
    rows = [(p, o) for p in range(3) for o in range(10)]
    spark.createDataFrame(rows, "partition int, offset long").selectExpr(
        "CAST(CAST(offset AS STRING) AS BINARY) AS key",
        "CAST('x' AS BINARY) AS value",
        "'t' AS topic",
        "partition",
        "offset",
        "CAST(timestamp_millis(offset * 1000) AS TIMESTAMP) AS timestamp",
        "0 AS timestampType",
    ).write.mode("overwrite").parquet(topic_dir)
    got = run_to_memory(
        subscribe(
            spark,
            topic_dir,
            starting_offsets={0: 2, 1: 0},  # partition 2 excluded by seek
            ending_offsets={0: 5, 1: 3},
        ).select("partition", "offset")
    )
    sel = sorted((r.partition, r.offset) for r in got.collect())
    assert sel == [(0, o) for o in range(2, 6)] + [(1, o) for o in range(0, 4)]


def _pyds_topic(spark, sf_dir, n_partitions=4):
    from rlink_rs_spark.sources.loopback import publish, to_envelope

    events = load_table(spark, sf_dir, "events")
    env = to_envelope(
        events,
        key_col="user_id",
        value_col=F.to_json(F.struct("event_id", "user_id", "value")),
        topic="events",
        n_partitions=n_partitions,
        ts_col="ts",
        order_col="event_id",
    )
    td = tempfile.mkdtemp(prefix="rlink_pyds_t_")
    publish(env, td)
    return td


def test_kafka_python_source_split_per_partition():
    """create_input_splits parity (input_format.rs:26-75): partitions()
    yields exactly one split per topic-partition with data in its
    [start, end) range; empty and inverted ranges yield no split."""
    from rlink_rs_spark.sources.kafka_datasource import KafkaTopicStreamReader

    r = KafkaTopicStreamReader({"topicdir": "/nonexistent-ok-for-partitions"})
    splits = r.partitions({"0": 0, "1": 5, "2": 9}, {"0": 10, "1": 5, "2": 3})
    assert [(s.partition, s.start, s.end) for s in splits] == [(0, 0, 10)]


def test_kafka_python_source_metadata_scan_edges(tmp_path):
    """The r15 vectorized metadata scans (group-by max / filtered group-by
    min, guide §4: O(partitions) driver work) must keep the row-loop
    semantics on the edges the loop handled implicitly: null timestamps
    never qualify for a timestamp seek, a partition with no qualifying
    record begins at its high-water mark, and the seek point compares in
    session-UTC against tz-naive stored timestamps."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from rlink_rs_spark.sources.kafka_datasource import (
        _offsets_for_time,
        _scan_high_water,
    )

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)  # naive = session-UTC
    rows = {
        # partition, offset, timestamp (None = a record with no timestamp)
        (0, 0): base,
        (0, 1): None,
        (0, 2): base + datetime.timedelta(hours=2),
        (1, 0): base - datetime.timedelta(hours=1),
        (1, 1): base - datetime.timedelta(minutes=30),  # all before seek
        (2, 0): base + datetime.timedelta(hours=1),
    }
    tbl = pa.table(
        {
            "partition": pa.array([p for p, _ in rows], pa.int32()),
            "offset": pa.array([o for _, o in rows], pa.int64()),
            "timestamp": pa.array(list(rows.values()), pa.timestamp("us")),
        }
    )
    pq.write_table(tbl, tmp_path / "part-0.parquet")

    hw = _scan_high_water(str(tmp_path))
    assert hw == {0: 3, 1: 2, 2: 1}

    seek_ms = int(base.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000) + 1
    begin = _offsets_for_time(str(tmp_path), seek_ms, hw)
    # p0: offset 2 is the first >= seek (offset 1's null never qualifies);
    # p1: nothing qualifies -> high-water; p2: offset 0 qualifies
    assert begin == {0: 2, 1: 2, 2: 0}


def test_kafka_python_source_timestamp_and_latest_seek(spark, sf_dir):
    """Seek modes 1 and 3 on the partition-aware source: 'latest' begins
    at every partition's high-water mark (a fresh subscription sees only
    future appends -- i.e. nothing on a static topic), and
    startingtimestampms reproduces offsetsForTimes: per partition the
    stream begins at the FIRST (minimum) offset whose record timestamp
    >= the seek point, so every qualifying record is delivered."""
    import datetime

    from rlink_rs_spark.sources.kafka_datasource import (
        KafkaTopicStreamReader,
        _offsets_for_time,
        _scan_high_water,
        register_kafka_source,
    )

    td = _pyds_topic(spark, sf_dir)
    register_kafka_source(spark)

    hw = _scan_high_water(td)
    assert hw and all(v > 0 for v in hw.values())
    latest = KafkaTopicStreamReader({"topicdir": td, "startingoffsets": "latest"})
    assert latest.initialOffset() == {str(p): o for p, o in sorted(hw.items())}

    # timestamp seek: median event ts as the seek point
    events = load_table(spark, sf_dir, "events")
    seek_ms = int(
        events.selectExpr("percentile(unix_millis(ts), 0.5) AS m").first().m
    )
    seek_dt = datetime.datetime.utcfromtimestamp(seek_ms / 1000.0)
    begin = _offsets_for_time(td, seek_ms, hw)
    assert any(0 < begin[p] < hw[p] for p in hw), (begin, hw)

    got = run_to_memory(
        spark.readStream.format("rlink_kafka")
        .option("topicdir", td)
        .option("startingtimestampms", str(seek_ms))
        .load()
        .select("partition", "offset", "timestamp")
    )
    rows = got.collect()
    # every streamed row is at/after its partition's resolved begin...
    assert all(r.offset >= begin[r.partition] for r in rows)
    # ...the first resolved offset of each partition IS a >=-seek record
    firsts = {}
    for r in rows:
        if r.offset == begin[r.partition]:
            firsts[r.partition] = r.timestamp
    seek_naive = datetime.datetime.utcfromtimestamp(seek_ms / 1000.0)
    assert firsts and all(t >= seek_naive for t in firsts.values())
    # and nothing qualifying was skipped: begin = MIN qualifying offset per
    # partition, so every record with ts >= seek must be in the stream
    # (rows below begin may legitimately include ts<seek stragglers when
    # ts is not monotone in the producer's order column)
    n_after = events.where(F.col("ts") >= seek_dt).count()
    assert sum(1 for r in rows if r.timestamp >= seek_naive) == n_after


def test_kafka_python_source_rate_limit_invariance(spark, sf_dir):
    """maxRowsPerTrigger admission control: a rate-limited multi-batch run
    under a processingTime trigger must deliver exactly the rows of the
    unlimited single-batch drain -- batch boundaries never change the
    result. (availableNow over a Python streaming source is Trigger.Once
    -- one planned batch -- which is why the cap needs a running trigger;
    sources/kafka_datasource.py docstring.)"""
    import json as _json

    from rlink_rs_spark.sources.kafka_datasource import register_kafka_source

    td = _pyds_topic(spark, sf_dir)
    register_kafka_source(spark)
    seek = _json.dumps({0: 10, 1: 0, 2: 150, 3: 75})

    def reader():
        return (
            spark.readStream.format("rlink_kafka")
            .option("topicdir", td)
            .option("startingoffsets", seek)
        )

    want = {
        (r.partition, r.offset)
        for r in run_to_memory(reader().load().select("partition", "offset")).collect()
    }
    assert want

    name = f"pyds_rl_{int(time.time())}"
    q = (
        reader()
        .option("maxrowspertrigger", max(1, len(want) // 8))
        .load()
        .select("partition", "offset")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.sql(f"SELECT count(*) c FROM {name}").first().c >= len(want):
                break
            time.sleep(0.5)
        got = {
            (r.partition, r.offset)
            for r in spark.sql(f"SELECT partition, offset FROM {name}").collect()
        }
        batches = len(q.recentProgress)
    finally:
        q.stop()
        q.awaitTermination(60)
    assert got == want
    assert batches > 1, "rate cap did not split the read into multiple batches"


def test_kafka_python_source_kill_resume(spark, sf_dir):
    """Checkpointed offset restart of the custom source (the reference's
    source/checkpoint.rs contract): kill a rate-limited run mid-stream,
    resume from the checkpoint into the same file sink -- the union of
    both runs' appends is exactly the full seek range, no gaps, no
    duplicate (partition, offset)."""
    import json as _json

    from rlink_rs_spark.sources.kafka_datasource import register_kafka_source

    td = _pyds_topic(spark, sf_dir)
    register_kafka_source(spark)
    seek = _json.dumps({0: 10, 1: 0, 2: 150, 3: 75})
    out = tempfile.mkdtemp(prefix="rlink_pyds_out_")
    ck = tempfile.mkdtemp(prefix="rlink_pyds_ck_")

    def start(limit: int | None):
        r = (
            spark.readStream.format("rlink_kafka")
            .option("topicdir", td)
            .option("startingoffsets", seek)
        )
        if limit:
            r = r.option("maxrowspertrigger", limit)
        w = (
            r.load()
            .select("partition", "offset")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
        )
        # always a running trigger: over a Python streaming source,
        # availableNow is Trigger.Once -- on restart it would replay ONLY
        # the WAL-planned pending batch and stop, stranding the backlog
        return w.trigger(processingTime="300 milliseconds").start()

    want = {
        (r.partition, r.offset)
        for r in run_to_memory(
            spark.readStream.format("rlink_kafka")
            .option("topicdir", td)
            .option("startingoffsets", seek)
            .load()
            .select("partition", "offset")
        ).collect()
    }

    q = start(limit=max(1, len(want) // 6))
    deadline = time.time() + 120
    while time.time() < deadline and len(q.recentProgress) < 2:
        time.sleep(0.3)
    q.stop()  # kill mid-stream: >=1 committed batch, more pending
    q.awaitTermination(60)

    q2 = start(limit=None)  # resume: unlimited batches finish the backlog
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            done = spark.read.parquet(out).count()
            if done >= len(want):
                break
            time.sleep(0.5)
    finally:
        q2.stop()
        q2.awaitTermination(60)

    rows = spark.read.parquet(out).select("partition", "offset").collect()
    got = [(r.partition, r.offset) for r in rows]
    assert len(got) == len(set(got)), "duplicate (partition, offset) after resume"
    assert set(got) == want


def test_kafka_python_source_matches_oracle(spark, duck, sf_dir):
    from tests.helpers import run_query_vs_oracle

    run_query_vs_oracle(spark, duck, sf_dir, "kafka_python_stream_source")


def test_kafka_python_sink_matches_oracle(spark, duck, sf_dir):
    from tests.helpers import run_query_vs_oracle

    run_query_vs_oracle(spark, duck, sf_dir, "kafka_python_stream_sink")


def test_kafka_python_sink_offsets_contiguous_and_kill_resume(spark, sf_dir):
    """The producer face end-to-end under crash: a processingTime run with
    one file per trigger is killed after >=2 epochs, then resumed from the
    checkpoint. The batchId commit log must make the replayed epoch's
    duplicate send a no-op (exactly-once per ROW, not just per key), and
    the topic's offsets must be contiguous 0..n-1 per partition across
    the crash boundary -- the broker-append invariant the oracle
    deliberately does not cover."""
    from rlink_rs_spark.sources.kafka_datasource import register_kafka_source
    from rlink_rs_spark.sources.loopback import to_envelope
    from rlink_rs_spark.streaming.sources import stage_stream_dir, stream_from_staged

    register_kafka_source(spark)
    td = tempfile.mkdtemp(prefix="rlink_pyds_sink_kr_")
    ck = tempfile.mkdtemp(prefix="rlink_pyds_sink_kr_ck_")
    staged = stage_stream_dir(sf_dir, "events", chunks=8, order_col="ts")

    def start():
        src = stream_from_staged(
            spark, staged, sf_dir, "events", max_files_per_trigger=1
        )
        env = to_envelope(
            src,
            key_col="user_id",
            value_col=F.to_json(F.struct("event_id", "user_id", "value")),
            topic="events-out",
            n_partitions=4,
            ts_col="ts",
            assign_offset=False,
        ).drop("__ord")
        return (
            env.writeStream.format("rlink_kafka")
            .option("topicdir", td)
            .option("checkpointLocation", ck)
            .trigger(processingTime="300 milliseconds")
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while time.time() < deadline and len(q.recentProgress) < 3:
        time.sleep(0.3)
    q.stop()  # kill mid-stream
    q.awaitTermination(60)

    n_events = load_table(spark, sf_dir, "events").count()
    q2 = start()
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            import glob

            have = (
                spark.read.parquet(td).count()
                if glob.glob(os.path.join(td, "batch-*.parquet"))
                else 0
            )
            if have >= n_events:
                break
            time.sleep(0.5)
    finally:
        q2.stop()
        q2.awaitTermination(60)

    out = spark.read.parquet(td)
    assert out.count() == n_events, "row loss or duplicate send across the crash"
    per_part = out.groupBy("partition").agg(
        F.min("offset").alias("mn"),
        F.max("offset").alias("mx"),
        F.count("*").alias("n"),
        F.countDistinct("offset").alias("nd"),
    )
    for r in per_part.collect():
        assert r.mn == 0 and r.mx == r.n - 1 and r.nd == r.n, r
    # key identity intact: every event appears exactly once by payload
    keys = out.select(F.col("value").cast("string").alias("v")).distinct().count()
    assert keys == n_events


def test_kafka_python_sink_arrow_face_matches_row_face(spark, sf_dir):
    """The Arrow streaming-writer face (KafkaTopicStreamArrowWriter, the
    default) must publish exactly the topic content of the Row face it
    replaces: same rows (key/value/topic/partition/timestamp/timestampType
    multiset) and the same per-partition contiguous 0..n-1 offsets. Offsets
    are compared per partition as sets, not row-for-row -- cross-task
    append order within a batch is nondeterministic by design on BOTH
    faces, exactly like a real broker."""
    from rlink_rs_spark.sources.kafka_datasource import register_kafka_source
    from rlink_rs_spark.sources.loopback import to_envelope
    from rlink_rs_spark.streaming.sources import stage_stream_dir, stream_from_staged

    register_kafka_source(spark)
    staged = stage_stream_dir(sf_dir, "events", chunks=2, order_col="ts")

    def run(rowwriter: bool):
        td = tempfile.mkdtemp(prefix="rlink_pyds_face_")
        ck = tempfile.mkdtemp(prefix="rlink_pyds_face_ck_")
        src = stream_from_staged(
            spark, staged, sf_dir, "events", max_files_per_trigger=1
        )
        env = to_envelope(
            src,
            key_col="user_id",
            value_col=F.to_json(F.struct("event_id", "user_id", "value")),
            topic="events-out",
            n_partitions=4,
            ts_col="ts",
            assign_offset=False,
        ).drop("__ord")
        w = (
            env.writeStream.format("rlink_kafka")
            .option("topicdir", td)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
        )
        if rowwriter:
            w = w.option("rowwriter", "true")
        q = w.start()
        try:
            assert q.awaitTermination(180), "sink did not drain"
        finally:
            if q.isActive:
                q.stop()
        return spark.read.parquet(td)

    def content(df):
        return sorted(
            (
                r.partition,
                bytes(r.key),
                bytes(r.value),
                r.topic,
                r.timestamp,
                r.timestampType,
            )
            for r in df.collect()
        )

    def offsets(df):
        return {
            r.partition: (r.mn, r.mx, r.n, r.nd)
            for r in df.groupBy("partition")
            .agg(
                F.min("offset").alias("mn"),
                F.max("offset").alias("mx"),
                F.count("*").alias("n"),
                F.countDistinct("offset").alias("nd"),
            )
            .collect()
        }

    arrow_df, row_df = run(rowwriter=False), run(rowwriter=True)
    assert content(arrow_df) == content(row_df)
    assert offsets(arrow_df) == offsets(row_df)
    for mn, mx, n, nd in offsets(arrow_df).values():
        assert mn == 0 and mx == n - 1 and nd == n


def test_rate_heartbeats_live_unpins_watermark(spark, sf_dir):
    """WALL-CLOCK witness for the production idleness path: a file source
    delivers all its (historical) data in batch 0 and then goes idle; in
    append mode its final window can never close -- the watermark sticks
    at max(data ts) - delay forever. With rate_heartbeats unioned in
    (heartbeat ts = wall clock - idle_timeout), the watermark passes the
    data horizon within ~idle_timeout of real time and EVERY window
    closes, exactly the reference's processing-time idleness marking
    (watermarks_with_idleness.rs:86-134)."""
    from rlink_rs_spark.streaming.watermarks import (
        HEARTBEAT_KEY,
        bounded_out_of_orderness,
        keep_alive_union,
        rate_heartbeats,
        with_idleness,
    )

    events = load_table(spark, sf_dir, "events")
    total_windows = (
        events.select((F.unix_millis("ts") / 60_000).cast("long").alias("w"), "event_type")
        .distinct()
        .count()
    )

    strat = with_idleness(bounded_out_of_orderness("ts", 1.0), idle_timeout_seconds=3.0)
    src = file_stream(spark, sf_dir, "events")
    hb = rate_heartbeats(src, strat, key_col="event_type", rows_per_second=2)
    agg = (
        keep_alive_union(src, hb, strat)
        .groupBy(F.window("ts", "60 seconds"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.unix_millis("window.end").alias("window_end"), "event_type", "cnt")
    )
    name = f"hb_live_{int(time.time())}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="rlink_ck_hb_"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 90
        emitted = 0
        while time.time() < deadline:
            emitted = (
                spark.table(name).where(F.col("event_type") != HEARTBEAT_KEY).count()
            )
            if emitted >= total_windows:
                break
            time.sleep(1.0)
        assert q.exception() is None
    finally:
        q.stop()
    # without heartbeats the final window per key never closes; with them,
    # the full historical window set must finalize within wall-clock bounds
    assert emitted >= total_windows, (
        f"only {emitted}/{total_windows} windows closed -- heartbeats did "
        "not unpin the idle source's watermark"
    )


def test_rate_heartbeats_schema_and_sentinel(spark, sf_dir):
    """The production keep-alive stream clones the source schema exactly:
    sentinel in the key column, lagged wall clock in the event-time
    column, NULLs elsewhere -- so keep_alive_union's unionByName never
    needs casts."""
    from rlink_rs_spark.streaming.sources import file_stream
    from rlink_rs_spark.streaming.watermarks import (
        bounded_out_of_orderness,
        rate_heartbeats,
        with_idleness,
    )

    src = file_stream(spark, sf_dir, "events")
    strat = with_idleness(bounded_out_of_orderness("ts", 1.0), 30.0)
    hb = rate_heartbeats(src, strat, key_col="event_type")
    assert hb.isStreaming
    # names+types must match exactly (nullability legitimately differs:
    # literals are non-nullable); unionByName needs nothing more
    assert [(f.name, f.dataType) for f in hb.schema.fields] == [
        (f.name, f.dataType) for f in src.schema.fields
    ]


def test_kafka_offset_option_modes():
    """Kafka source construction covers the reference's three offset seek
    modes (connector-kafka input_format.rs:76-163); no broker needed."""
    o1 = kafka_source_options("t", "b:9092")
    assert o1 == {"kafka.bootstrap.servers": "b:9092", "subscribe": "t"}
    o2 = kafka_source_options("t", "b:9092", starting_offsets="earliest")
    assert o2["startingOffsets"] == "earliest"
    o3 = kafka_source_options("t", "b:9092", starting_offsets={0: 100, 1: 200})
    assert '"0": 100' in o3["startingOffsets"].replace("'", '"')
    o4 = kafka_source_options("t", "b:9092", starting_timestamp_ms=123456)
    assert o4["startingTimestamp"] == "123456"


def test_cusum_drift_matches_batch(spark, sf_dir):
    """The streaming CUSUM fold (3-integer keyed state, closed form) must
    emit exactly the batch twin's drift rows, including the cusum values
    and directions."""
    from rlink_rs_spark.streaming.sources import file_stream
    from rlink_rs_spark.streaming.runner import run_to_memory
    from rlink_rs_spark.streaming.stateful import cusum_drift, cusum_drift_batch_oracle

    events = load_table(spark, sf_dir, "events")
    src = file_stream(spark, sf_dir, "events", max_files_per_trigger=1, chunks=4, order_col="ts")
    streamed = run_to_memory(cusum_drift(src), output_mode="append")
    got = {
        (r.user_id, r.event_id, r.ts_ms, r.cusum_up, r.cusum_down, r.direction)
        for r in streamed.collect()
    }
    want = {
        (r.user_id, r.event_id, r.ts_ms, r.cusum_up, r.cusum_down, r.direction)
        for r in cusum_drift_batch_oracle(events).collect()
    }
    assert got == want and got


def test_transition_pairs_match_batch_lead(spark, sf_dir):
    """The streaming transition operator (one-string keyed state, boundary
    pair per batch) must produce exactly the batch LEAD-window pair
    multiset -- including transitions that straddle micro-batch
    boundaries, which is the whole point of the carried state."""
    from pyspark.sql.window import Window

    from rlink_rs_spark.streaming.runner import run_to_memory
    from rlink_rs_spark.streaming.sources import file_stream
    from rlink_rs_spark.streaming.stateful import transition_pairs

    src = file_stream(
        spark, sf_dir, "events", max_files_per_trigger=1, chunks=4, order_col="ts"
    )
    streamed = run_to_memory(transition_pairs(src), output_mode="append")
    got = sorted((r.event_type, r.next_type) for r in streamed.collect())

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        events.select("event_type", F.lead("event_type").over(w).alias("next_type"))
        .where(F.col("next_type").isNotNull())
    )
    want = sorted((r.event_type, r.next_type) for r in batch.collect())
    assert got == want and got
    # boundary coverage: more pairs than any single chunk could produce
    n_users = events.select("user_id").distinct().count()
    assert len(got) == events.count() - n_users


def test_streaming_incremental_dedup_crash_resume_matches_batch_twin(spark, sf_dir):
    """Crash the incremental-dedup intake stream before epoch 2's first
    write, resume from the checkpoint (same work_dir + staged source), and
    require the drained verdicts to be row-identical to
    incremental_batch_dedup -- the per-epoch idempotent state/output
    commits are exactly-once across a restart."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.streaming.dedup import read_verdicts
    from tests.helpers import CrashInjector, incremental_dedup_replay

    start, _ = incremental_dedup_replay(spark, sf_dir, chunks=4)
    work_dir = tempfile.mkdtemp(prefix="rlink_sdedup_test_")
    with CrashInjector(2, ("before", 1)) as inj:
        with pytest.raises(StreamingQueryException, match="injected crash"):
            drain(start(work_dir), what="crashing intake stream")
        assert inj.fired
        drain(start(work_dir), what="resumed intake stream")

    got = {tuple(r) for r in read_verdicts(spark, work_dir).collect()}
    want = {
        tuple(r)
        for r in REGISTRY["incremental_batch_dedup"].fn(spark, sf_dir).collect()
    }
    assert got == want and got


def test_streaming_reservoir_bounded_state_and_crash_resume(spark, sf_dir):
    """The A-ES reservoir's state must stay <= K rows per language at every
    epoch (constant in stream length), and the drained reservoir must be
    the exact batch draw. Its crash points are test_crash_matrix.py's
    reservoir cells."""
    import os

    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.text import _WS_H_SPARK, _WS_KEY, _WS_TOP_K
    from rlink_rs_spark.streaming.sampling import (
        read_reservoir,
        streaming_weighted_reservoir_sink,
    )

    work_dir = tempfile.mkdtemp(prefix="rlink_res_test_")
    src = file_stream(
        spark, sf_dir, "documents", max_files_per_trigger=1, chunks=4, order_col="doc_id"
    )
    q = streaming_weighted_reservoir_sink(
        src.select("lang", "doc_id", "n_chars"),
        key_expr=_WS_KEY.format(h=_WS_H_SPARK),
        work_dir=work_dir,
        top_k=_WS_TOP_K,
    )
    drain(q, what="reservoir stream")

    # bounded state: every committed epoch holds <= K rows per language
    state_dir = os.path.join(work_dir, "reservoir")
    n_langs = load_table(spark, sf_dir, "documents").select("lang").distinct().count()
    for d in os.listdir(state_dir):
        n = spark.read.parquet(os.path.join(state_dir, d)).count()
        assert n <= _WS_TOP_K * n_langs, f"{d} holds {n} rows"

    got = {tuple(r) for r in read_reservoir(spark, work_dir, _WS_TOP_K).collect()}
    want = {
        tuple(r) for r in REGISTRY["weighted_sample_docs"].fn(spark, sf_dir).collect()
    }
    assert got == want and got


def test_streaming_kmv_bounded_state_and_crash_resume(spark, sf_dir):
    """The KMV sketch's state must stay <= K hash rows per group at every
    epoch (constant in stream length), and the drained sketch must be the
    exact batch sketch (the KMV merge is exact, so the estimate is
    row-identical to approx_distinct_users over the same rows). Its crash
    points are test_crash_matrix.py's kmv cells."""
    import os

    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.stats import _KMV_K
    from rlink_rs_spark.streaming.sketches import read_kmv_estimate, streaming_kmv_sink

    work_dir = tempfile.mkdtemp(prefix="rlink_kmv_test_")
    src = file_stream(
        spark, sf_dir, "events", max_files_per_trigger=1, chunks=4, order_col="event_id"
    )
    q = streaming_kmv_sink(
        src.select("event_type", "user_id"),
        group_col="event_type",
        value_col="user_id",
        work_dir=work_dir,
        k=_KMV_K,
    )
    drain(q, what="KMV stream")

    # bounded state: every committed epoch holds <= K hash rows per group
    events = load_table(spark, sf_dir, "events")
    n_groups = events.select("event_type").distinct().count()
    hash_dir = os.path.join(work_dir, "hashes")
    for d in os.listdir(hash_dir):
        n = spark.read.parquet(os.path.join(hash_dir, d)).count()
        assert n <= _KMV_K * n_groups, f"{d} holds {n} rows"
    count_dir = os.path.join(work_dir, "counts")
    for d in os.listdir(count_dir):
        n = spark.read.parquet(os.path.join(count_dir, d)).count()
        assert n <= n_groups, f"{d} holds {n} count rows"

    got = {tuple(r) for r in read_kmv_estimate(spark, work_dir, _KMV_K).collect()}
    want = {
        tuple(r) for r in REGISTRY["approx_distinct_users"].fn(spark, sf_dir).collect()
    }
    assert got == want and got


def test_streaming_intake_score_seam_crash_resume(spark, sf_dir):
    """The score_fn seam (streaming_intake_pipeline's quality stage) under
    kill/resume: with a synthetic deterministic gate (doc_id % 2 == 0), the
    drained verdicts must equal the batch dedup twin with admit ANDed by
    the gate -- across a crash before epoch 1's first write."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.streaming.dedup import read_verdicts
    from tests.helpers import CrashInjector, incremental_dedup_replay

    def gate(batch_df):
        return batch_df.select("doc_id", (F.col("doc_id") % 2 == 0).alias("passes"))

    start, _ = incremental_dedup_replay(spark, sf_dir, chunks=4)
    work_dir = tempfile.mkdtemp(prefix="rlink_intake_test_")
    with CrashInjector(1, ("before", 1)) as inj:
        with pytest.raises(StreamingQueryException, match="injected crash"):
            drain(start(work_dir, score_fn=gate), what="crashing intake stream")
        assert inj.fired
        drain(start(work_dir, score_fn=gate), what="resumed intake stream")

    got = {
        tuple(r) for r in read_verdicts(spark, work_dir, with_quality=True).collect()
    }
    want = {
        (r.doc_id, r.doc_id % 2 == 0, r.exact_dup, r.near_dup_of,
         bool(r.admit and r.doc_id % 2 == 0))
        for r in REGISTRY["incremental_batch_dedup"].fn(spark, sf_dir).collect()
    }
    assert got == want and got


def test_streaming_rollup_bounded_state_and_crash_resume(spark, sf_dir):
    """The streaming materialized view's state must stay <= days x types
    rows at every epoch, and the drained view must be exactly the batch
    rollup. Its crash points are test_crash_matrix.py's rollup cells."""
    import os

    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.streaming.rollup import read_rollup_view, streaming_rollup_sink

    work_dir = tempfile.mkdtemp(prefix="rlink_rollup_test_")
    src = file_stream(
        spark, sf_dir, "events", max_files_per_trigger=1, chunks=4, order_col="ts"
    )
    q = streaming_rollup_sink(
        src.select("ts", "event_type", "value"),
        work_dir=work_dir,
    )
    drain(q, what="rollup stream")

    ev = load_table(spark, sf_dir, "events")
    n_days = ev.select(F.expr("unix_millis(ts) div 86400000")).distinct().count()
    n_types = ev.select("event_type").distinct().count()
    view_dir = os.path.join(work_dir, "view")
    for d in os.listdir(view_dir):
        n = spark.read.parquet(os.path.join(view_dir, d)).count()
        assert n <= n_days * n_types, f"{d} holds {n} rows"

    got = {tuple(r) for r in read_rollup_view(spark, work_dir).collect()}
    want = {
        tuple(r)
        for r in REGISTRY["incremental_daily_rollup"].fn(spark, sf_dir).collect()
    }
    assert got == want and got


def test_streaming_ann_probe_equals_batch_probe(spark, sf_dir):
    """The drained streaming probe must equal the batch IVF probe row-for-
    row: a query's result depends only on the query and the standing
    index, and the query set provably spans both micro-batches."""
    from rlink_rs_spark.queries import REGISTRY

    got = {tuple(r) for r in REGISTRY["streaming_ann_probe"].fn(spark, sf_dir).collect()}
    want = {tuple(r) for r in REGISTRY["cosine_topk_ivf"].fn(spark, sf_dir).collect()}
    assert got == want and got


def test_streaming_window_distinct_equals_closed_batch_windows(spark, sf_dir):
    """The chained-stateful streaming COUNT DISTINCT must equal the batch
    two-level query restricted to watermark-closed windows (ADVICE r8:
    these two queries previously had no CI parity witness)."""
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.streams import _DELAY_MS

    got = {
        tuple(r)
        for r in REGISTRY["streaming_window_distinct"].fn(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg(F.max(F.unix_millis("ts"))).collect()[0][0] - _DELAY_MS
    want = {
        tuple(r)
        for r in REGISTRY["window_distinct_users"]
        .fn(spark, sf_dir)
        .where(F.col("window_end") <= cutoff)
        .collect()
    }
    assert got == want and got


def test_streaming_cms_counters_equal_batch_fold(spark, sf_dir):
    """The drained streaming CMS counter table must be bit-equal to the
    batch fold over the same rows (counter addition is exactly
    associative, so the sketch cannot drift with micro-batching)."""
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.stats import _CMS_B_SPARK, _CMS_D

    got = {
        tuple(r)
        for r in REGISTRY["streaming_cms_counters"].fn(spark, sf_dir).collect()
    }
    events = load_table(spark, sf_dir, "events")
    rows = spark.range(_CMS_D).select(F.col("id").cast("int").alias("r"))
    want = {
        tuple(r)
        for r in events.crossJoin(F.broadcast(rows))
        .groupBy("r", F.expr(_CMS_B_SPARK).alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .collect()
    }
    assert got == want and got


def test_streaming_dedup_compaction_crash_resume(spark, sf_dir):
    """Epoch-state compaction (VERDICT r8 #3): run the intake stream over 8
    micro-batches with an LSM fold every 3 committed deltas, kill it
    MID-COMPACTION (before epoch 3's second write: the hashes fold
    committed, the bands fold not started), resume, and require (a) the
    drained verdicts row-identical to incremental_batch_dedup, and (b) the
    state dirs actually folded -- a committed base_upto dir present and
    the covered deltas GC'd."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.streaming.dedup import read_verdicts
    from rlink_rs_spark.streaming.deltas import newest_base
    from tests.helpers import CrashInjector, incremental_dedup_replay

    start, _ = incremental_dedup_replay(spark, sf_dir, chunks=8)
    work_dir = tempfile.mkdtemp(prefix="rlink_sdedup_compact_")
    hash_dir = os.path.join(work_dir, "state_hashes")
    band_dir = os.path.join(work_dir, "state_bands")
    # first fold at epoch 3 (deltas 0,1,2): hashes first, then bands
    with CrashInjector(3, ("before", 2)) as inj:
        with pytest.raises(StreamingQueryException, match="injected crash"):
            drain(start(work_dir, compact_every=3), what="crashing intake stream")
        assert inj.fired
        # the crash window's exact state: hashes folded and committed, bands not
        assert newest_base(hash_dir) == (os.path.join(hash_dir, "base_upto=2"), 2)
        assert newest_base(band_dir) == (None, -1)
        drain(start(work_dir, compact_every=3), what="resumed intake stream")

    got = {tuple(r) for r in read_verdicts(spark, work_dir).collect()}
    want = {
        tuple(r)
        for r in REGISTRY["incremental_batch_dedup"].fn(spark, sf_dir).collect()
    }
    assert got == want and got

    # both state dirs folded (second trigger at epoch 6 covers deltas 3-5)
    # and the GC pass dropped every delta the newest base covers
    for d in (hash_dir, band_dir):
        base, upto = newest_base(d)
        assert base is not None and upto == 5, (d, base, upto)
        leftover = [
            x for x in os.listdir(d)
            if x.startswith("batch_id=") and int(x.split("=", 1)[1]) <= upto
        ]
        assert not leftover, (d, leftover)


def test_streaming_cdc_merge_crash_resume_and_bucket_pruning(spark, sf_dir):
    """The drained CDC merge snapshot must equal the batch MERGE
    row-for-row, every committed epoch dir must contain EXACTLY the
    buckets its chunk's change keys hash to (the file-level pruning the
    design rides on), and torn (no-_COMMITTED) epochs must be invisible.
    Its crash points are test_crash_matrix.py's cdc_merge cells."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.streaming.cdc import (
        COMMIT_MARKER,
        N_BUCKETS,
        derive_cdc_changes,
        read_merged_snapshot,
        streaming_merge_sink,
        write_base_snapshot,
    )
    from rlink_rs_spark.tables import load_table

    work_dir = tempfile.mkdtemp(prefix="rlink_cdc_test_")
    write_base_snapshot(load_table(spark, sf_dir, "documents"), work_dir)
    src = file_stream(
        spark, sf_dir, "documents", max_files_per_trigger=1, chunks=4, order_col="doc_id"
    )
    q = streaming_merge_sink(
        src.select("doc_id", "text", "lang", "source", "n_chars"),
        work_dir=work_dir,
    )
    drain(q, what="CDC merge stream")

    # bucket pruning: each committed epoch dir only ever held the buckets
    # its chunk's derived change keys hash to (subset after GC; the final
    # epoch, which no GC pass has seen, holds exactly its derived set)
    docs = load_table(spark, sf_dir, "documents")
    table = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    ids = sorted(table.column("doc_id").to_pylist())
    per = (len(ids) + 3) // 4
    snap_dir = os.path.join(work_dir, "snap")
    derived = {}
    present = {}
    for i in range(4):
        chunk_ids = set(ids[i * per : (i + 1) * per])
        chunk = docs.where(F.col("doc_id").isin(chunk_ids))
        derived[i] = {
            r[0]
            for r in derive_cdc_changes(chunk)
            .select(
                F.pmod(F.xxhash64(F.col("doc_id").cast("bigint")), F.lit(N_BUCKETS))
                .cast("int")
                .alias("b")
            )
            .distinct()
            .collect()
        }
        edir = os.path.join(snap_dir, f"batch_id={i}")
        if not os.path.exists(edir):
            # every bucket this epoch wrote was superseded by a later
            # acked epoch and GC removed the empty husk dir (the soak
            # witness's O(epochs)-directory fix); nothing to check
            present[i] = set()
            continue
        assert os.path.exists(os.path.join(edir, COMMIT_MARKER)), edir
        present[i] = {
            int(d.split("=", 1)[1])
            for d in os.listdir(edir)
            if d.startswith("bucket=")
        }
        assert present[i] <= derived[i], (i, present[i], derived[i])
    assert present[3] == derived[3]

    # GC keeps version chains O(1): among checkpoint-acked epochs (< 3,
    # incl. the base) each bucket has exactly ONE surviving version
    acked = {}
    for d in os.listdir(snap_dir):
        eid = int(d.split("=", 1)[1])
        if eid < 3:
            for b in os.listdir(os.path.join(snap_dir, d)):
                if b.startswith("bucket="):
                    acked.setdefault(int(b.split("=", 1)[1]), []).append(eid)
    assert acked and all(len(v) == 1 for v in acked.values()), acked
    assert set(acked) == set(range(N_BUCKETS))

    # a torn epoch (no _COMMITTED) must be invisible to the drain reader
    before = {tuple(r) for r in read_merged_snapshot(spark, work_dir).collect()}
    torn = os.path.join(snap_dir, "batch_id=99", "bucket=0")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    after = {tuple(r) for r in read_merged_snapshot(spark, work_dir).collect()}
    assert after == before

    want = {
        tuple(r) for r in REGISTRY["merge_upsert_snapshot"].fn(spark, sf_dir).collect()
    }
    assert before == want and before


def test_streaming_ivf_index_add_equals_batch_index(spark, sf_dir):
    """The drained union of streamed inverted-file deltas must equal the
    batch-built index row-for-row: assignment is a pure function of
    (vector, codebook), so WHEN a vector arrives cannot change WHERE it
    lands."""
    from rlink_rs_spark.operators import similarity as sim_ops
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.similarity import (
        _DIMS,
        _IVF_CELLS,
        _IVF_ITERS,
        _artifact_dir,
        _embeddings_fingerprint,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    codebook = sim_ops.load_or_train_ivf_codebook(
        spark, emb, dims=_DIMS, cache_dir=_artifact_dir("ivf_codebooks"),
        fingerprint=_embeddings_fingerprint(sf_dir),
        n_cells=_IVF_CELLS, iters=_IVF_ITERS,
    )
    got = {
        tuple(r)
        for r in REGISTRY["streaming_ivf_index_add"].fn(spark, sf_dir).collect()
    }
    want = {tuple(r) for r in sim_ops.ivf_assign(emb, codebook, _DIMS).collect()}
    assert got == want and got


def test_streaming_intake_dlq_crash_resume_two_sink_invariants(spark, sf_dir):
    """Clean and DLQ must end up row-DISJOINT by doc_id, their union
    COMPLETE and equal to the batch classification -- the invariant the
    single-handler multi-sink epoch protocol exists to protect. Its crash
    points (between and inside the two writes) are test_crash_matrix.py's
    dlq cells."""
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.streaming.dlq import read_clean, read_dlq, streaming_dlq_sink

    work_dir = tempfile.mkdtemp(prefix="rlink_dlq_test_")
    src = file_stream(
        spark, sf_dir, "documents", max_files_per_trigger=1, chunks=4, order_col="doc_id"
    )
    q = streaming_dlq_sink(
        src.select("doc_id", "lang", "source", "n_chars"),
        work_dir=work_dir,
    )
    drain(q, what="DLQ stream")

    clean = read_clean(spark, work_dir)
    dlq = read_dlq(spark, work_dir)
    clean_ids = {r.doc_id for r in clean.collect()}
    dlq_ids = {r.doc_id for r in dlq.collect()}
    assert clean_ids and dlq_ids and not (clean_ids & dlq_ids)
    assert clean.where(F.col("quarantined")).count() == 0
    assert dlq.where(~F.col("quarantined")).count() == 0
    assert {r.reason for r in dlq.select("reason").distinct().collect()} <= {
        "too_short", "lang_missing", "lang_unsupported", "source_blocked"
    }

    got = {tuple(r) for r in clean.unionByName(dlq).collect()}
    want = {
        tuple(r) for r in REGISTRY["intake_dlq_routing"].fn(spark, sf_dir).collect()
    }
    assert got == want and got


def test_dlq_epoch_atomic_across_both_sinks_and_null_lang_policy(spark):
    """ADVICE r9: (a) a drain between the two sink writes (or after an
    unresumed crash that tore the clean write) must NOT show an epoch's
    DLQ rows without its clean rows -- an epoch is visible in either sink
    only once it is committed in both; (b) lang IS NULL quarantines explicitly as
    'lang_missing' instead of falling through NOT-IN to the clean sink."""
    import shutil

    from rlink_rs_spark.streaming.dlq import (
        classify_intake,
        read_clean,
        read_dlq,
        streaming_dlq_sink,
    )

    # (b) the policy, row-level
    docs = spark.createDataFrame(
        [(1, None, "src1", 500), (2, "en", "src1", 500), (3, "xx", "src1", 500)],
        "doc_id bigint, lang string, source string, n_chars bigint",
    )
    routed = {(r.doc_id, r.reason) for r in classify_intake(docs).collect()}
    assert routed == {(1, "lang_missing"), (2, None), (3, "lang_unsupported")}

    # (a) drive one epoch through the real sink, then simulate the torn
    # mid-epoch state: keep the DLQ dir, delete the clean dir (the crash
    # happened between the writes)
    src_dir = tempfile.mkdtemp(prefix="rlink_dlq_atomic_src_")
    docs.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(
        "doc_id bigint, lang string, source string, n_chars bigint"
    ).parquet(src_dir)
    work_dir = tempfile.mkdtemp(prefix="rlink_dlq_atomic_")
    q = streaming_dlq_sink(stream, work_dir)
    try:
        assert q.awaitTermination(120)
    finally:
        if q.isActive:
            q.stop()
    assert read_clean(spark, work_dir).count() == 1
    assert read_dlq(spark, work_dir).count() == 2

    shutil.rmtree(os.path.join(work_dir, "clean"))
    # torn epoch: BOTH sinks read empty -- never quarantined-without-clean
    assert read_dlq(spark, work_dir).count() == 0
    assert read_clean(spark, work_dir).count() == 0


def test_dlq_replay_torn_dlq_dir_hides_epoch_from_both_sinks(spark):
    """A replayed epoch's overwrite tears `dlq/batch_id=N` while the clean
    dir is still committed from the first attempt: the epoch must read
    empty from BOTH sinks, not as clean rows without their DLQ twins."""
    import shutil

    from rlink_rs_spark.streaming.dlq import read_clean, read_dlq, streaming_dlq_sink

    src_dir = tempfile.mkdtemp(prefix="rlink_dlq_torn_src_")
    spark.createDataFrame(
        [(1, None, "src1", 500), (2, "en", "src1", 500), (3, "xx", "src1", 500)],
        "doc_id bigint, lang string, source string, n_chars bigint",
    ).write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(
        "doc_id bigint, lang string, source string, n_chars bigint"
    ).parquet(src_dir)
    work_dir = tempfile.mkdtemp(prefix="rlink_dlq_torn_")
    q = streaming_dlq_sink(stream, work_dir)
    try:
        assert q.awaitTermination(120)
    finally:
        if q.isActive:
            q.stop()
    assert read_clean(spark, work_dir).count() == 1
    assert read_dlq(spark, work_dir).count() == 2

    shutil.rmtree(os.path.join(work_dir, "dlq", "batch_id=0"))
    assert read_clean(spark, work_dir).count() == 0
    assert read_dlq(spark, work_dir).count() == 0


@pytest.mark.parametrize("reader", ["read_probe_results", "read_outlier_results"])
def test_ann_readers_skip_torn_epochs(spark, reader):
    """The ANN probe and outlier drains read only committed epochs: an
    epoch dir whose `_SUCCESS` is missing (a crash mid-write) is torn and
    must not contribute rows."""
    from rlink_rs_spark.streaming import ann

    schema = {
        "read_probe_results": "query_id bigint, neighbor_id bigint, cosine double, rank int",
        "read_outlier_results": "vec_id bigint, label int, centroid_cos double",
    }[reader]
    rows = {
        "read_probe_results": [(1, 2, 0.5, 1), (9, 9, 0.1, 1)],
        "read_outlier_results": [(1, 0, -0.5), (9, 1, -0.9)],
    }[reader]
    out_dir = tempfile.mkdtemp(prefix="rlink_ann_torn_")
    read = getattr(ann, reader)
    assert read(spark, out_dir).count() == 0
    for epoch, row in enumerate(rows):
        spark.createDataFrame([row], schema).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={epoch}")
        )
    assert read(spark, out_dir).count() == 2
    os.remove(os.path.join(out_dir, "batch_id=1", "_SUCCESS"))
    assert [tuple(r) for r in read(spark, out_dir).collect()] == [rows[0]]


def test_streaming_bm25_index_add_equals_batch(spark, sf_dir):
    """BM25 over the streamed-in posting table must equal the batch query
    row-for-row: ingestion order cannot change scores."""
    from rlink_rs_spark.queries import REGISTRY

    got = {
        tuple(r)
        for r in REGISTRY["streaming_bm25_index_add"].fn(spark, sf_dir).collect()
    }
    want = {
        tuple(r) for r in REGISTRY["bm25_keyword_search"].fn(spark, sf_dir).collect()
    }
    assert got == want and got


def test_cdc_schema_evolution_never_rewrites_v1_buckets(spark, sf_dir):
    """The evolution's physical claim: buckets committed before the
    evolution epoch still hold V1 parquet (no `rev` column in any file
    footer) unless a later epoch rewrote them for data reasons -- the
    column add itself costs zero rewrites -- while v2-epoch buckets
    carry it; and the wide drain equals the batch-shaped oracle result
    with rev NULL exactly on rows last written by a v1 epoch."""
    import pyarrow.parquet as pq

    from rlink_rs_spark.streaming.cdc import (
        _SNAP_SCHEMA_V2,
        read_snapshot,
        streaming_merge_sink,
        write_base_snapshot,
    )
    from rlink_rs_spark.streaming.sources import stage_stream_dir, stream_from_staged

    staged = stage_stream_dir(sf_dir, "documents", chunks=4, order_col="doc_id")
    work_dir = tempfile.mkdtemp(prefix="rlink_cdc_evo_test_")
    write_base_snapshot(load_table(spark, sf_dir, "documents"), work_dir)
    src = stream_from_staged(spark, staged, sf_dir, "documents", max_files_per_trigger=1)
    q = streaming_merge_sink(
        src.select("doc_id", "text", "lang", "source", "n_chars"),
        work_dir=work_dir,
        retain=8,  # keep every version so epoch dirs stay inspectable
        evolve_rev_from=2,
    )
    assert q.awaitTermination(240), "evolution stream timed out"

    snap_dir = os.path.join(work_dir, "snap")
    seen_v1 = seen_v2 = 0
    for d in sorted(os.listdir(snap_dir)):
        eid = int(d.split("=", 1)[1])
        edir = os.path.join(snap_dir, d)
        for b in os.listdir(edir):
            if not b.startswith("bucket="):
                continue
            for f in os.listdir(os.path.join(edir, b)):
                if not f.endswith(".parquet"):
                    continue
                names = pq.read_schema(os.path.join(edir, b, f)).names
                if eid < 2:
                    assert "rev" not in names, (d, b, f)
                    seen_v1 += 1
                else:
                    assert "rev" in names, (d, b, f)
                    seen_v2 += 1
    assert seen_v1 and seen_v2

    wide = read_snapshot(spark, work_dir, 1 << 62, schema=_SNAP_SCHEMA_V2)
    assert wide.where(F.col("rev") == 1).count() > 0
    assert wide.where(F.col("rev").isNull() & (F.col("version") == 1)).count() > 0


def test_streaming_decontamination_equals_batch(spark, sf_dir):
    """Contamination caught at ingest must equal the batch sweep: each
    corpus doc's pair counts complete within its epoch (docs are
    epoch-disjoint), so the drained union is the full check."""
    from rlink_rs_spark.queries import REGISTRY

    got = {
        tuple(r)
        for r in REGISTRY["streaming_decontamination"].fn(spark, sf_dir).collect()
    }
    want = {
        tuple(r)
        for r in REGISTRY["benchmark_decontamination"].fn(spark, sf_dir).collect()
    }
    assert got == want and got


def test_streaming_pack_sequences_crash_resume_and_bounded_state(spark, sf_dir):
    """The drained bins must equal the batch pack row-for-row (bins fill
    across epoch boundaries exactly as the global cumsum fills them), and
    the carried state must never exceed one row per language. Its crash
    points are test_crash_matrix.py's packing cells."""
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.pipeline_ops import _CTX_LEN
    from rlink_rs_spark.streaming.packing import read_packed_bins, streaming_pack_sink

    work_dir = tempfile.mkdtemp(prefix="rlink_pack_test_")
    src = file_stream(
        spark, sf_dir, "documents", max_files_per_trigger=1, chunks=4, order_col="doc_id"
    )
    q = streaming_pack_sink(
        src.select("doc_id", "lang", "text"),
        work_dir=work_dir,
        ctx_len=_CTX_LEN,
    )
    drain(q, what="packing stream")

    n_langs = load_table(spark, sf_dir, "documents").select("lang").distinct().count()
    state_dir = os.path.join(work_dir, "state")
    for d in os.listdir(state_dir):
        n = spark.read.parquet(os.path.join(state_dir, d)).count()
        assert n <= n_langs, (d, n)

    got = {tuple(r) for r in read_packed_bins(spark, work_dir).collect()}
    want = {tuple(r) for r in REGISTRY["pack_sequences"].fn(spark, sf_dir).collect()}
    assert got == want and got


def test_cdc_merge_emptied_bucket_does_not_resurrect_deleted_rows(spark, sf_dir):
    """Edge the fixture never hits: a change batch that deletes EVERY row
    of a bucket (and upserts nothing into it) must leave an explicit
    empty bucket version -- partitionBy skips empty partitions, and an
    absent dir would resolve readers to the stale pre-delete version,
    resurrecting deleted rows."""
    from rlink_rs_spark.streaming.cdc import (
        apply_merge_epoch,
        read_merged_snapshot,
        write_base_snapshot,
    )

    # doc_id=13 hashes to a bucket (0) no other corpus id shares; 13%13==0
    # so its change event is a delete, emptying the bucket. doc_ids 1 and 2
    # sit in other buckets and produce no change events at all.
    docs = spark.createDataFrame(
        [(13, "gone", "en", "s", 4), (1, "keep1", "en", "s", 5), (2, "keep2", "de", "s", 5)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    work_dir = tempfile.mkdtemp(prefix="rlink_cdc_empty_")
    write_base_snapshot(docs, work_dir)
    apply_merge_epoch(spark, work_dir, docs, epoch_id=0)

    got = {(r.doc_id, r.version) for r in read_merged_snapshot(spark, work_dir).collect()}
    assert got == {(1, 0), (2, 0)}, got


def test_cdc_epoch_commit_survives_crash_before_placeholders(spark, sf_dir):
    """ADVICE r9 (medium): apply_merge_epoch's parquet job lands Spark's
    _SUCCESS BEFORE the empty-bucket placeholder makedirs loop. A crash in
    that window must NOT leave a half-visible epoch where non-emptied
    buckets resolve to the new version while the emptied bucket resolves
    to its stale pre-delete version (deleted-row resurrection). With the
    _COMMITTED sentinel the torn epoch is invisible AS A UNIT (a drain
    sees exactly the consistent pre-epoch state) and replay commits it."""
    import shutil

    from rlink_rs_spark.streaming.cdc import (
        COMMIT_MARKER,
        apply_merge_epoch,
        read_merged_snapshot,
        write_base_snapshot,
    )

    # doc_id=13: sole occupant of its bucket, 13%13==0 -> delete empties it.
    # doc_id=14: 14%7==0 -> update, a different bucket ALSO touched by the
    # same epoch (the half-visible hazard needs >=2 touched buckets).
    docs = spark.createDataFrame(
        [(13, "gone", "en", "s", 4), (14, "upd", "en", "s", 5), (2, "keep", "de", "s", 5)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    work_dir = tempfile.mkdtemp(prefix="rlink_cdc_crashwin_")
    write_base_snapshot(docs, work_dir)
    base = {(r.doc_id, r.version) for r in read_merged_snapshot(spark, work_dir).collect()}
    assert base == {(13, 0), (14, 0), (2, 0)}

    # simulate the crash: run the full epoch, then strip what the crash
    # window would not yet have written -- the sentinel and the emptied
    # bucket's placeholder dir (Spark's _SUCCESS stays, that's the bug)
    apply_merge_epoch(spark, work_dir, docs, epoch_id=0)
    edir = os.path.join(work_dir, "snap", "batch_id=0")
    os.remove(os.path.join(edir, COMMIT_MARKER))
    for d in os.listdir(edir):
        full = os.path.join(edir, d)
        if d.startswith("bucket=") and os.path.isdir(full) and not os.listdir(full):
            shutil.rmtree(full)
    assert os.path.exists(os.path.join(edir, "_SUCCESS"))  # the trap is armed

    # unresumed drain: the torn epoch is invisible, state is exactly the
    # consistent pre-epoch snapshot -- no resurrection, no half-merge
    torn = {(r.doc_id, r.version) for r in read_merged_snapshot(spark, work_dir).collect()}
    assert torn == base, torn

    # checkpoint replay re-runs the epoch (deterministic, overwrite) and
    # commits it; now the delete and the update are both visible
    apply_merge_epoch(spark, work_dir, docs, epoch_id=0)
    healed = {(r.doc_id, r.version) for r in read_merged_snapshot(spark, work_dir).collect()}
    assert healed == {(14, 1), (2, 0)}, healed


def test_cdc_optimize_compaction_equivalence_and_crash(spark, sf_dir):
    """OPTIMIZE (streaming/cdc.py optimize_snapshot): compacts every fat
    bucket's current version to one file, changes NOTHING any reader can
    observe (merged read row-identical, as-of reads resolve the original
    chain), and a crash mid-OPTIMIZE (torn, sentinel-less dir) is
    invisible; the retry recomputes the same synthetic epoch id."""
    import shutil

    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.streaming.cdc import (
        COMMIT_MARKER,
        _live_file_counts,
        optimize_snapshot,
        read_merged_snapshot,
        read_snapshot,
    )
    from rlink_rs_spark.queries.relational import _cdc_snapshot_artifact

    src_dir = _cdc_snapshot_artifact(spark, sf_dir, retain=8)
    work_dir = tempfile.mkdtemp(prefix="rlink_cdc_opt_test_")
    shutil.copytree(os.path.join(src_dir, "snap"), os.path.join(work_dir, "snap"))

    before_files = _live_file_counts(work_dir)
    assert any(c > 1 for c in before_files.values()), before_files  # fat exists
    want_merged = {tuple(r) for r in read_merged_snapshot(spark, work_dir).collect()}
    want_asof = {tuple(r) for r in read_snapshot(spark, work_dir, before_epoch=2).collect()}

    # crash mid-OPTIMIZE: run it, then strip the sentinel -- the torn
    # synthetic epoch must be invisible to every reader
    stats = optimize_snapshot(spark, work_dir, max_files_per_bucket=1)
    assert stats["compacted_buckets"] > 0
    snap_dir = os.path.join(work_dir, "snap")
    opt_dirs = [
        d for d in os.listdir(snap_dir)
        if d.startswith("batch_id=") and int(d.split("=", 1)[1]) >= 4
    ]
    assert len(opt_dirs) == 1, opt_dirs
    os.remove(os.path.join(snap_dir, opt_dirs[0], COMMIT_MARKER))
    torn = {tuple(r) for r in read_merged_snapshot(spark, work_dir).collect()}
    assert torn == want_merged
    assert _live_file_counts(work_dir) == before_files  # still the old chain

    # retry commits; merged read identical, every bucket now single-file
    stats2 = optimize_snapshot(spark, work_dir, max_files_per_bucket=1)
    assert stats2["compacted_buckets"] == stats["compacted_buckets"]
    after_files = _live_file_counts(work_dir)
    assert all(c == 1 for c in after_files.values()), after_files
    assert sum(after_files.values()) < sum(before_files.values())
    got_merged = {tuple(r) for r in read_merged_snapshot(spark, work_dir).collect()}
    assert got_merged == want_merged and got_merged

    # time travel unaffected: the optimize epoch id exceeds every data
    # epoch, so the as-of-epoch-1 bound resolves the original versions
    got_asof = {tuple(r) for r in read_snapshot(spark, work_dir, before_epoch=2).collect()}
    assert got_asof == want_asof

    # and the registered query agrees with its oracle's shape end-to-end
    reg = {tuple(r) for r in REGISTRY["cdc_optimize_compaction"].fn(spark, sf_dir).collect()}
    assert reg == want_merged


def test_delta_sink_compaction_crash_resume(spark, sf_dir):
    """The shared LSM fold (streaming/deltas.py) behind every append-only
    index sink: drive the BM25 posting index over 6 doc_id-ordered chunks
    with compact_every=2 and a crash injected right after epoch 3's fold
    committed its base (folded delta dirs still on disk -- the
    double-count hazard window). The resumed run must GC them, finish the
    stream, and drain a posting table row-identical to one batch
    corpus_tf pass; the final state dir must hold ONE base plus fewer
    than compact_every deltas -- not O(epochs) dirs."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from rlink_rs_spark.queries.search import corpus_tf
    from rlink_rs_spark.streaming.deltas import gc_folded, newest_base
    from rlink_rs_spark.streaming.search_index import (
        read_posting_table,
        streaming_bm25_index_sink,
    )
    from rlink_rs_spark.streaming.sources import stage_stream_dir, stream_from_staged
    from tests.helpers import CrashInjector

    staged = stage_stream_dir(sf_dir, "documents", chunks=6, order_col="doc_id")
    state_dir = tempfile.mkdtemp(prefix="rlink_delta_compact_")

    def run():
        src = stream_from_staged(spark, staged, sf_dir, "documents", 1)
        return streaming_bm25_index_sink(
            src.select("doc_id", "text"),
            state_dir=state_dir,
            compact_every=2,
        )

    with CrashInjector(3, ("exit", None)) as inj:
        with pytest.raises(StreamingQueryException, match="injected crash"):
            drain(run(), what="crashing BM25 index stream")
        assert inj.fired
        # the crash left a committed base AND its folded deltas on disk
        _, upto = newest_base(state_dir)
        assert upto >= 3
        assert any(d.startswith("batch_id=") for d in os.listdir(state_dir))
        drain(run(), what="resumed BM25 index stream")

    got = {tuple(r) for r in read_posting_table(spark, state_dir).collect()}
    want = {
        tuple(r)
        for r in corpus_tf(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        ).collect()
    }
    assert got == want and got
    # GC of a fold is deferred to the next epoch's start, so a fold in the
    # final epoch leaves its covered dirs behind; run the deferred pass the
    # way epoch 6 would, then state must be exactly one base plus fewer
    # than compact_every deltas above it -- not O(epochs) dirs.
    gc_folded(state_dir)
    base, upto = newest_base(state_dir)
    assert base is not None
    bases = [d for d in os.listdir(state_dir) if d.startswith("base_upto=")]
    assert len(bases) == 1, bases
    live = [
        d
        for d in os.listdir(state_dir)
        if d.startswith("batch_id=") and int(d.split("=", 1)[1]) > upto
    ]
    assert len(live) < 2, live
    # post-GC read still equals the batch pass (nothing live was dropped)
    again = {tuple(r) for r in read_posting_table(spark, state_dir).collect()}
    assert again == want


def test_cdc_contiguous_keys_fast_path_matches_anti_join(spark, sf_dir):
    """r16: apply_merge_epoch's contiguous_keys fast path (closed-form
    change-key predicate + single-agg touched set) must produce a snapshot
    ROW-IDENTICAL to the default key-set anti-join when the batch is a
    contiguous doc_id slice -- including an epoch whose slice generates
    inserts (+10M keys) and one whose delete keys empty no bucket. Also
    pins the precondition direction: identical touched-bucket sets."""
    from rlink_rs_spark.streaming.cdc import (
        _bucket_versions,
        apply_merge_epoch,
        read_merged_snapshot,
        write_base_snapshot,
    )

    docs = spark.createDataFrame(
        [(i, f"t{i}", "en", "s", 3 + i % 5) for i in range(1, 401)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    snaps = {}
    for flag in (False, True):
        wd = tempfile.mkdtemp(prefix=f"rlink_cdc_cont_{flag}_")
        write_base_snapshot(docs, wd)
        # two contiguous doc_id slices = two epochs, replayed in order
        for e, (lo, hi) in enumerate([(1, 200), (201, 400)]):
            batch = docs.where(f"doc_id BETWEEN {lo} AND {hi}")
            apply_merge_epoch(spark, wd, batch, epoch_id=e, contiguous_keys=flag)
        snaps[flag] = {
            tuple(r)
            for r in read_merged_snapshot(spark, wd).collect()
        }
        # same resolved bucket-version name set (same touched buckets/epochs)
        snaps[(flag, "vers")] = {
            (b, os.path.basename(os.path.dirname(p)))
            for b, p in _bucket_versions(os.path.join(wd, "snap"), 1 << 62).items()
        }
    assert snaps[True] == snaps[False]
    assert snaps[(True, "vers")] == snaps[(False, "vers")]


def test_cdc_version_diff_prunes_to_changed_buckets(spark, sf_dir):
    """changed_buckets is the version-diff read set: after an epoch whose
    change events touch exactly one bucket, the diff between pre- and
    post-epoch bounds must name only that bucket -- reading it alone is
    complete (a bucket resolving to the same file at both bounds cannot
    differ), which is the whole file-level-pruning claim cdc_version_diff
    rides at 100 TB."""
    from rlink_rs_spark.streaming.cdc import (
        N_BUCKETS,
        _bucket_versions,
        apply_merge_epoch,
        changed_buckets,
        write_base_snapshot,
    )

    # ids 1..50 spread over all buckets; only doc_id=14 (14%7==0, 14%13!=0)
    # emits a change event in the applied batch -- an update confined to
    # its own hash bucket. (50%50==0 would insert, so stop at 49.)
    docs = spark.createDataFrame(
        [(i, f"t{i}", "en", "s", 3) for i in range(1, 50)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    work_dir = tempfile.mkdtemp(prefix="rlink_cdc_prune_")
    write_base_snapshot(docs, work_dir)
    base_buckets = set(_bucket_versions(os.path.join(work_dir, "snap"), 1).keys())
    assert len(base_buckets) == N_BUCKETS  # the corpus really spans all buckets

    batch = docs.where("doc_id = 14")
    apply_merge_epoch(spark, work_dir, batch, epoch_id=1)

    pruned = changed_buckets(work_dir, 1, 1 << 62)
    assert len(pruned) == 1, pruned
    # and the diff bound that saw no epoch boundary names nothing
    assert changed_buckets(work_dir, 1, 1) == set()


def test_streaming_hybrid_search_equals_batch_served(spark, sf_dir):
    """Hybrid serving is index-agnostic: the RRF result over the
    STREAM-maintained BM25 posting table and IVF inverted file must be
    row-identical to the same serving code over batch-built twins of
    both indexes -- continuous maintenance changes nothing the reader
    can observe (the delta-sink exactly-once contract, composed)."""
    from rlink_rs_spark.operators import similarity as sim_ops
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.search import corpus_tf, serve_hybrid
    from rlink_rs_spark.queries.similarity import (
        _artifact_dir,
        _embeddings_fingerprint,
        _DIMS,
        _IVF_CELLS,
        _IVF_ITERS,
    )
    from rlink_rs_spark.tables import load_table

    streamed = {
        tuple(r)
        for r in REGISTRY["streaming_hybrid_search"].fn(spark, sf_dir).collect()
    }

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    codebook = sim_ops.load_or_train_ivf_codebook(
        spark,
        emb,
        dims=_DIMS,
        cache_dir=_artifact_dir("ivf_codebooks"),
        fingerprint=_embeddings_fingerprint(sf_dir),
        n_cells=_IVF_CELLS,
        iters=_IVF_ITERS,
    )
    batch = {
        tuple(r)
        for r in serve_hybrid(
            spark,
            corpus_tf(docs.select("doc_id", "text")).cache(),
            emb,
            codebook,
            sim_ops.ivf_assign(emb, codebook, _DIMS),
        ).collect()
    }
    assert streamed == batch and streamed


def test_streaming_constraint_monitor_equals_batch(spark, sf_dir):
    """Violation counts are sum-mergeable, so the monitor's fold over
    per-epoch deltas must equal the batch constraint pass over the whole
    table -- same expressions, same verdicts, epoch boundaries invisible."""
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.relational import _events_constraint_rows
    from rlink_rs_spark.tables import load_table

    streamed = {
        tuple(r)
        for r in REGISTRY["streaming_constraint_monitor"].fn(spark, sf_dir).collect()
    }
    batch = {
        tuple(r)
        for r in _events_constraint_rows(load_table(spark, sf_dir, "events"))
        .withColumn("passed", F.col("violations") == 0)
        .collect()
    }
    assert streamed == batch and streamed
