"""Sustained streaming throughput benchmark (VERDICT r10 #4).

Replays the events fixture at a controlled rate through the flagship
60s/20s sliding-window aggregation (the reference's demo workload,
example/example-simple/src/app.rs:44-65) and reports steady-state
rows/sec, per-trigger duration p50/p99, and state-store size over >=50
micro-batches under BOTH state-store providers -- the number that
answers the reference's only published performance claim ("stable
hundreds of millions per second window calculation", README.md:8-9,
unverified, unspecified cluster).

Rate control: the fixture is replicated R times (event_id shifted, ts
unchanged -- the same densities-grow-like-a-higher-event-rate rule as
tools/make_scaled_data.py), globally sorted by (ts, event_id), and
split into C equal ts-ordered chunks with increasing mtimes;
maxFilesPerTrigger=1 makes each chunk one micro-batch, so every trigger
carries ~R*rows/C events and the event-time watermark advances
monotonically (state drains; the run measures steady-state serving, not
unbounded state growth).

Usage: python tools/throughput_bench.py [sf_dir] [replicas] [chunks]
Writes BENCH_throughput.json at the repo root.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

PROVIDERS = {
    "hdfs": "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
}

_DELAY_S = 1.0  # flagship out-of-orderness bound (app.rs:52, 1s)


def stage_replicated(sf_dir: str, replicas: int, chunks: int) -> tuple[str, int]:
    """Stage R interleaved replicas of events into C ts-ordered chunk files.
    Returns (dir, total_rows)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    base = pc.max(src.column("event_id")).as_py() + 1
    parts = []
    for k in range(replicas):
        t = src.set_column(
            src.schema.get_field_index("event_id"),
            "event_id",
            pc.add(src.column("event_id"), k * base),
        )
        parts.append(t)
    table = pa.concat_tables(parts)
    table = table.take(
        pc.sort_indices(table, sort_keys=[("ts", "ascending"), ("event_id", "ascending")])
    )
    out = tempfile.mkdtemp(prefix="rlink_throughput_")
    n = table.num_rows
    per = (n + chunks - 1) // chunks
    now = time.time()
    for i in range(chunks):
        p = os.path.join(out, f"chunk_{i:05d}.parquet")
        pq.write_table(table.slice(i * per, per), p)
        os.utime(p, (now + i, now + i))
    return out, n


def flagship_agg(stream_df, key_col: str = "event_type"):
    from rlink_rs_spark.streaming.watermarks import bounded_out_of_orderness

    return (
        bounded_out_of_orderness("ts", _DELAY_S).apply(stream_df)
        .groupBy(F.window("ts", "60 seconds", "20 seconds"), key_col)
        .agg(
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("sum_value"),
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
            F.count("*").alias("cnt"),
        )
    )


def run_provider(
    spark, staged: str, sf_dir: str, provider: str, warm_batches: int,
    key_col: str = "event_type",
) -> dict:
    from rlink_rs_spark.streaming.runner import pinned_state_partitions
    from rlink_rs_spark.streaming.sources import stream_from_staged

    spark.conf.set("spark.sql.streaming.stateStore.providerClass", PROVIDERS[provider])
    src = stream_from_staged(spark, staged, sf_dir, "events", max_files_per_trigger=1)
    agg = flagship_agg(src, key_col)
    with pinned_state_partitions(agg):
        q = (
            agg.writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", tempfile.mkdtemp(prefix=f"rlink_tp_ck_{provider}_"))
            .trigger(availableNow=True)
            .start()
        )
    try:
        if not q.awaitTermination(3600):
            raise TimeoutError("throughput run did not drain in 3600s")
        progresses = [json.loads(p.json) for p in q.recentProgress]
    finally:
        if q.isActive:
            q.stop()

    data = [p for p in progresses if p.get("numInputRows", 0) > 0]
    durs = [p["durationMs"]["triggerExecution"] for p in data]
    steady = data[warm_batches:]
    s_rows = sum(p["numInputRows"] for p in steady)
    s_ms = sum(p["durationMs"]["triggerExecution"] for p in steady)
    sdurs = sorted(p["durationMs"]["triggerExecution"] for p in steady)
    state_last = (data[-1].get("stateOperators") or [{}])[0]
    custom = state_last.get("customMetrics", {})
    return {
        "n_batches": len(data),
        "rows_total": sum(p["numInputRows"] for p in data),
        "wall_sec_all_triggers": round(sum(durs) / 1000.0, 3),
        "sustained_rows_per_sec": round(s_rows / (s_ms / 1000.0), 1) if s_ms else None,
        "steady_batches": len(steady),
        "batch_ms_p50": sdurs[len(sdurs) // 2] if sdurs else None,
        "batch_ms_p99": sdurs[min(len(sdurs) - 1, int(len(sdurs) * 0.99))] if sdurs else None,
        "batch_ms_mean": round(statistics.mean(sdurs), 1) if sdurs else None,
        "state_rows_final": state_last.get("numRowsTotal"),
        "state_bytes_final": state_last.get("memoryUsedBytes"),
        "state_rocksdb_sst_bytes": custom.get("rocksdbSstFileSize"),
        "rows_dropped_by_watermark": sum(
            (p.get("stateOperators") or [{}])[0].get("numRowsDroppedByWatermark", 0)
            for p in data
        ),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicas = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    chunks = int(sys.argv[3]) if len(sys.argv) > 3 else 60
    warm_batches = 5

    from bench import fixture_fingerprint
    from rlink_rs_spark.session import get_spark

    spark = get_spark("throughput-bench")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", str(chunks + 16))

    staged, n_rows = stage_replicated(sf_dir, replicas, chunks)
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    ts = pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=["ts"]).column("ts")
    span_sec = (pc.max(ts).as_py() - pc.min(ts).as_py()).total_seconds()

    # key-cardinality ladder (VERDICT r11 #3): the reference's throughput
    # claim is about WIDE keyed state, not 3 event types. Each rung
    # multiplies live state by its key count x open windows; p99 staying
    # bounded across the ladder is the state-store-scaling witness.
    key_cols = (sys.argv[4].split(",") if len(sys.argv) > 4
                else ["event_type", "user_id"])
    import pyarrow.parquet as _pq

    ev = _pq.read_table(
        os.path.join(sf_dir, "events.parquet"), columns=key_cols
    )
    keys = {}
    for key_col in key_cols:
        cardinality = len(pc.unique(ev.column(key_col)))
        providers = {}
        for provider in PROVIDERS:
            providers[provider] = run_provider(
                spark, staged, sf_dir, provider, warm_batches, key_col
            )
            p = providers[provider]
            # x_realtime = sustained rows/sec divided by the fixture's
            # native event rate (rows / event-time span): how many times
            # faster than real time this node absorbs the stream
            p["x_realtime"] = (
                round(p["sustained_rows_per_sec"] / (n_rows / span_sec), 1)
                if p["sustained_rows_per_sec"]
                else None
            )
        keys[key_col] = {"key_cardinality": cardinality, "providers": providers}

    run = {
        "replicas": replicas,
        "chunks": chunks,
        "rows_total": n_rows,
        "rows_per_batch": n_rows // chunks,
        "keys": keys,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }
    fp = fixture_fingerprint(sf_dir)
    out_path = os.path.join(REPO, "BENCH_throughput.json")
    # Merge runs: the artifact carries the full (trigger-rate rung x key-
    # cardinality rung x provider) grid. A re-run of the same (replicas,
    # chunks) rate rung replaces its row; a changed fixture restarts the file.
    runs = []
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                prior = json.load(f)
            if prior.get("fixture_md5") == fp:
                runs = [
                    r for r in prior.get("runs", [])
                    if (r.get("replicas"), r.get("chunks")) != (replicas, chunks)
                ]
        except (json.JSONDecodeError, OSError):
            pass
    runs.append(run)
    runs.sort(key=lambda r: r["rows_per_batch"])
    out = {
        "metric": "flagship_window_sustained_throughput",
        "workload": "60s/20s sliding window, 1s out-of-orderness, "
                    "sum/max/min/count, append mode, maxFilesPerTrigger=1; "
                    "grid: trigger-rate rung x grouping-key cardinality "
                    "rung x state-store provider",
        "sf_dir": sf_dir,
        "event_time_span_sec": round(span_sec, 1),
        "native_event_rate_rows_per_sec": round(n_rows / span_sec, 1),
        "warm_batches_excluded": warm_batches,
        "runs": runs,
        "fixture_md5": fp,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
