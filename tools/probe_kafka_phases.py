"""Phase-split + A/B probe for the kafka Python-datasource rows (r16,
guide §1 / VERDICT r15 #7): splits kafka_python_stream_sink into
stage / drain / readback and kafka_python_stream_source into
publish / drain, and A/Bs the sink's Arrow streaming-writer face against
the Row face it replaces (interleaved, one JVM, fresh topic+checkpoint
dirs per round).

Probe only -- mirrors the query bodies without replacing them; results
feed OPTIMIZATION_r16.md. Usage:
    python tools/probe_kafka_phases.py [sf_dir] [rounds]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from rlink_rs_spark.session import get_spark


def sink_drain(spark, sf_dir: str, staged, rowwriter: bool) -> float:
    from rlink_rs_spark.queries.relational import _LB_PARTS
    from rlink_rs_spark.sources.loopback import to_envelope
    from rlink_rs_spark.streaming.sources import stream_from_staged

    src = stream_from_staged(spark, staged, sf_dir, "events")
    envelope = to_envelope(
        src,
        key_col="user_id",
        value_col=F.to_json(F.struct("event_id", "user_id", "value")),
        topic="events-out",
        n_partitions=_LB_PARTS,
        ts_col="ts",
        assign_offset=False,
    ).drop("__ord")
    topic_dir = tempfile.mkdtemp(prefix="rlink_probe_sink_")
    ck = tempfile.mkdtemp(prefix="rlink_probe_sink_ck_")
    w = (
        envelope.writeStream.format("rlink_kafka")
        .option("topicdir", topic_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
    )
    if rowwriter:
        w = w.option("rowwriter", "true")
    t0 = time.time()
    q = w.start()
    try:
        assert q.awaitTermination(300), "sink did not drain"
    finally:
        if q.isActive:
            q.stop()
    return time.time() - t0


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark("probe_kafka")
    from rlink_rs_spark.sources.kafka_datasource import register_kafka_source
    from rlink_rs_spark.streaming.sources import stage_stream_dir

    register_kafka_source(spark)

    # --- sink: stage phase once (shared), then interleaved drain A/B ----
    t0 = time.time()
    staged = stage_stream_dir(sf_dir, "events", chunks=4, order_col="ts")
    print(f"sink stage_stream_dir: {time.time() - t0:.3f}s", flush=True)
    arrow_times, row_times = [], []
    sink_drain(spark, sf_dir, staged, rowwriter=True)  # warm both paths
    sink_drain(spark, sf_dir, staged, rowwriter=False)
    for r in range(rounds):
        row_times.append(sink_drain(spark, sf_dir, staged, rowwriter=True))
        arrow_times.append(sink_drain(spark, sf_dir, staged, rowwriter=False))
        print(
            f"  round {r}: row={row_times[-1]:.3f}s arrow={arrow_times[-1]:.3f}s",
            flush=True,
        )
    print(
        f"sink drain min-of-{rounds}: row={min(row_times):.3f}s "
        f"arrow={min(arrow_times):.3f}s",
        flush=True,
    )

    # --- source: publish / drain split ---------------------------------
    import json as _json

    from pyspark.sql import types as T

    from rlink_rs_spark.queries.relational import _LB_PARTS, _PYDS_SEEK
    from rlink_rs_spark.sources.loopback import publish, to_envelope
    from rlink_rs_spark.streaming.runner import run_to_memory
    from rlink_rs_spark.tables import load_table

    for r in range(rounds):
        spark.catalog.clearCache()
        events = load_table(spark, sf_dir, "events")
        envelope = to_envelope(
            events,
            key_col="user_id",
            value_col=F.to_json(F.struct("event_id", "user_id", "value")),
            topic="events",
            n_partitions=_LB_PARTS,
            ts_col="ts",
            order_col="event_id",
        )
        topic_dir = tempfile.mkdtemp(prefix="rlink_probe_src_")
        t0 = time.time()
        publish(envelope, topic_dir)
        t_pub = time.time() - t0
        stream = (
            spark.readStream.format("rlink_kafka")
            .option("topicdir", topic_dir)
            .option("startingoffsets", _json.dumps(_PYDS_SEEK))
            .load()
        )
        payload_schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("value", T.DoubleType()),
            ]
        )
        parsed = stream.select(
            "partition",
            "offset",
            F.col("key").cast("string").alias("key"),
            F.from_json(F.col("value").cast("string"), payload_schema).alias("p"),
        ).select(
            "partition",
            "offset",
            "key",
            F.col("p.event_id").alias("p_event_id"),
            F.col("p.user_id").alias("p_user_id"),
            F.col("p.value").alias("p_value"),
        )
        t0 = time.time()
        out = run_to_memory(parsed)
        t_drain = time.time() - t0
        t0 = time.time()
        out.write.format("noop").mode("overwrite").save()
        t_read = time.time() - t0
        print(
            f"source round {r}: publish={t_pub:.3f}s drain={t_drain:.3f}s "
            f"read={t_read:.3f}s",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
