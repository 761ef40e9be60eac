"""Streaming source builders.

Reference inventory (SURVEY.md §2.1) -> Spark:
  * InputFormat/InputSplit machinery (core/function.rs:56-155): Spark source
    partitioning, built-in.
  * vec_source / IteratorInputFormat: in-memory batch -> rate/memory stream.
  * RandInputFormat: readStream.format("rate") + column synthesis.
  * KafkaInputFormat incl. offset/timestamp seek modes
    (connector-kafka/src/source/input_format.rs:26-322): readStream
    .format("kafka") with startingOffsets / startingOffsetsByTimestamp --
    builder below emits the full option set (no broker in this container;
    construction is tested, connection is not).
  * File formats (absent in the reference): free via readStream.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rlink_rs_spark.session import scratch_dir
from rlink_rs_spark.tables import read_fixture


def stage_stream_dir(
    sf_dir: str, name: str, chunks: int = 1, order_col: str | None = None
) -> str:
    """Stage a fixture parquet file into a fresh scratch directory
    (``session.scratch_dir``) for the file stream source (which requires a
    directory). chunks > 1 splits the rows into time-ordered part files
    with increasing mtimes so maxFilesPerTrigger=1 replays them as separate
    micro-batches -- the replay harness for watermark/late-data/checkpoint
    tests."""
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, f"{name}.parquet")
    out = scratch_dir(f"rlink_stream_{name}_")
    if chunks <= 1:
        os.symlink(src, os.path.join(out, f"{name}.parquet"))
        return out
    table = pq.read_table(src)
    if order_col:
        import pyarrow.compute as pc

        # Tie-break on event_id (ADVICE r6): stateful folds (cusum_drift) and
        # their batch oracles order by (ts, event_id); sorting the staged
        # chunks by ts alone could split equal-ts rows of one key across a
        # chunk boundary in a different relative order than the oracle sees.
        sort_keys = [(order_col, "ascending")]
        if "event_id" in table.column_names and order_col != "event_id":
            sort_keys.append(("event_id", "ascending"))
        table = table.take(pc.sort_indices(table, sort_keys=sort_keys))
    n = table.num_rows
    per = (n + chunks - 1) // chunks
    now = time.time()
    for i in range(chunks):
        chunk = table.slice(i * per, per)
        p = os.path.join(out, f"chunk_{i:05d}.parquet")
        pq.write_table(chunk, p)
        os.utime(p, (now + i, now + i))  # replay order = chunk order
    return out


def stage_stream_dir_with_dups(
    sf_dir: str,
    name: str,
    chunks: int = 4,
    dup_chunks: tuple[int, ...] = (-1,),
    order_col: str | None = "ts",
) -> str:
    """Stage a chunked replay where the chunks in `dup_chunks` are replayed
    TWICE (the duplicate copy arrives as a later file) -- the at-least-once
    redelivery pattern a Kafka restart produces, for exercising streaming
    dedup. Negative indices count from the end."""
    import shutil

    out = stage_stream_dir(sf_dir, name, chunks=chunks, order_col=order_col)
    now = time.time() + chunks + 1
    for j, d in enumerate(dup_chunks):
        i = d % chunks
        src = os.path.join(out, f"chunk_{i:05d}.parquet")
        dst = os.path.join(out, f"redelivery_{j:05d}.parquet")
        shutil.copyfile(src, dst)
        os.utime(dst, (now + j, now + j))
    return out


def stage_stream_dir_with_late(
    sf_dir: str,
    name: str,
    late_mod: int,
    late_rem: int = 0,
    id_col: str = "event_id",
    order_col: str = "ts",
) -> tuple[str, int]:
    """Stage a replay where a deterministic subset of rows arrives LATE:
    rows with ``id_col % late_mod == late_rem`` are withheld from the
    time-ordered chunks and delivered as the final chunk, after the
    watermark has advanced past most of their windows. Returns
    ``(staged_dir, filter_wm_source_ms)`` where the second element is the
    max event time (epoch millis) of the FIRST chunk -- the event-time
    high-water the engine's late-record filter watermark derives from when
    the late chunk is processed.

    Why on-time rows are split in TWO chunks: since SPARK-40925 a stateful
    operator filters late input with the PREVIOUS batch's watermark and
    evicts with the current one, so with a single on-time batch the late
    batch would be filtered against the initial 1970 watermark and nothing
    would ever drop. With chunks [on_time_a, on_time_b, late], the late
    batch's filter watermark is max(on_time_a) - delay.

    This is the planted-late-data harness for the reference's
    Watermark_Expire drop accounting (watermark_assigner_runnable.rs:92-110):
    the selector is a pure modulus so a SQL oracle can reconstruct exactly
    which rows were on time, where the filter watermark stood when the late
    chunk arrived, and therefore which late rows the engine must drop
    versus still aggregate.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, f"{name}.parquet")
    out = scratch_dir(f"rlink_stream_late_{name}_")
    table = pq.read_table(src)
    sort_keys = [(order_col, "ascending")]
    if id_col in table.column_names and order_col != id_col:
        sort_keys.append((id_col, "ascending"))
    table = table.take(pc.sort_indices(table, sort_keys=sort_keys))
    ids = table.column(id_col)
    is_late = pc.equal(
        pc.subtract(ids, pc.multiply(pc.divide(ids, late_mod), late_mod)),
        late_rem,
    )
    on_time = table.filter(pc.invert(is_late))
    late = table.filter(is_late)
    per = (on_time.num_rows + 1) // 2  # same split rule the oracle ranks by
    first = on_time.slice(0, per)
    filter_wm_source_ms = pc.cast(
        pc.max(first.column(order_col)), pa.timestamp("ms"), safe=False
    ).value
    now = time.time()
    for i, chunk in enumerate((first, on_time.slice(per), late)):
        p = os.path.join(out, f"chunk_{i:05d}.parquet")
        pq.write_table(chunk, p)
        os.utime(p, (now + i, now + i))  # replay order = chunk order
    return out, filter_wm_source_ms


def heartbeat_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_ms: list[int],
    key_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Bounded-replay keep-alive source for watermarks.keep_alive_union:
    stage sentinel rows (HEARTBEAT_KEY in key_col, NULL elsewhere) at the
    given event times, with the fixture table's exact schema, and return a
    file stream over them. Deterministic -- the SQL oracle reconstructs the
    watermark these rows advance. Production pipelines use
    watermarks.rate_heartbeats (wall-clock-lagged) instead; a replay has
    no meaningful wall clock."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rlink_rs_spark.streaming.watermarks import HEARTBEAT_KEY

    src = os.path.join(sf_dir, f"{name}.parquet")
    template = pq.read_schema(src)
    out = scratch_dir(f"rlink_stream_hb_{name}_")
    arrays = []
    n = len(ts_ms)
    for field in template:
        if field.name == ts_col:
            unit = getattr(field.type, "unit", "us")
            mult = {"s": 1 / 1000, "ms": 1, "us": 1000, "ns": 1_000_000}[unit]
            arrays.append(
                pa.array([int(t * mult) for t in ts_ms], pa.int64()).cast(field.type)
            )
        elif field.name == key_col:
            arrays.append(pa.array([HEARTBEAT_KEY] * n, field.type))
        else:
            arrays.append(pa.nulls(n, field.type))
    pq.write_table(
        pa.Table.from_arrays(arrays, schema=template),
        os.path.join(out, "heartbeats.parquet"),
    )
    return stream_from_staged(spark, out, sf_dir, name)


def stream_from_staged(
    spark: SparkSession,
    staged_dir: str,
    sf_dir: str,
    name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File stream over an already-staged directory. The checkpoint's source
    log pins the directory path, so a resumed query MUST reuse the same
    staged_dir -- stage once, restart many."""
    reader = spark.readStream
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    path = os.path.join(sf_dir, f"{name}.parquet")
    return read_fixture(spark, path, lambda schema: reader.schema(schema).parquet(staged_dir))


def file_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    max_files_per_trigger: int | None = None,
    chunks: int = 1,
    order_col: str | None = None,
) -> DataFrame:
    """Replay a fixture parquet table as a file stream (schema from the
    batch reader, nanosecond timestamps normalized identically)."""
    stream_dir = stage_stream_dir(sf_dir, name, chunks=chunks, order_col=order_col)
    return stream_from_staged(spark, stream_dir, sf_dir, name, max_files_per_trigger)


def rate_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """RandInputFormat analogue (example-utils/src/rand_input_format.rs:18-52):
    unbounded generator with event time, key, and value columns."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            F.concat(F.lit("key-"), (F.col("value") % 3).cast("string")).alias("name"),
            (F.col("value") % 100).cast("long").alias("value"),
        )
    )


def kafka_source_options(
    topic: str,
    brokers: str,
    starting_offsets: str | dict | None = None,
    starting_timestamp_ms: int | None = None,
) -> dict[str, str]:
    """Kafka reader options covering the reference's three offset seek modes
    (input_format.rs:76-163): checkpoint-resume (default), explicit
    per-partition offsets, and timestamp seek. Returned as options so tests
    can assert construction without a broker."""
    opts = {"kafka.bootstrap.servers": brokers, "subscribe": topic}
    if starting_timestamp_ms is not None:
        opts["startingTimestamp"] = str(starting_timestamp_ms)
    elif isinstance(starting_offsets, dict):
        opts["startingOffsets"] = json.dumps({topic: {str(k): v for k, v in starting_offsets.items()}})
    elif starting_offsets:
        opts["startingOffsets"] = starting_offsets  # "earliest" | "latest"
    return opts


def kafka_stream(spark: SparkSession, **kwargs) -> DataFrame:
    """readStream.format('kafka') with the option set above. Import-guarded:
    the kafka connector jar may be absent in this container."""
    opts = kafka_source_options(**kwargs)
    reader = spark.readStream.format("kafka")
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()
