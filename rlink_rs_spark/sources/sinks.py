"""Sink library -- the reference's output formats re-expressed.

Reference inventory (SURVEY.md §2.1) -> here:
  * PrintOutputFormat/print_sink (functions/sink/print.rs:11-113, header +
    rows incl. window bounds) -> console_sink / print formatting.
  * KafkaOutputFormat (connector-kafka/src/sink/output_format.rs) ->
    kafka_sink_writer options (jar may be absent; construction tested).
  * ElasticsearchOutputFormat (connector-elasticsearch/src/
    elasticsearch_sink.rs:57-118, async bulk indexing via internal
    channel) -> foreach_batch_sink with a bulk-callback: Spark's
    foreachBatch IS the batched handover, exactly-once via epoch id.
  * ClickhouseSink (connector-clickhouse/src/clickhouse_sink.rs:27-102,
    batch_size + batch_timeout buffering) -> same foreachBatch shape; the
    micro-batch replaces the timeout-flushed buffer.
  * File sinks (absent in reference): parquet/csv/json via writeStream.

At 100 TB: foreachBatch callbacks receive partitioned DataFrames -- bulk
writes parallelize per partition via df.foreachPartition inside the
callback, never collect()."""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def console_sink(stream_df: DataFrame, checkpoint: str, num_rows: int = 20) -> StreamingQuery:
    """print_sink analogue; window struct columns render their bounds like
    the reference's header+row printer."""
    return (
        stream_df.writeStream.outputMode("append")
        .format("console")
        .option("numRows", num_rows)
        .option("truncate", "false")
        .option("checkpointLocation", checkpoint)
        .start()
    )


def parquet_sink(stream_df: DataFrame, path: str, checkpoint: str) -> StreamingQuery:
    """Fault-tolerant file sink (exactly-once via the _spark_metadata
    manifest) -- used by the checkpoint kill/resume tests."""
    return (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .start()
    )


BulkWriter = Callable[[list[dict[str, Any]], int], None]


def foreach_batch_sink(
    stream_df: DataFrame,
    bulk_write: BulkWriter,
    checkpoint: str,
    max_batch_rows: int | None = None,
    output_mode: str = "append",
) -> StreamingQuery:
    """ES/ClickHouse-shaped bulk sink: per micro-batch, hand row-dict chunks
    plus the epoch id to `bulk_write` (which targets the external system;
    idempotence keyed on epoch_id gives exactly-once -- stronger than the
    reference's at-least-once channel+writer task). The target is
    external, so the caller owns `checkpoint`.

    The reference buffers rows until batch_size/batch_timeout
    (clickhouse_sink.rs:27-102); here the micro-batch is the buffer and
    max_batch_rows re-chunks oversized batches."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        def write_partition(rows_iter):
            buf: list[dict[str, Any]] = []
            for row in rows_iter:
                buf.append(row.asDict())
                if max_batch_rows and len(buf) >= max_batch_rows:
                    bulk_write(buf, epoch_id)
                    buf = []
            if buf:
                bulk_write(buf, epoch_id)

        batch_df.foreachPartition(write_partition)

    return (
        stream_df.writeStream.outputMode(output_mode)
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def kafka_sink_options(topic: str, brokers: str) -> dict[str, str]:
    """KafkaOutputFormat analogue: writeStream.format('kafka') option set.
    Payload must be pre-shaped into key/value columns (the reference's
    OutputMapperFunction, example-kafka/src/output_mapper.rs:1-57)."""
    return {"kafka.bootstrap.servers": brokers, "topic": topic}
