"""CSV / NDJSON source-format scans over the events table.

Reference parity: the reference's connectors deserialize raw byte payloads
into typed rows at the source boundary (the kafka_message schema at
rlink-connectors/connector-kafka/src/lib.rs:44-70 carries BINARY payloads a
user FlatMap then parses); Spark's text-format readers are the same contract
with the parse inside the engine -- schema-pinned, predicate-prunable,
executed by the JVM CSV/JSON parsers (UnivocityParser / Jackson), never a
Python UDF.

Staging: each format is written ONCE per (fixture fingerprint, format) by
Spark itself -- the write path is part of the witness (a corrupted writer
breaks the read-back hashes). The timestamp column is serialized as epoch
MICROS (BIGINT): the lossless text encoding of a timestamp -- default text
timestamp formats truncate to millis, which is exactly the silent-corruption
class the parity queries exist to catch. Doubles round-trip via Java's
shortest-roundtrip Double.toString. The copy commits by the artifact
store's rule (rlink_rs_spark/artifacts.py).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rlink_rs_spark import artifacts
from rlink_rs_spark.tables import load_table

# ts serialized as epoch micros; re-cast on read. Column order is the
# events table order so the read-back select is positionally stable too.
_EVENTS_TEXT_SCHEMA = (
    "event_id BIGINT, ts_us BIGINT, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)

_CSV_OPTS = {"header": "true", "quote": '"', "escape": '"'}

# Folded into the cache path so a staged copy is keyed by WHAT was written,
# not just by the source fixture: changing the serialization schema or the
# CSV quoting contract must miss the cache (ADVICE r12). Derived (stable
# md5, not the seed-randomized builtin hash), not hand-bumped.
import hashlib as _hashlib

_STAGE_TOKEN = _hashlib.md5(
    repr((_EVENTS_TEXT_SCHEMA, sorted(_CSV_OPTS.items()))).encode()
).hexdigest()[:8]


def staged_events(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """Return the events table read back through a staged CSV or NDJSON
    copy (schema-pinned, ts restored to TimestampType). fmt: 'csv'|'json'.

    The copy is committed by artifacts.commit on its own temp-dir path:
    Spark writes a unique sibling dir that is renamed into place, so a
    reader never observes a half-written (or overwrite-deleted) copy."""
    if fmt not in ("csv", "json"):
        raise ValueError(f"unsupported text format: {fmt!r}")
    fp = artifacts.fingerprint(sf_dir, "events")
    path = os.path.join(
        tempfile.gettempdir(), f"rlink_srcfmt_{fmt}_{_STAGE_TOKEN}_{fp}"
    )

    def write(stage: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        if fmt == "csv":
            ev.write.options(**_CSV_OPTS).csv(stage)
        else:
            ev.write.json(stage)

    artifacts.commit(path, write)
    reader = spark.read.schema(_EVENTS_TEXT_SCHEMA)
    scan = (
        reader.options(**_CSV_OPTS).csv(path)
        if fmt == "csv"
        else reader.json(path)
    )
    return scan.select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
