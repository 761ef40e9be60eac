"""The fixed I/O every query pays before its data: the fixture schema
(inferred by Spark once per file version, never once per read) and the
streaming checkpoint (written through Hadoop's FileSystem API, with the
atomicity and checksums of the default FileContext path)."""

from __future__ import annotations

import os
import tempfile
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql.types import IntegerType, StringType, TimestampType

from rlink_rs_spark import tables
from rlink_rs_spark.streaming.runner import drain
from rlink_rs_spark.streaming.sources import file_stream
from rlink_rs_spark.tables import TABLE_NAMES, load_table

_FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _jobs_in(spark, build) -> int:
    """Spark jobs launched while ``build()`` runs, counted by job group."""
    sc = spark.sparkContext
    group = f"io-floor-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "jobs launched before an action")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker reads listener events
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_fixture_schema_is_spark_inference(spark, sf_dir, name):
    """The memoized schema is exactly what Spark infers under the pinned
    read confs: Spark stays the only source of the schema."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    schema, _ = tables._fixture_schema(spark, path, st.st_size, st.st_mtime_ns)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false"
    assert schema == spark.read.parquet(path).schema
    assert load_table(spark, sf_dir, name).schema.names == schema.names


def test_second_read_of_a_fixture_launches_no_job(spark, sf_dir):
    """Once a fixture's schema is known, building a batch read or a file
    stream of it launches no Spark job before an action."""
    load_table(spark, sf_dir, "orders")
    file_stream(spark, sf_dir, "events")
    assert _jobs_in(spark, lambda: load_table(spark, sf_dir, "orders")) == 0
    assert _jobs_in(spark, lambda: file_stream(spark, sf_dir, "events")) == 0


def test_rewritten_fixture_is_read_with_its_new_layout(spark):
    """A file rewritten at the same path, from nanosecond to microsecond
    timestamps and with a retyped column, reads with its new types and
    instants: neither the schema nor the nanosecond-column answer sticks."""
    d = tempfile.mkdtemp(prefix="rlink_rewrite_")
    path = os.path.join(d, "events.parquet")
    t0 = datetime(2024, 1, 1, 12, 0, 0, 123456, tzinfo=timezone.utc)
    micros = int(t0.timestamp()) * 1_000_000 + t0.microsecond

    pq.write_table(pa.table({
        "id": pa.array([1], pa.int32()),
        "ts": pa.array([micros * 1000 + 789], pa.int64()).cast(pa.timestamp("ns")),
    }), path)
    first = load_table(spark, d, "events")
    assert [f.dataType for f in first.schema] == [IntegerType(), TimestampType()]
    assert first.collect()[0].ts.replace(tzinfo=timezone.utc) == t0

    pq.write_table(pa.table({
        "id": pa.array(["a"], pa.string()),
        "ts": pa.array([micros], pa.int64()).cast(pa.timestamp("us")),
    }), path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    second = load_table(spark, d, "events")
    assert [f.dataType for f in second.schema] == [StringType(), TimestampType()]
    assert second.collect()[0].ts.replace(tzinfo=timezone.utc) == t0


def test_stateful_checkpoint_keeps_its_checksums(spark, sf_dir):
    """Offset and commit log entries keep Hadoop's .crc siblings, and the
    HDFS-backed state store its N.delta files with Spark's N.delta.crc
    checksums (and their own .crc siblings)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key, "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    )
    ck = tempfile.mkdtemp(prefix="rlink_ck_crc_")
    try:
        src = file_stream(spark, sf_dir, "events", max_files_per_trigger=1, chunks=2, order_col="ts")
        q = (
            src.groupBy("event_type").count()
            .writeStream.outputMode("complete").format("memory")
            .queryName(f"ck_crc_{uuid.uuid4().hex[:8]}")
            .option("checkpointLocation", ck).trigger(availableNow=True).start()
        )
        drain(q, what="checkpoint checksum query")
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    for log in ("offsets", "commits"):
        files = set(os.listdir(os.path.join(ck, log)))
        assert {"0", ".0.crc", "1", ".1.crc"} <= files, (log, files)
    store_dirs = [d for d, _, fs in os.walk(os.path.join(ck, "state")) if "1.delta" in fs]
    assert store_dirs
    for d in store_dirs:
        files = set(os.listdir(d))
        assert {"1.delta", ".1.delta.crc", "1.delta.crc", ".1.delta.crc.crc"} <= files, files


def test_create_atomic_refuses_to_overwrite(spark):
    """The session writes checkpoints through the FileSystem manager, and
    that manager still fails createAtomic(overwriteIfPossible=False) over an
    existing file: Spark's metadata log detects a second writer of one
    batch that way."""
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == _FS_MANAGER
    jvm = spark._jvm
    # a streaming query resolves its manager from this conf, SQL confs included
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    root = tempfile.mkdtemp(prefix="rlink_ck_atomic_")
    Path = jvm.org.apache.hadoop.fs.Path
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        Path(root), hconf
    )
    assert manager.getClass().getName() == _FS_MANAGER

    def write(body: bytes) -> None:
        out = manager.createAtomic(Path(os.path.join(root, "0")), False)
        out.write(body)
        out.close()

    write(b"first writer")
    with pytest.raises(Py4JJavaError, match="already exists"):
        write(b"second writer")
    with open(os.path.join(root, "0"), "rb") as f:
        assert f.read() == b"first writer"
