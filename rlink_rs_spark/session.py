"""SparkSession factory.

Replaces the reference's entire control plane -- coordinator, resource
manager, heartbeat/restart loop, web server (rlink/src/runtime/coordinator/
mod.rs:65-145) -- with SparkSession + the cluster manager. Tuned defaults
follow the 100 TB design stance: AQE on (runtime re-plan, skew-join,
partition coalescing), shuffle partitions sized to the deployment, Arrow
for the Python boundary, UTC so results are oracle-comparable.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_scratch_root: str | None = None


def scratch_dir(prefix: str) -> str:
    """A fresh directory under this process's scratch root, the one owner of
    every dir a bounded run makes (staged replays, sink roots, checkpoints,
    parquet outputs). The root is one ``rlink_*`` dir in the temp dir, made
    on first use and removed when the process exits, so a lazily read
    result stays valid for the process's lifetime and nothing outlives it."""
    global _scratch_root
    if _scratch_root is None:
        _scratch_root = tempfile.mkdtemp(prefix="rlink_")
        atexit.register(shutil.rmtree, _scratch_root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root)


def get_spark(
    app_name: str = "rlink_rs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    On a real cluster only ``master`` and ``shuffle_partitions`` change;
    every other knob here is sized relative to the deployment, not the data.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    nparts = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nparts))
        .config("spark.default.parallelism", str(nparts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # local mode: one JVM; driver memory is the only pool that matters.
        # Deliberately modest: on this VM an oversized heap (48g) produced
        # erratic 50-170s G1CollectForAllocation stalls (cold heap pages);
        # 8g benchmarked stall-free across the full query registry. Raise
        # via SPARK_GRAFT_DRIVER_MEM for genuinely larger local datasets.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # a long multi-query session (the bench board's chunk JVMs, a full
        # oracle sweep) compiles tens of thousands of generated methods: the
        # 197-query sf0.01 sweep in one JVM peaks at 136 MB of the default
        # 240m code cache (profiled tier 88 of its 117 MB), with no single
        # wide expression left to blame. Once full, HotSpot disables the JIT
        # and every later query runs interpreted (measured 100x slowdowns).
        # Reserve enough to never hit it.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
        # Offset, commit and metadata logs and state files are written through
        # FileSystem, not the default FileContext manager: 11 vs 39 ms per
        # createAtomic on file: (4 cores). Not weaker: FileContext.rename(NONE)
        # reaches AbstractFileSystem.renameInternal's check-then-rename, which
        # ChecksumFs/RawLocalFs keep; .crc siblings are written either way.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
