"""The epoch-directory commit protocol every foreachBatch sink shares.

Epoch N of a sink root lives in ``<root>/batch_id=N``, written by epoch N's
handler with overwrite semantics. The commit rule: an epoch dir counts only
once it carries its commit marker, Spark's ``_SUCCESS`` (it lands when the
write job finishes). A crash mid-write, or mid-overwrite of a replayed
epoch, leaves a torn dir without the marker, which readers and replaying
writers skip. Epoch N reads only committed epochs < N and its handler is
deterministic, so a replay rewrites byte-identical dirs: exactly-once on
top of Spark's at-least-once replay (the reference's "completed
checkpoint id").

A sink writing several roots per epoch counts the epoch only when it is
committed in EVERY root (``latest(a, b)``), so a crash between the writes
hides it as a unit. A sink whose epoch is more than one Spark write passes
its own marker (CDC's ``_COMMITTED``); the LSM fold's bases use the prefix
``base_upto``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def path(root: str, epoch: int, prefix: str = "batch_id") -> str:
    return os.path.join(root, f"{prefix}={epoch}")


def ids(
    root: str, before: int | None = None, after: int | None = None, prefix: str = "batch_id"
) -> list[int]:
    """Numerically sorted ids of every ``<prefix>=N`` dir under `root` with
    after < N < before (None: unbounded), torn dirs included (for GC)."""
    if not os.path.isdir(root):
        return []
    head = prefix + "="
    out = []
    for d in os.listdir(root):
        if d.startswith(head):
            i = int(d[len(head):])
            if (after is None or after < i) and (before is None or i < before):
                out.append(i)
    return sorted(out)


def committed(
    root: str,
    before: int | None = None,
    after: int | None = None,
    prefix: str = "batch_id",
    marker: str = "_SUCCESS",
) -> list[int]:
    """Numerically sorted ids in (after, before) whose dir carries `marker`."""
    return [
        i for i in ids(root, before, after, prefix)
        if os.path.exists(os.path.join(path(root, i, prefix), marker))
    ]


def latest(*roots: str, before: int | None = None) -> int | None:
    """Newest id below `before` that is committed in every root."""
    common = set(committed(roots[0], before))
    for root in roots[1:]:
        common &= set(committed(root, before))
    return max(common, default=None)


def read(spark: SparkSession, paths: list[str], schema: str) -> DataFrame:
    """Pinned-schema union of `paths`; an empty frame of `schema` if none."""
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def start(stream: DataFrame, handle, checkpoint: str, mode: str):
    """Start `handle` as the stream's foreachBatch sink over the available
    input; callers end it with runner.drain."""
    return (
        stream.writeStream.outputMode(mode)
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
