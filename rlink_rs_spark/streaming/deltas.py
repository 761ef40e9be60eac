"""Generic per-epoch delta sink -- the shared shape of every append-only
streaming index/screen in this repo (inverted-file adds in streaming/
ann.py, posting-table adds in streaming/search_index.py, and the
decontamination screen registered in queries/pipeline_ops.py): each
micro-batch's rows are transformed ON THEIR OWN (no read of prior
state, O(batch) per epoch) and the result commits as the epoch's dir
(streaming/epochs.py); when batches are key-disjoint the union of
committed deltas IS the final state.

LSM level-0 compaction (shared with streaming/dedup.py, which pioneered
the protocol; crashed at every write of a folding epoch by
tests/test_crash_matrix.py): a long-lived stream
accumulates O(epochs) delta dirs, so once the committed delta count
since the last base reaches `compact_every` the epoch folds base +
deltas into a new `base_upto=<max folded epoch>` dir -- a DETERMINISTIC
union keyed by the max folded epoch, so a crash mid-fold replays it
idempotently (overwrite of the same dir name; torn dirs carry no
_SUCCESS and are invisible). Folded delta dirs and superseded bases are
dropped by a GC pass at the START of the NEXT epoch, never inside the
epoch that wrote the base, so a crash anywhere leaves at least one
complete representation on disk. Readers take the newest committed base
plus the deltas above its watermark; state content is identical before
and after a fold.

At 100 TB the fold is what keeps a standing index usable: the base is
one large co-partitioned artifact (term- or cell-partitioned in
production), deltas stay O(compact_every) small dirs, and fold cost
amortizes to O(state / compact_every) per epoch.
"""

from __future__ import annotations

import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from rlink_rs_spark.streaming.epochs import committed, ids, path, read, start

_BASE = "base_upto"


def newest_base(root: str) -> tuple[str | None, int]:
    """Newest committed compaction base under `root` as (path, upto);
    (None, -1) when no fold has happened yet."""
    bases = committed(root, prefix=_BASE)
    return (path(root, bases[-1], _BASE), bases[-1]) if bases else (None, -1)


def _state(root: str, before_epoch: int | None) -> tuple[list[str], list[int]]:
    """(newest committed base, if any; committed delta ids above its
    watermark and below `before_epoch`) -- together exactly the state of
    all committed epochs < before_epoch, fold or no fold."""
    base, upto = newest_base(root)
    return [base] if base is not None else [], committed(root, before_epoch, after=upto)


def read_state(
    spark: SparkSession, root: str, schema: str, before_epoch: int | None
) -> DataFrame:
    base, deltas = _state(root, before_epoch)
    return read(spark, base + [path(root, e) for e in deltas], schema)


def gc_folded(root: str) -> None:
    """Drop delta dirs covered by the newest committed base, plus
    superseded bases -- the deferred half of a fold, run at the START of
    a later epoch so the folding epoch's crash window never deletes the
    only copy of any state."""
    base, upto = newest_base(root)
    if base is None:
        return
    for e in ids(root, before=upto + 1):
        shutil.rmtree(path(root, e), ignore_errors=True)
    for u in ids(root, prefix=_BASE):
        if u != upto:
            shutil.rmtree(path(root, u, _BASE), ignore_errors=True)


def compact(
    spark: SparkSession, root: str, schema: str, before_epoch: int, compact_every: int
) -> None:
    """Fold base + committed deltas below `before_epoch` into a new
    `base_upto=<max delta>` dir once the delta count reaches
    `compact_every`. Deterministic: the output is keyed by the max folded
    epoch and its content is the union of all state <= that epoch, so a
    replayed fold overwrites byte-identical data. Old dirs are NOT removed
    here (see gc_folded)."""
    base, deltas = _state(root, before_epoch)
    if len(deltas) < compact_every:
        return
    read(spark, base + [path(root, e) for e in deltas], schema).write.mode(
        "overwrite"
    ).parquet(path(root, deltas[-1], _BASE))


def delta_sink(
    stream: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    state_dir: str,
    checkpoint: str,
    schema: str | None = None,
    compact_every: int | None = None,
):
    """foreachBatch sink writing transform(batch) as the epoch's delta.
    `transform` must be deterministic and batch-local (it sees only the
    epoch's rows). Returns the started StreamingQuery.

    With `compact_every` set (requires `schema`), each epoch first GCs
    dirs folded by an earlier epoch's base, writes its delta, then folds
    once the committed delta count reaches the trigger."""
    if compact_every is not None and schema is None:
        raise ValueError("compact_every requires schema")
    spark = stream.sparkSession

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if compact_every is not None:
            gc_folded(state_dir)
        if batch_df.isEmpty():
            return
        transform(batch_df).write.mode("overwrite").parquet(path(state_dir, epoch_id))
        if compact_every is not None:
            compact(spark, state_dir, schema, epoch_id + 1, compact_every)

    return start(stream, handle, checkpoint, "append")


def read_deltas(spark: SparkSession, state_dir: str, schema: str) -> DataFrame:
    """The standing state: newest committed base (if a fold has run) plus
    all committed (_SUCCESS) epoch deltas above its watermark, schema
    pinned. Identical to the plain all-deltas union when no fold has
    happened."""
    return read_state(spark, state_dir, schema, None)
