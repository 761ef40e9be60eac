"""Streaming CDC MERGE -- continuous upsert maintenance of a persisted
snapshot, the streaming twin of queries/relational.merge_upsert_snapshot.

The snapshot lives as a BUCKETED copy-on-write artifact: rows hash into
``N_BUCKETS`` fixed buckets by merge key, and each micro-batch of change
events (insert / update / delete) rewrites ONLY the buckets its keys
touch -- the file-level pruning that real MERGE engines (Delta, Iceberg,
Hudi) rely on, expressed as a directory protocol:

    <work>/snap/batch_id=-1/bucket=B/...   the base snapshot (all buckets)
    <work>/snap/batch_id=N/bucket=B/...    buckets rewritten by epoch N

The CURRENT version of bucket B is its newest committed ``batch_id``
dir; reading the snapshot is one union over the per-bucket newest
versions, O(1) dirs per bucket regardless of stream length.

Committed means the dir carries OUR ``_COMMITTED`` sentinel, written
only after the epoch's FULL directory state exists -- the parquet files
AND the empty placeholder dirs for touched buckets the epoch emptied.
Spark's ``_SUCCESS`` cannot be the commit record here: it lands when the
parquet job finishes, BEFORE the placeholder ``makedirs`` loop, so a
crash in that window would leave a committed-looking epoch whose emptied
buckets silently resolve to their stale pre-delete version (deleted-row
resurrection, ADVICE r9). With the sentinel, a torn epoch is invisible
as a unit and checkpoint replay rewrites it byte-identically.

Epoch protocol: streaming/epochs.py with the ``_COMMITTED`` marker in
place of ``_SUCCESS``; the base snapshot is epoch -1.

At 100 TB: the snapshot NEVER fully rewrites. A change batch touching k
of NB buckets costs one broadcast anti-join over k buckets' rows plus a
k-bucket write; NB scales with corpus size so per-bucket rewrite stays
bounded. The changed-bucket list is a <= NB-row collect (bounded by
config, not data). Superseded bucket versions are garbage-collected at
the START of each epoch (``_gc_superseded``): when epoch N begins, every
epoch < N is checkpoint-acked (foreachBatch for N only fires after N-1's
commit returned), so for each bucket only the newest committed version
among epochs < N can ever be read again -- older versions delete safely,
and a crash mid-GC just replays the idempotent deletions. Version chains
therefore stay O(1) per bucket, not O(epochs).

Reference parity: the reference has no MERGE operator; this closes the
continuous-upsert warehouse shape its sink surface (clickhouse_sink.rs:
27-102 batches plain inserts) stops short of, composed from pieces the
repo already proves (foreachBatch exactly-once, artifact carriers,
shared batch/stream oracles).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rlink_rs_spark.streaming.epochs import committed, ids, path, read, start

N_BUCKETS = 8

# Epoch commit sentinel: present only once the epoch dir is COMPLETE
# (parquet + empty-bucket placeholders). See module docstring.
COMMIT_MARKER = "_COMMITTED"


def _mark_committed(epoch_dir: str) -> None:
    with open(os.path.join(epoch_dir, COMMIT_MARKER), "w"):
        pass


def _committed(snap_dir: str, before_epoch: int | None) -> list[int]:
    return committed(snap_dir, before_epoch, marker=COMMIT_MARKER)


_SNAP_SCHEMA = (
    "doc_id bigint, content_md5 string, lang string, source string, "
    "n_chars bigint, version int"
)

# Schema v2 (ADD COLUMN rev int): reader-side evolution -- Spark fills a
# declared column that is absent from old parquet files with NULL, so
# buckets written before the evolution epoch need no rewrite.
_SNAP_SCHEMA_V2 = _SNAP_SCHEMA + ", rev int"


def _bucket(col):
    return F.pmod(F.xxhash64(col.cast("bigint")), F.lit(N_BUCKETS)).cast("int")


def derive_cdc_changes(docs: DataFrame) -> DataFrame:
    """The deterministic changefeed both twins share (rules documented in
    relational._MERGE_ORACLE): doc_id % 13 deletes (delete wins on rule
    overlap), % 7 updates, % 50 spawns an insert in a disjoint key range.
    Deriving per micro-batch is exactly-once because each doc_id arrives
    in exactly one replay chunk."""
    deletes = docs.where(F.col("doc_id") % 13 == 0).select(
        "doc_id", F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("bigint").alias("n_chars"),
    )
    updates = docs.where(
        (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 13 != 0)
    ).select(
        "doc_id", F.lit("U").alias("op"),
        F.concat(F.lit("v2:"), F.col("text")).alias("text"),
        "lang", "source",
        (F.col("n_chars") + 3).alias("n_chars"),
    )
    inserts = docs.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 10000000).alias("doc_id"), F.lit("I").alias("op"),
        F.concat(F.lit("new:"), F.col("text")).alias("text"),
        "lang", F.lit("backfill").alias("source"),
        (F.col("n_chars") + 4).alias("n_chars"),
    )
    return deletes.unionByName(updates).unionByName(inserts)


def write_base_snapshot(docs: DataFrame, work_dir: str) -> None:
    """Materialize the version-0 snapshot as batch_id=-1, partitioned by
    bucket -- the state every later epoch's per-bucket reads key off."""
    snap = docs.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        "lang", "source", "n_chars",
        F.lit(0).cast("int").alias("version"),
    ).withColumn("bucket", _bucket(F.col("doc_id")))
    base_dir = path(os.path.join(work_dir, "snap"), -1)
    snap.write.mode("overwrite").partitionBy("bucket").parquet(base_dir)
    _mark_committed(base_dir)


def _bucket_versions(snap_dir: str, before_epoch: int | None) -> dict[int, str]:
    """{bucket: path of its newest committed version among epochs < N}.
    Committed = the epoch dir carries OUR _COMMITTED sentinel (written
    after parquet AND empty-bucket placeholders; Spark's _SUCCESS alone
    is a torn epoch); a crash-epoch is invisible to both replaying
    writers and readers as a unit."""
    out: dict[int, str] = {}
    for eid in reversed(_committed(snap_dir, before_epoch)):
        edir = path(snap_dir, eid)
        for sub in os.listdir(edir):
            if sub.startswith("bucket="):
                out.setdefault(int(sub.split("=", 1)[1]), os.path.join(edir, sub))
    return out


def changed_buckets(
    work_dir: str, from_epoch: int | None, to_epoch: int | None
) -> set[int]:
    """Buckets whose resolved newest committed version differs between two
    as-of bounds -- the file-level pruning set for a version diff: a bucket
    resolving to the SAME committed file at both bounds cannot contain
    differing rows, so a diff reads only this set (at 100 TB that is the
    touched fraction of the table, not the table)."""
    a = _bucket_versions(os.path.join(work_dir, "snap"), from_epoch)
    b = _bucket_versions(os.path.join(work_dir, "snap"), to_epoch)
    return {k for k in set(a) | set(b) if a.get(k) != b.get(k)}


def read_snapshot(
    spark: SparkSession,
    work_dir: str,
    before_epoch: int | None,
    buckets: set[int] | None = None,
    schema: str = _SNAP_SCHEMA,
) -> DataFrame:
    """Union the per-bucket newest committed versions (optionally only the
    listed buckets). Schema is pinned: leaf bucket dirs carry no partition
    column and an empty selection must still have the snapshot shape.
    Passing a WIDER schema than some buckets were written with is the
    evolution read path -- missing columns surface as NULL."""
    vers = _bucket_versions(os.path.join(work_dir, "snap"), before_epoch)
    paths = [p for b, p in vers.items() if buckets is None or b in buckets]
    return read(spark, paths, schema)


def _gc_superseded(snap_dir: str, before_epoch: int) -> None:
    """Delete bucket versions superseded by a newer committed epoch < N.

    Safe because the caller is epoch N's handler: every epoch < N is past
    its checkpoint ack (micro-batches are serial), so no future replay can
    read anything but the newest committed version per bucket among
    epochs < N. Deletion is idempotent -- a crash mid-GC replays it."""
    import shutil

    keep = set(_bucket_versions(snap_dir, before_epoch).values())
    live = set(_committed(snap_dir, before_epoch))
    for eid in ids(snap_dir, before_epoch):
        edir = path(snap_dir, eid)
        if eid not in live:
            # torn crash-epoch (even if Spark's _SUCCESS landed, the
            # placeholder loop didn't): nothing can read it, drop it
            shutil.rmtree(edir, ignore_errors=True)
            continue
        for sub in os.listdir(edir):
            p = os.path.join(edir, sub)
            if sub.startswith("bucket=") and p not in keep:
                shutil.rmtree(p, ignore_errors=True)
        # an epoch dir whose bucket versions are all superseded is a husk
        # (only markers left); on an unbounded stream husks are O(epochs)
        # of directory growth -- exposed by the 100-epoch soak witness.
        # Nothing reads a committed epoch dir except through its bucket=
        # subdirs, so dropping the empty shell is safe and idempotent.
        if not any(s.startswith("bucket=") for s in os.listdir(edir)):
            shutil.rmtree(edir, ignore_errors=True)


def apply_merge_epoch(
    spark: SparkSession,
    work_dir: str,
    batch_df: DataFrame,
    epoch_id: int,
    evolve_rev_from: int | None = None,
    contiguous_keys: bool = False,
) -> None:
    """Apply one epoch's derived changefeed to the bucketed snapshot --
    the deterministic core both the streaming handler and direct unit
    tests drive. Touched buckets that end the epoch EMPTY (every row
    deleted, nothing upserted) are still materialized as empty bucket
    dirs: partitionBy skips empty partitions, and an absent dir would
    make readers fall back to the stale pre-delete version.

    ``contiguous_keys`` (r16, guide §8 "use what you know that the
    optimizer does not"): the staged replay delivers each micro-batch as a
    CONTIGUOUS doc_id slice of the sorted corpus (stage_stream_dir with
    order_col=doc_id), so the change-key set is a pure function of the
    batch's [min, max] doc_id range -- snapshot row r is a change key iff
    (r in [lo,hi] AND (r%13==0 OR r%7==0)) OR (r-10M in [lo,hi] AND
    (r-10M)%50==0). With the flag on, ONE narrow agg over the batch
    (min/max + conditional collect_set of buckets, map-side combined)
    replaces BOTH the 3-branch-union touched-bucket collect job and the
    broadcast-exchange build of the anti-join key set, and the anti-join
    itself becomes a map-side filter over the touched buckets' rows. Only
    callers whose batches satisfy the contiguity precondition may pass it
    (the registry queries' staged streams do; arbitrary direct callers
    keep the key-set anti-join). Equivalence is pytest-pinned against the
    default path and oracle-checked end to end."""
    d = F.col("doc_id")
    if contiguous_keys:
        stats = batch_df.agg(
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
            F.collect_set(
                F.when((d % 13 == 0) | (d % 7 == 0), _bucket(d))
            ).alias("b_du"),
            F.collect_set(
                F.when(d % 50 == 0, _bucket(d + 10000000))
            ).alias("b_i"),
        ).collect()[0]
        touched = set(stats.b_du) | set(stats.b_i)
    else:
        stats = None
        changes_for_keys = derive_cdc_changes(batch_df).withColumn(
            "bucket", _bucket(d)
        )
        # bounded collect: <= N_BUCKETS rows by construction
        touched = {
            r[0] for r in changes_for_keys.select("bucket").distinct().collect()
        }
    if not touched:
        return
    changes = derive_cdc_changes(batch_df).withColumn("bucket", _bucket(d))
    wide = evolve_rev_from is not None and epoch_id >= evolve_rev_from
    current = read_snapshot(
        spark, work_dir, epoch_id, buckets=touched,
        schema=_SNAP_SCHEMA_V2 if wide else _SNAP_SCHEMA,
    )
    if contiguous_keys:
        lo, hi = int(stats.lo), int(stats.hi)
        is_change_key = (
            d.between(lo, hi) & ((d % 13 == 0) | (d % 7 == 0))
        ) | ((d - 10000000).between(lo, hi) & ((d - 10000000) % 50 == 0))
        untouched = current.where(~is_change_key)
    else:
        untouched = current.join(
            F.broadcast(changes.select("doc_id").distinct()), "doc_id", "left_anti"
        )
    upserts = changes.where(F.col("op") != "D").select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        "lang", "source", "n_chars",
        F.lit(1).cast("int").alias("version"),
    )
    if wide:
        upserts = upserts.withColumn("rev", F.lit(1).cast("int"))
    merged = untouched.unionByName(upserts).withColumn(
        "bucket", _bucket(F.col("doc_id"))
    )
    edir = path(os.path.join(work_dir, "snap"), epoch_id)
    merged.write.mode("overwrite").partitionBy("bucket").parquet(edir)
    for b in touched:
        os.makedirs(os.path.join(edir, f"bucket={b}"), exist_ok=True)
    # Commit LAST: only now are the parquet files and the empty-bucket
    # placeholders all present. A crash anywhere above leaves the epoch
    # sentinel-less -> invisible as a unit -> replay rewrites it.
    _mark_committed(edir)


def streaming_merge_sink(
    doc_stream: DataFrame,
    work_dir: str,
    checkpoint: str,
    retain: int = 0,
    evolve_rev_from: int | None = None,
    contiguous_keys: bool = False,
):
    """foreachBatch sink applying each micro-batch's derived changefeed to
    the bucketed snapshot: anti-join the touched buckets' current rows
    against the (broadcast) change keys, union the upserts, rewrite only
    those buckets under batch_id=N. Returns the started StreamingQuery.

    ``retain`` is the time-travel retention window (Delta's
    VACUUM-retention shape): GC only prunes versions superseded within
    epochs < N - retain, so ``read_snapshot(..., before_epoch=E+1)`` is
    exact for any epoch E >= N - retain - 1. retain=0 keeps only the
    current version per bucket.

    ``evolve_rev_from`` simulates mid-stream ADD COLUMN: epochs >= it
    read and write schema v2 (+ rev int, upserts stamped rev=1) while
    earlier epochs stay on v1 -- old buckets are NEVER rewritten for the
    evolution; the wide reader fills their missing column with NULL. The
    epoch -> schema mapping is a pure function of epoch_id, so crash
    replays still rewrite byte-identical buckets."""
    spark = doc_stream.sparkSession

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        _gc_superseded(os.path.join(work_dir, "snap"), epoch_id - retain)
        apply_merge_epoch(
            spark, work_dir, batch_df, epoch_id,
            evolve_rev_from=evolve_rev_from,
            contiguous_keys=contiguous_keys,
        )

    return start(doc_stream, handle, checkpoint, "update")


def read_merged_snapshot(spark: SparkSession, work_dir: str) -> DataFrame:
    """Drain: the per-bucket newest committed versions across all epochs."""
    return read_snapshot(spark, work_dir, None)


def _live_file_counts(work_dir: str) -> dict[int, int]:
    """{bucket: parquet part-file count of its CURRENT resolved version}.
    A bounded listdir over <= N_BUCKETS dirs -- the same metadata scan a
    transaction log would answer from its manifest."""
    vers = _bucket_versions(os.path.join(work_dir, "snap"), None)
    return {
        b: sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
        for b, p in vers.items()
    }


def optimize_snapshot(
    spark: SparkSession,
    work_dir: str,
    max_files_per_bucket: int = 1,
    schema: str = _SNAP_SCHEMA,
) -> dict[str, int]:
    """Delta-style OPTIMIZE (bin-packing small-file compaction) for the
    bucketed copy-on-write snapshot: every bucket whose CURRENT version
    holds more parquet part-files than ``max_files_per_bucket`` is
    rewritten -- rows unchanged -- as a single file under a fresh synthetic
    epoch ``batch_id=<max committed id + 1>``. Readers resolve to it
    through the ordinary newest-committed rule; nothing about the read
    path knows OPTIMIZE exists.

    Time travel is preserved: the optimize epoch id is GREATER than every
    data epoch, so any as-of read bounded at or below the last data epoch
    still resolves the original version chain. GC is deliberately NOT run
    here -- retention policy stays with the stream's epoch handler.

    Crash-safe by the same sentinel protocol as data epochs: the rewrite
    commits via _COMMITTED last, so a crash mid-OPTIMIZE leaves a torn,
    invisible dir and a retry recomputes the same id idempotently
    (mode=overwrite). Concurrent writers are excluded by construction --
    OPTIMIZE runs where maintenance jobs run in real lakehouses, between
    stream epochs (foreachBatch handlers are serial).

    SCOPE CONSTRAINT: run only on a DRAINED snapshot (or a copy, as the
    registry query does). The synthetic epoch id lives in the same
    integer version sequence Spark's checkpoint assigns to data epochs,
    so a stream RESUMED after an in-place OPTIMIZE would eventually
    reuse the id (overwriting the compacted version while reading it)
    or commit below it (its changes shadowed by the higher optimize id).
    Supporting optimize-between-live-epochs needs a transaction log that
    assigns logical versions at commit time -- the Delta/Iceberg design
    -- which this directory protocol deliberately does not replicate.

    At 100 TB: cost is O(rows in fat buckets), file-count discovery is a
    manifest-sized listdir, and untouched buckets are never read. Returns
    {"compacted_buckets": k, "files_before": m, "files_after": n}.

    Reference parity: the reference has no table-maintenance surface at
    all (clickhouse_sink.rs:27-102 relies on ClickHouse's own merges);
    this is the maintenance half a snapshot store needs once it owns its
    files."""
    counts = _live_file_counts(work_dir)
    fat = {b for b, c in counts.items() if c > max_files_per_bucket}
    before = sum(counts.values())
    if not fat:
        return {"compacted_buckets": 0, "files_before": before, "files_after": before}
    snap_dir = os.path.join(work_dir, "snap")
    opt_id = _committed(snap_dir, None)[-1] + 1
    rows = read_snapshot(spark, work_dir, None, buckets=fat, schema=schema)
    # one shuffle partition per fat bucket -> exactly one output file each
    compacted = rows.withColumn("bucket", _bucket(F.col("doc_id"))).repartition(
        len(fat), "bucket"
    )
    edir = path(snap_dir, opt_id)
    compacted.write.mode("overwrite").partitionBy("bucket").parquet(edir)
    for b in fat:  # a fat bucket is never empty, but keep the invariant total
        os.makedirs(os.path.join(edir, f"bucket={b}"), exist_ok=True)
    _mark_committed(edir)
    after_counts = _live_file_counts(work_dir)
    return {
        "compacted_buckets": len(fat),
        "files_before": before,
        "files_after": sum(after_counts.values()),
    }
