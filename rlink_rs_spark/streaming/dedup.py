"""Streaming deduplication, two faces:

1. `dedup_stream` -- exact row dedup for at-least-once ingest. The
   reference offers only at-least-once delivery (SURVEY §2.8: its
   checkpoint scheme acks "completed checkpoint id" and replays from
   there, rlink/src/runtime/worker/checkpoint.rs), so any consumer
   downstream of a restart sees duplicates. Spark's keyed dedup state
   makes the stream exactly-once-per-key: `dropDuplicatesWithinWatermark`
   keeps one state row per key for at least the watermark delay, then
   evicts -- bounded state at 100 TB, versus `dropDuplicates` whose state
   grows forever.

2. `streaming_incremental_dedup_sink` -- admit a STREAM of documents
   against a persisted corpus LSH band index.

The reference is a streaming engine (rlink/src/core/data_stream.rs:102-247),
so its LLM-pipeline extras should stream too: this is the production intake
shape where new crawl batches arrive continuously and each must be admitted
or rejected against everything already accepted -- without ever re-scanning
the standing corpus.

Per micro-batch (foreachBatch, availableNow):

  1. EXACT stage -- md5(text) left-joined against the static history hash
     set UNION the hashes of all previously processed stream docs (epoch
     state), plus a first-in-micro-batch window for in-batch ties.
  2. NEAR stage -- MinHash band signatures of the micro-batch equi-joined
     against (a) the persisted history band index (the
     `load_or_build_band_index` artifact -- history is never re-shingled),
     (b) the band signatures of all previously processed stream docs
     (epoch state), and (c) itself (id_b < id_a). Candidates verify at
     exact Jaccard >= threshold against the static corpus shingle sets.
  3. Verdicts land in `out_dir/batch_id=N`, and the batch's hashes + band
     signatures land in the state dirs under `batch_id=N` -- OVERWRITE per
     epoch, so a replayed micro-batch after a crash rewrites byte-identical
     output instead of duplicating state: exactly-once, the same epoch-
     idempotence contract as sources/sinks.py's bulk sinks.

Because the stream replays chunks in doc_id order, "previously processed"
equals "smaller doc_id", and the drained result is row-identical to the
batch twin `incremental_batch_dedup` -- which is exactly what lets the
registry entry share its DuckDB oracle.

At 100 TB: state dirs become the metastore-tracked signature/hash tables of
admitted batches (bounded by corpus size / 4 bands, not by stream length);
the static corpus contributes only band-index reads and shingle lookups for
verified candidates.

Compaction (LSM level-0 fold, crashed at every write of a folding
epoch by tests/test_crash_matrix.py):
each epoch reads the union of earlier state dirs, so a long-lived stream
accumulates O(epochs) small dirs. When the committed delta count reaches
`compact_every`, the epoch folds base + deltas into a new
`base_upto=<max folded epoch>` dir -- a DETERMINISTIC union keyed by the
max folded epoch, so a crash mid-fold replays it idempotently (overwrite
of the same dir name, torn dirs have no _SUCCESS and are invisible).
Folded delta dirs and superseded bases are dropped by a GC pass at the
START of the NEXT epoch, never inside the epoch that wrote the base, so a
crash anywhere leaves at least one complete representation on disk.
Readers take the newest committed base plus the deltas above its
watermark; state content is identical before and after a fold.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rlink_rs_spark.operators.dedup import (
    _BAND_SCHEMA,
    minhash_bands,
    shingle_sets,
    verify_jaccard,
)
from rlink_rs_spark.operators.repartition import fan_out
from rlink_rs_spark.streaming.deltas import compact, gc_folded, read_state
from rlink_rs_spark.streaming.epochs import committed, path, read, start


def dedup_stream(
    df: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    delay: str = "1 hour",
) -> DataFrame:
    """Drop duplicate rows per `keys` within the watermark horizon.

    With ts_col set, the stream is watermarked and dedup state for a key is
    dropped once the watermark passes delay beyond its event time (bounded
    state -- the production shape). Without ts_col, falls back to unbounded
    dropDuplicates (exact, state grows with distinct keys)."""
    if ts_col is None:
        return df.dropDuplicates(keys)
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


_HASH_SCHEMA = "doc_id bigint, h string"
_OUT_SCHEMA = "doc_id bigint, exact_dup boolean, near_dup_of bigint, admit boolean"
_OUT_SCHEMA_Q = (
    "doc_id bigint, passes_quality boolean, exact_dup boolean, "
    "near_dup_of bigint, admit boolean"
)


def _thread_target(spark: SparkSession, fn):
    """`fn` carrying the session's local properties and tags into a worker
    thread. With pinned-thread mode off, inheritable_thread_target(spark)
    returns the session itself rather than a decorator; `fn` then runs
    as is, which is what pinned-off threads do anyway."""
    wrap = inheritable_thread_target(spark)
    return fn if wrap is spark else wrap(fn)


def streaming_incremental_dedup_sink(
    doc_stream: DataFrame,
    history: DataFrame,
    hist_banded: DataFrame,
    corpus_sets: DataFrame,
    work_dir: str,
    threshold: float = 0.7,
    n_hashes: int = 16,
    bands: int = 4,
    score_fn=None,
    compact_every: int = 8,
    static_frames_out: list | None = None,
):
    """Wire the admit pipeline as a foreachBatch sink over `doc_stream`
    (columns doc_id, text, ...). `hist_banded` is the history band index
    (load_or_build_band_index) and `corpus_sets` the (doc_id, sh) shingle
    sets (operators.dedup.shingle_sets) of every doc a candidate can name.
    Returns the started StreamingQuery; verdicts accumulate under
    `<work_dir>/out`, next to the state roots and the query's
    `<work_dir>/_checkpoint`.

    `score_fn` (optional) turns this into the FULL intake pipeline: a
    callable mapping the raw micro-batch to (doc_id, passes boolean) --
    e.g. the LM quality gate's map-literal scorer -- joined into the
    verdict as passes_quality, with admit = passes_quality AND not a
    duplicate. Dedup state still records EVERY streamed doc (quality-
    rejected docs remain dedup targets), so the dedup columns stay
    row-identical to the plain sink and the batch twin.

    `compact_every` is the LSM-style fold trigger: once that many delta
    dirs have committed since the last base, the epoch folds them (plus
    the old base) into a new `base_upto=` dir; folded dirs are GC'd at
    the start of the NEXT epoch."""
    spark = doc_stream.sparkSession
    out_dir = os.path.join(work_dir, "out")
    hash_dir = os.path.join(work_dir, "state_hashes")
    band_dir = os.path.join(work_dir, "state_bands")

    # Static frames every epoch re-reads: cache them ONCE for the stream
    # (epoch 0 materializes them) instead of re-aggregating the standing
    # corpus per micro-batch (the r12 plan re-ran the corpus shingle
    # collect_set and the history md5-distinct in every epoch -- a
    # per-epoch constant that dominated fixture-scale wall clock; at 100 TB
    # these are the persisted shingle-set / hash-set artifacts next to the
    # band index).
    hist_hashes = history.select(F.md5("text").alias("h")).distinct().cache()
    # fan_out before the cache (r16 session 4, guide §2.2): the map-side
    # sets projection inherits the docs scan's partitioning, and a one-
    # row-group fixture file would pin the cache build AND every cached-
    # downstream verify join to one task; the layout guard no-ops on
    # genuinely parallel scans.
    corpus_sets = fan_out(corpus_sets).cache()
    if static_frames_out is not None:
        # hand the cached frames back so the caller can unpersist after the
        # drain (identical re-built plans land on the same cache entries,
        # so callers that skip this never balloon the cache either)
        static_frames_out.extend((hist_hashes, corpus_sets))

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        # deferred GC of dirs a PRIOR epoch's fold superseded, then this
        # epoch's fold if the committed-delta count reached the trigger
        gc_folded(hash_dir)
        gc_folded(band_dir)
        compact(spark, hash_dir, _HASH_SCHEMA, epoch_id, compact_every)
        compact(spark, band_dir, _BAND_SCHEMA, epoch_id, compact_every)

        # fan_out the micro-batch before caching: the per-epoch md5 kernel
        # otherwise runs at the file chunk's scan parallelism -- one task
        # per trigger file.
        batch = fan_out(batch_df.select("doc_id", "text")).cache()

        # --- exact stage
        prior_hashes = read_state(spark, hash_dir, _HASH_SCHEMA, epoch_id).select("h").distinct()
        known = hist_hashes.unionByName(prior_hashes).distinct()
        w = Window.partitionBy("h")
        bh = batch.select("doc_id", F.md5("text").alias("h")).withColumn(
            "min_id", F.min("doc_id").over(w)
        )
        ex = bh.join(known.withColumn("in_known", F.lit(True)), "h", "left").select(
            "doc_id",
            "h",
            (
                F.coalesce("in_known", F.lit(False)) | (F.col("min_id") < F.col("doc_id"))
            ).alias("exact_dup"),
        )

        # --- near stage
        batch_banded = minhash_bands(shingle_sets(batch), n_hashes, bands).cache()
        prior_bands = read_state(spark, band_dir, _BAND_SCHEMA, epoch_id)
        bb = batch_banded.select(F.col("doc_id").alias("id_a"), "band", "sig")
        earlier = hist_banded.unionByName(prior_bands).select(
            F.col("doc_id").alias("id_b"), "band", "sig"
        )
        cands_prior = bb.join(earlier, ["band", "sig"]).select("id_a", "id_b")
        cands_self = (
            bb.join(
                batch_banded.select(F.col("doc_id").alias("id_b"), "band", "sig"),
                ["band", "sig"],
            )
            .where(F.col("id_b") < F.col("id_a"))
            .select("id_a", "id_b")
        )
        cands = cands_prior.unionByName(cands_self).distinct()
        near = (
            verify_jaccard(cands, corpus_sets, threshold=threshold)
            .groupBy(F.col("id_a").alias("doc_id"))
            .agg(F.min("id_b").alias("near_dup_of"))
        )

        verdict = ex.join(near, "doc_id", "left").select(
            "doc_id",
            "exact_dup",
            "near_dup_of",
            (~F.col("exact_dup") & F.col("near_dup_of").isNull()).alias("admit"),
        )
        if score_fn is not None:
            # score off the CACHED (doc_id, text) projection -- the gate
            # and the dedup stages share one scan of the micro-batch
            qual = score_fn(batch).select(
                "doc_id", F.col("passes").alias("passes_quality")
            )
            pq = F.coalesce(F.col("passes_quality"), F.lit(False))
            verdict = verdict.join(qual, "doc_id", "left").select(
                "doc_id",
                pq.alias("passes_quality"),
                "exact_dup",
                "near_dup_of",
                (pq & F.col("admit")).alias("admit"),
            )

        # --- epoch-idempotent commits (overwrite THIS epoch's dirs only),
        # submitted CONCURRENTLY (guide §2.6): the three writes share no
        # data dependency -- verdict reads (batch, batch_banded) caches,
        # hash state reads batch, band state reads batch_banded -- and each
        # is a tiny scheduling-bound driver job, so overlapping them hides
        # the two cheap commits under the verdict job. Cache races are safe
        # (BlockManager per-block write locks: one task computes, the other
        # blocks then reads); crash semantics are unchanged because all
        # three are per-epoch overwrites and a replayed epoch rewrites
        # byte-identical dirs whichever subset a crash left behind.
        # Hash-state commit writes bh's (doc_id, h) directly (r16, guide
        # §1.2): `ex` is bh LEFT-joined against the DISTINCT known set, so
        # its (doc_id, h) projection is row-identical to bh's -- routing the
        # state write through `ex` re-evaluated the whole exact stage
        # (hist-union-distinct + membership join) a second time per epoch
        # just to throw the verdict column away. bh reads the cached batch.
        hash_frame = bh.select("doc_id", "h")
        commits = (
            lambda: verdict.write.mode("overwrite").parquet(path(out_dir, epoch_id)),
            lambda: hash_frame.write.mode("overwrite").parquet(path(hash_dir, epoch_id)),
            lambda: batch_banded.write.mode("overwrite").parquet(path(band_dir, epoch_id)),
        )
        with ThreadPoolExecutor(max_workers=len(commits)) as pool:
            futures = [pool.submit(_thread_target(spark, c)) for c in commits]
            for fut in futures:
                fut.result()
        batch.unpersist()
        batch_banded.unpersist()

    return start(doc_stream, handle, work_dir, "update")


def read_verdicts(spark: SparkSession, work_dir: str, with_quality: bool = False) -> DataFrame:
    """All committed verdict rows (one per streamed doc)."""
    schema = _OUT_SCHEMA_Q if with_quality else _OUT_SCHEMA
    out_dir = os.path.join(work_dir, "out")
    return read(spark, [path(out_dir, e) for e in committed(out_dir)], schema)
