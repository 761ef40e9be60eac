"""Long-stream soak witnesses (VERDICT r13 #3).

Every other streaming test replays 2-8 micro-batches; the LSM compaction
fold (streaming/deltas.py, streaming/dedup.py) and the CDC bucket GC had
never run more than a couple of cycles in one stream. These drive ~100
epochs through the intake/dedup and CDC merge sinks at small batch size
and pin the unbounded-stream invariants the reference's daemon sources
assume (source_runnable.rs runs forever):

  * per-epoch wall time FLAT across the run -- no O(epochs) term from
    state accumulation (the delta-read path folds away) or GC debt;
  * on-disk state dir count BOUNDED by the fold cadence, never O(epochs);
  * the drained result byte-identical to the batch twin, fold or no fold.

Measured shape at sf0.001 (committed in SCALING.md): 99 dedup epochs in
~160s with Q2/Q4 epoch medians 1.43s/1.45s and 4 deltas + 1 base left
after ~12 folds.
"""

from __future__ import annotations

import os
import statistics
import tempfile

import pytest
from pyspark.sql import functions as F

from rlink_rs_spark.tables import load_table

pytestmark = pytest.mark.slow

_EPOCHS = 100


def _epoch_medians(durs: list[float]) -> tuple[float, float]:
    """(median of 2nd quartile, median of 4th quartile) -- Q1 absorbs JVM
    warmup, Q4 is where an O(epochs) term would show."""
    qn = len(durs) // 4
    return statistics.median(durs[qn : 2 * qn]), statistics.median(durs[3 * qn :])


def test_soak_intake_dedup_100_epochs(spark, sf_dir):
    from rlink_rs_spark.operators.dedup import load_or_build_band_index, shingle_sets
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.dedup import (
        _BANDS,
        _INCR_THR,
        _N_HASHES,
        _documents_fingerprint,
    )
    from rlink_rs_spark.streaming.dedup import (
        read_verdicts,
        streaming_incremental_dedup_sink,
    )
    from rlink_rs_spark.streaming.metrics import ProgressCollector
    from rlink_rs_spark.streaming.sources import stage_stream_dir, stream_from_staged

    docs = load_table(spark, sf_dir, "documents")
    history = docs.where(F.col("doc_id") % 4 != 0)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    hist_banded = load_or_build_band_index(
        spark,
        shingle_sets(history),
        cache_dir=os.path.join(repo_root, "artifacts", "lsh_band_index"),
        fingerprint=_documents_fingerprint(sf_dir),
        n_hashes=_N_HASHES,
        bands=_BANDS,
    )
    staged = stage_stream_dir(sf_dir, "documents", chunks=_EPOCHS, order_col="doc_id")
    work_dir = tempfile.mkdtemp(prefix="rlink_soak_dedup_")
    src = stream_from_staged(
        spark, staged, sf_dir, "documents", max_files_per_trigger=1
    ).where(F.col("doc_id") % 4 == 0)

    collector = ProgressCollector()
    spark.streams.addListener(collector)
    try:
        q = streaming_incremental_dedup_sink(
            src,
            history,
            hist_banded,
            shingle_sets(docs),
            work_dir=work_dir,
            threshold=_INCR_THR,
            n_hashes=_N_HASHES,
            bands=_BANDS,
            compact_every=8,
        )
        assert q.awaitTermination(1800), "soak stream did not drain"
        assert q.exception() is None
    finally:
        spark.streams.removeListener(collector)

    assert len(collector.progress) >= _EPOCHS - 5
    durs = [p["triggerMs"] for p in collector.progress if p.get("triggerMs")]
    q2, q4 = _epoch_medians(durs)
    # flat per-epoch wall: ~12 folds + repeated GC in between; an O(epochs)
    # state term would push Q4 well past Q2 (observed ratio ~1.02)
    assert q4 <= 2.0 * q2, f"per-epoch wall grew across the soak: Q2={q2} Q4={q4}"

    # state dirs bounded by the fold cadence, not the epoch count
    for d in ("state_hashes", "state_bands"):
        names = os.listdir(os.path.join(work_dir, d))
        deltas = [x for x in names if x.startswith("batch_id=")]
        bases = [x for x in names if x.startswith("base_upto=")]
        assert len(deltas) <= 8 + 1, (d, sorted(deltas))
        assert len(bases) <= 2, (d, sorted(bases))

    # 100-chunk replay drains to exactly the batch twin
    got = {tuple(r) for r in read_verdicts(spark, work_dir).collect()}
    want = {
        tuple(r)
        for r in REGISTRY["incremental_batch_dedup"].fn(spark, sf_dir).collect()
    }
    assert got == want and got


def test_soak_cdc_merge_100_epochs(spark, sf_dir):
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.streaming.cdc import (
        _live_file_counts,
        read_merged_snapshot,
        streaming_merge_sink,
        write_base_snapshot,
    )
    from rlink_rs_spark.streaming.metrics import ProgressCollector
    from rlink_rs_spark.streaming.sources import stage_stream_dir, stream_from_staged

    work_dir = tempfile.mkdtemp(prefix="rlink_soak_cdc_")
    write_base_snapshot(load_table(spark, sf_dir, "documents"), work_dir)
    staged = stage_stream_dir(sf_dir, "documents", chunks=_EPOCHS, order_col="doc_id")
    src = stream_from_staged(
        spark, staged, sf_dir, "documents", max_files_per_trigger=1
    )

    collector = ProgressCollector()
    spark.streams.addListener(collector)
    try:
        q = streaming_merge_sink(
            src.select("doc_id", "text", "lang", "source", "n_chars"),
            work_dir=work_dir,
        )
        assert q.awaitTermination(1800), "soak CDC stream did not drain"
        assert q.exception() is None
    finally:
        spark.streams.removeListener(collector)

    assert len(collector.progress) >= _EPOCHS - 5
    durs = [p["triggerMs"] for p in collector.progress if p.get("triggerMs")]
    q2, q4 = _epoch_medians(durs)
    assert q4 <= 2.0 * q2, f"per-epoch wall grew across the soak: Q2={q2} Q4={q4}"

    # retention GC (retain=0) keeps one live version per bucket: per-bucket
    # file counts O(1) (set by writer parallelism, never by epoch count)
    # and superseded epoch dirs -- including emptied husks -- pruned, so
    # on-disk directory count is O(buckets), not O(epochs). The husk prune
    # is the defect this soak found on first run: 84 empty batch_id dirs
    # after 99 epochs before the _gc_superseded fix.
    files = _live_file_counts(work_dir)
    assert files and max(files.values()) <= 16
    snap = os.path.join(work_dir, "snap")
    live_epoch_dirs = [d for d in os.listdir(snap) if d.startswith("batch_id=")]
    assert len(live_epoch_dirs) <= len(files) + 2, sorted(live_epoch_dirs)[:10]

    got = {tuple(r) for r in read_merged_snapshot(spark, work_dir).collect()}
    want = {
        tuple(r) for r in REGISTRY["merge_upsert_snapshot"].fn(spark, sf_dir).collect()
    }
    assert got == want and got


def test_soak_ivf_index_add_100_epochs(spark, sf_dir):
    """VERDICT r14 #4: the index-maintenance sinks share streaming/deltas.py
    with the dedup soak but had never run >8 folds in one stream -- the CDC
    husk-dir leak hid in exactly this class. 100 epochs through the IVF
    inverted-file sink: per-epoch wall flat, delta/base dir counts bounded
    by the fold cadence, and the drained index byte-identical to the batch
    assignment."""
    from rlink_rs_spark.operators import similarity as sim_ops
    from rlink_rs_spark.operators.similarity import ivf_assign
    from rlink_rs_spark.queries.similarity import (
        _DIMS,
        _IVF_CELLS,
        _IVF_ITERS,
        _artifact_dir,
        _embeddings_fingerprint,
    )
    from rlink_rs_spark.streaming.ann import (
        read_inverted_file,
        streaming_index_add_sink,
    )
    from rlink_rs_spark.streaming.metrics import ProgressCollector
    from rlink_rs_spark.streaming.sources import stage_stream_dir, stream_from_staged

    emb = load_table(spark, sf_dir, "embeddings")
    codebook = sim_ops.load_or_train_ivf_codebook(
        spark,
        emb,
        dims=_DIMS,
        cache_dir=_artifact_dir("ivf_codebooks"),
        fingerprint=_embeddings_fingerprint(sf_dir),
        n_cells=_IVF_CELLS,
        iters=_IVF_ITERS,
    )
    staged = stage_stream_dir(sf_dir, "embeddings", chunks=_EPOCHS, order_col="vec_id")
    state_dir = tempfile.mkdtemp(prefix="rlink_soak_ivf_")
    src = stream_from_staged(
        spark, staged, sf_dir, "embeddings", max_files_per_trigger=1
    )

    collector = ProgressCollector()
    spark.streams.addListener(collector)
    try:
        q = streaming_index_add_sink(
            src.select("vec_id", "embedding"),
            codebook=codebook,
            state_dir=state_dir,
            dims=_DIMS,
            compact_every=8,
        )
        assert q.awaitTermination(1800), "soak IVF stream did not drain"
        assert q.exception() is None
    finally:
        spark.streams.removeListener(collector)

    assert len(collector.progress) >= _EPOCHS - 5
    durs = [p["triggerMs"] for p in collector.progress if p.get("triggerMs")]
    q2, q4 = _epoch_medians(durs)
    assert q4 <= 2.0 * q2, f"per-epoch wall grew across the soak: Q2={q2} Q4={q4}"

    # ~12 folds: deltas bounded by the cadence, bases GC'd to the newest
    # (plus at most one superseded survivor mid-GC)
    names = os.listdir(state_dir)
    deltas = [x for x in names if x.startswith("batch_id=")]
    bases = [x for x in names if x.startswith("base_upto=")]
    print(f"soak-ivf epoch-median Q2={q2}ms Q4={q4}ms deltas={len(deltas)} bases={len(bases)}")
    assert len(deltas) <= 8 + 1, sorted(deltas)
    assert len(bases) <= 2, sorted(bases)

    got = {tuple(r) for r in read_inverted_file(spark, state_dir).collect()}
    want = {tuple(r) for r in ivf_assign(emb, codebook, _DIMS).collect()}
    assert got == want and got
