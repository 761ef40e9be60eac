"""Every epoch-idempotent foreachBatch sink, crashed at every write of one
epoch that reads committed prior state (streaming/epochs.py's commit
protocol under test).

Each sink first runs once without a crash; the injector's per-epoch hook
records the sink's reader output at every epoch boundary. That run stops
once the epochs before the crash epoch are committed (the later chunks are
held back), and every cell resumes a copy of its work dir (the sink's
checkpoint included) from there, so a cell pays for the crash epoch only.
Each cell crashes the copy at one point of the chosen epoch -- before its
k-th write, with its k-th write torn (landed, ``_SUCCESS`` removed), or
after its last write -- and asserts:

1. before any resume, the reader returns the reference rows as of the
   crash epoch's start or as of its end, never a mix;
2. the resumed run's final output equals the reference's.

The two LSM-fold sinks crash in the epoch that folds (``compact_every=2``).
Chunk counts are the minimum that reaches the crash epoch.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections import Counter
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException
from pyspark.sql import functions as F

from rlink_rs_spark.streaming.runner import drain
from rlink_rs_spark.streaming.sources import stage_stream_dir, stream_from_staged
from rlink_rs_spark.tables import load_table
from tests.helpers import CrashInjector, incremental_dedup_replay


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


@dataclass(frozen=True)
class Run:
    """How one sink is driven: start(work_dir) starts it over
    the chunk files in `staged`, read(work_dir) is its reader output,
    init(work_dir) prepares a fresh work dir."""

    staged: str
    start: Callable
    read: Callable
    init: Callable = lambda work_dir: None


def _stream(spark, sf_dir, name, chunks, order_col, *cols):
    staged = stage_stream_dir(sf_dir, name, chunks=chunks, order_col=order_col)
    return staged, lambda: stream_from_staged(spark, staged, sf_dir, name, 1).select(*cols)


def _ann_probe(spark, sf_dir) -> Run:
    from rlink_rs_spark.queries import similarity as q
    from rlink_rs_spark.streaming.ann import read_probe_results, streaming_ann_probe_sink

    emb, codebook, assignment = q._ivf_artifacts(spark, sf_dir)
    staged, src = _stream(spark, sf_dir, "embeddings", 2, "label", "vec_id", "embedding")
    return Run(
        staged,
        lambda work: streaming_ann_probe_sink(
            src().where(F.col("vec_id") < q._N_QUERIES), emb, codebook, assignment,
            work, dims=q._DIMS, k=q._K, n_cells=q._IVF_CELLS, n_probe=q._IVF_PROBE,
        ),
        lambda work: _rows(read_probe_results(spark, work)),
    )


def _outlier(spark, sf_dir) -> Run:
    from rlink_rs_spark.queries import similarity as q
    from rlink_rs_spark.streaming.ann import read_outlier_results, streaming_outlier_sink

    cents = q._label_centroids(spark, sf_dir)
    staged, src = _stream(spark, sf_dir, "embeddings", 2, "vec_id", "vec_id", "label", "embedding")
    return Run(
        staged,
        lambda work: streaming_outlier_sink(
            src(), cents, work, dims=q._DIMS, threshold=q._OUTLIER_THR
        ),
        lambda work: _rows(read_outlier_results(spark, work)),
    )


def _delta_sink(spark, sf_dir) -> Run:
    """delta_sink behind the BM25 posting index (also IVF index-add and
    decontamination); epoch 1 writes its delta, then folds deltas 0-1."""
    from rlink_rs_spark.streaming.search_index import (
        read_posting_table,
        streaming_bm25_index_sink,
    )

    staged, src = _stream(spark, sf_dir, "documents", 2, "doc_id", "doc_id", "text")
    return Run(
        staged,
        lambda work: streaming_bm25_index_sink(src(), work, compact_every=2),
        lambda work: _rows(read_posting_table(spark, work)),
    )


def _dlq(spark, sf_dir) -> Run:
    from rlink_rs_spark.streaming.dlq import read_clean, read_dlq, streaming_dlq_sink

    staged, src = _stream(spark, sf_dir, "documents", 2, "doc_id", "doc_id", "lang", "source", "n_chars")
    return Run(
        staged,
        lambda work: streaming_dlq_sink(src(), work),
        lambda work: (_rows(read_clean(spark, work)), _rows(read_dlq(spark, work))),
    )


def _packing(spark, sf_dir) -> Run:
    from rlink_rs_spark.queries.pipeline_ops import _CTX_LEN
    from rlink_rs_spark.streaming.packing import read_packed_bins, streaming_pack_sink

    staged, src = _stream(spark, sf_dir, "documents", 2, "doc_id", "doc_id", "lang", "text")
    return Run(
        staged,
        lambda work: streaming_pack_sink(src(), work, ctx_len=_CTX_LEN),
        lambda work: _rows(read_packed_bins(spark, work)),
    )


def _rollup(spark, sf_dir) -> Run:
    from rlink_rs_spark.streaming.rollup import read_rollup_view, streaming_rollup_sink

    staged, src = _stream(spark, sf_dir, "events", 2, "ts", "ts", "event_type", "value")
    return Run(
        staged,
        lambda work: streaming_rollup_sink(src(), work),
        lambda work: _rows(read_rollup_view(spark, work)),
    )


def _reservoir(spark, sf_dir) -> Run:
    from rlink_rs_spark.queries.text import _WS_H_SPARK, _WS_KEY, _WS_TOP_K
    from rlink_rs_spark.streaming.sampling import (
        read_reservoir,
        streaming_weighted_reservoir_sink,
    )

    staged, src = _stream(spark, sf_dir, "documents", 2, "doc_id", "lang", "doc_id", "n_chars")
    return Run(
        staged,
        lambda work: streaming_weighted_reservoir_sink(
            src(), _WS_KEY.format(h=_WS_H_SPARK), work, top_k=_WS_TOP_K
        ),
        lambda work: _rows(read_reservoir(spark, work, _WS_TOP_K)),
    )


def _kmv(spark, sf_dir) -> Run:
    from rlink_rs_spark.queries.stats import _KMV_K
    from rlink_rs_spark.streaming.sketches import read_kmv_estimate, streaming_kmv_sink

    staged, src = _stream(spark, sf_dir, "events", 2, "event_id", "event_type", "user_id")
    return Run(
        staged,
        lambda work: streaming_kmv_sink(src(), "event_type", "user_id", work, k=_KMV_K),
        lambda work: _rows(read_kmv_estimate(spark, work, _KMV_K)),
    )


def _cms(spark, sf_dir) -> Run:
    from rlink_rs_spark.queries.stats import _CMS_B_SPARK, _CMS_D
    from rlink_rs_spark.streaming.sketches import read_cms_counters, streaming_cms_sink

    staged, src = _stream(spark, sf_dir, "events", 2, "event_id", "user_id")
    return Run(
        staged,
        lambda work: streaming_cms_sink(src(), _CMS_B_SPARK, _CMS_D, work),
        lambda work: _rows(read_cms_counters(spark, work)),
    )


def _cdc(spark, sf_dir) -> Run:
    """The parquet write of the touched buckets, then the _COMMITTED marker."""
    from rlink_rs_spark.streaming.cdc import (
        read_merged_snapshot,
        streaming_merge_sink,
        write_base_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents")
    staged, src = _stream(
        spark, sf_dir, "documents", 2, "doc_id", "doc_id", "text", "lang", "source", "n_chars"
    )
    return Run(
        staged,
        lambda work: streaming_merge_sink(src(), work, contiguous_keys=True),
        lambda work: _rows(read_merged_snapshot(spark, work)),
        lambda work: write_base_snapshot(docs, work),
    )


def _dedup(spark, sf_dir) -> Run:
    """Epoch 2 folds both state roots (hashes, then bands) before its three
    concurrent commits (verdicts, hashes, bands)."""
    from rlink_rs_spark.streaming.dedup import read_verdicts

    start, staged = incremental_dedup_replay(spark, sf_dir, chunks=3)
    return Run(
        staged,
        lambda work: start(work, compact_every=2),
        lambda work: _rows(read_verdicts(spark, work)),
    )


@dataclass(frozen=True)
class Sink:
    build: Callable
    writes: int  # writes in the crash epoch
    epoch: int = 1


SINKS = {
    "ann_probe": Sink(_ann_probe, 1),
    "outlier": Sink(_outlier, 1),
    "delta_sink": Sink(_delta_sink, 2),
    "dlq": Sink(_dlq, 2),
    "packing": Sink(_packing, 2),
    "rollup": Sink(_rollup, 1),
    "reservoir": Sink(_reservoir, 1),
    "kmv": Sink(_kmv, 2),
    "cms": Sink(_cms, 1),
    "cdc_merge": Sink(_cdc, 2),
    "dedup": Sink(_dedup, 5, epoch=2),
}


def _points(writes: int) -> list[tuple]:
    return (
        [("before", k) for k in range(1, writes + 1)]
        + [("torn", k) for k in range(1, writes + 1)]
        + [("exit", None)]
    )


CELLS = [(name, p) for name, sink in SINKS.items() for p in _points(sink.writes)]

def _fresh(run: Run, tag: str) -> str:
    work = tempfile.mkdtemp(prefix=f"rlink_matrix_{tag}_")
    run.init(work)
    return work


def _copy(work: str, tag: str) -> str:
    """A private copy of a work dir, checkpoint included, to resume from."""
    out = tempfile.mkdtemp(prefix=f"rlink_matrix_{tag}_")
    shutil.copytree(work, out, dirs_exist_ok=True)
    return out


def _drain_recording(run: Run, work: str, states: dict, what: str) -> CrashInjector:
    with CrashInjector(on_epoch=lambda e: states.__setitem__(e, run.read(work))) as inj:
        drain(run.start(work), what=what)
    return inj


def _reference(spark, sf_dir, name: str):
    """The sink's no-crash run: (run, the committed dirs as of the crash
    epoch's start, reader output before epoch 0 (key -1) and after every
    epoch)."""
    sink = SINKS[name]
    run = sink.build(spark, sf_dir)
    prefix = _fresh(run, name)
    states = {-1: run.read(prefix)}
    held = tempfile.mkdtemp(prefix=f"rlink_matrix_{name}_held_")
    later = sorted(os.listdir(run.staged))[sink.epoch:]
    for f in later:  # chunk files keep their mtimes, so replay order holds
        os.rename(os.path.join(run.staged, f), os.path.join(held, f))
    _drain_recording(run, prefix, states, f"{name} reference prefix")
    for f in later:
        os.rename(os.path.join(held, f), os.path.join(run.staged, f))
    inj = _drain_recording(run, _copy(prefix, name), states, f"{name} reference run")
    assert sorted(states) == list(range(-1, max(states) + 1)), sorted(states)
    assert inj.writes.get(sink.epoch) == sink.writes, inj.writes
    assert states[max(states)], f"{name} reference run read back nothing"
    return run, prefix, states


@pytest.fixture(scope="module")
def references(spark, sf_dir):
    """Each sink's reference run, built on its first cell."""
    built = {}

    def get(name: str):
        if name not in built:
            built[name] = _reference(spark, sf_dir, name)
        return built[name]

    return get


@pytest.mark.parametrize(
    "name, point", CELLS, ids=[f"{n}-{k}{i or ''}" for n, (k, i) in CELLS]
)
def test_sink_survives_a_crash_at_every_write(references, name, point):
    sink = SINKS[name]
    run, prefix, states = references(name)
    work = _copy(prefix, name)
    with CrashInjector(sink.epoch, point) as inj:
        with pytest.raises(StreamingQueryException, match="injected crash"):
            drain(run.start(work), what=f"{name} crashing run")
        assert inj.fired
        torn = run.read(work)
        assert torn in (states[sink.epoch - 1], states[sink.epoch]), (
            f"{name} at epoch {sink.epoch} {point}: reader shows neither the "
            "epoch's start nor its end"
        )
        drain(run.start(work), what=f"{name} resumed run")
    assert run.read(work) == states[max(states)]


def test_no_crash_hooks_in_the_package():
    """Crash points live in the tests (CrashInjector), never in production
    signatures: no function anywhere in the package, nested ones included,
    may be named or take a parameter named ``crash_*``."""
    import ast
    import importlib
    import inspect
    import pkgutil

    import rlink_rs_spark

    found = []
    for info in pkgutil.walk_packages(rlink_rs_spark.__path__, "rlink_rs_spark."):
        module = importlib.import_module(info.name)
        for node in ast.walk(ast.parse(inspect.getsource(module))):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                continue
            a = node.args
            params = a.posonlyargs + a.args + a.kwonlyargs + [p for p in (a.vararg, a.kwarg) if p]
            names = [getattr(node, "name", "<lambda>")] + [p.arg for p in params]
            found += [f"{info.name}:{node.lineno} {n}" for n in names if n.startswith("crash_")]
    assert not found, found
