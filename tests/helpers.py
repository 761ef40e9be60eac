from __future__ import annotations

import os
import threading

import numpy as np
import pandas as pd


def normalized(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)


def _type_kind(series: pd.Series) -> str:
    """Coarse type kind for strict comparison: float/int/bool/str/other.
    Mirrors the driver's type-sensitive hash -- a Spark DECIMAL (object of
    decimal.Decimal) vs a DuckDB DOUBLE must FAIL here, not be coerced."""
    import decimal

    if series.dtype.kind in "fiub":
        return {"f": "float", "i": "int", "u": "int", "b": "bool"}[series.dtype.kind]
    sample = series.dropna()
    if len(sample) and isinstance(sample.iloc[0], decimal.Decimal):
        return "decimal"
    return "str"


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, atol: float = 0.0):
    assert len(spark_pdf) == len(oracle_pdf), f"rows {len(spark_pdf)} != {len(oracle_pdf)}"
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns)
    # Type-strict: compare representation kinds BEFORE value coercion, like
    # the driver's hash gate (caught the round-1 DECIMAL-vs-DOUBLE red).
    for c in sorted(spark_pdf.columns):
        sk, dk = _type_kind(spark_pdf[c]), _type_kind(oracle_pdf[c])
        assert sk == dk, f"col {c}: type kind {sk} (spark) != {dk} (oracle)"
    s, d = normalized(spark_pdf), normalized(oracle_pdf)
    for c in s.columns:
        if s[c].dtype.kind == "f" or d[c].dtype.kind == "f":
            sa = s[c].astype(float).to_numpy()
            da = d[c].astype(float).to_numpy()
            assert np.allclose(sa, da, rtol=0, atol=atol, equal_nan=True), f"col {c} differs"
        else:
            assert s[c].astype(str).equals(d[c].astype(str)), f"col {c} differs"


def run_query_vs_oracle(spark, duck, sf_dir, name: str, atol: float = 0.0):
    from rlink_rs_spark.queries import REGISTRY

    q = REGISTRY[name]
    spark_pdf = q.fn(spark, sf_dir).toPandas()
    assert q.oracle is not None, f"{name} has no oracle"
    oracle_pdf = duck.sql(q.oracle).df()
    assert_frames_match(spark_pdf, oracle_pdf, atol=atol)
    return spark_pdf


class CrashInjector:
    """Test-side fault injection for every foreachBatch sink, driven from
    its writes rather than from flags in the sink's signature.

    Used as a context manager, it patches three things:

    - ``DataStreamWriter.foreachBatch`` wraps each handler so the injector
      knows the current epoch (a class-level patch, so it reaches every
      sink however the sink imported ``epochs.start``);
    - ``DataFrameWriter.parquet`` counts each call as one write;
    - ``streaming.cdc._mark_committed`` counts as a write too.

    On the first attempt only it raises at one ``(epoch, point)``:
    ``("before", k)`` before the epoch's k-th write, ``("torn", k)`` after
    the k-th write landed and its ``_SUCCESS`` was removed, ``("exit",
    None)`` after the handler's last write. Writes are counted under a lock
    (the dedup sink commits from pool threads); the fired flag lives in
    memory, so the resumed run inside the same context passes through.
    ``on_epoch(epoch_id)`` runs after every handler that returned cleanly,
    and ``writes[epoch_id]`` holds the count of the latest attempt."""

    def __init__(self, epoch: int | None = None, point: tuple | None = None, on_epoch=None):
        self.epoch, self.point, self.on_epoch = epoch, point, on_epoch
        self.fired = False
        self.writes: dict[int, int] = {}
        self._current: int | None = None
        self._lock = threading.Lock()
        self._patches = []

    def _arm(self, epoch: int, kind: str, k: int | None = None) -> bool:
        """True exactly once: at the chosen point of the chosen epoch."""
        if self.fired or epoch != self.epoch or self.point != (kind, k):
            return False
        self.fired = True
        return True

    def _write(self, write, target: str) -> None:
        """Run `write` (which writes the dir `target`) as the epoch's next
        write, crashing around it if this is the chosen point."""
        with self._lock:
            epoch = self._current
            if epoch is not None:  # None: outside any epoch (setup, readers)
                k = self.writes[epoch] = self.writes[epoch] + 1
                before, torn = self._arm(epoch, "before", k), self._arm(epoch, "torn", k)
        if epoch is None:
            return write()
        if before:
            raise RuntimeError(f"injected crash at epoch {epoch} before write {k}")
        write()
        if torn:
            os.remove(os.path.join(target, "_SUCCESS"))
            raise RuntimeError(f"injected crash at epoch {epoch}: write {k} torn")

    def _wrap(self, handler):
        def handle(batch_df, epoch_id: int) -> None:
            with self._lock:
                self._current, self.writes[epoch_id] = epoch_id, 0
            try:
                handler(batch_df, epoch_id)
            finally:
                with self._lock:
                    self._current = None
            if self._arm(epoch_id, "exit"):
                raise RuntimeError(f"injected crash at epoch {epoch_id} after its last write")
            if self.on_epoch is not None:
                self.on_epoch(epoch_id)

        return handle

    def __enter__(self) -> "CrashInjector":
        from unittest import mock

        from pyspark.sql.readwriter import DataFrameWriter
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from rlink_rs_spark.streaming import cdc

        fb, parquet, mark = DataStreamWriter.foreachBatch, DataFrameWriter.parquet, cdc._mark_committed
        inj = self
        self._patches = [
            mock.patch.object(
                DataStreamWriter, "foreachBatch", lambda w, fn: fb(w, inj._wrap(fn))
            ),
            mock.patch.object(
                DataFrameWriter, "parquet",
                lambda w, p, *a, **kw: inj._write(lambda: parquet(w, p, *a, **kw), p),
            ),
            mock.patch.object(cdc, "_mark_committed", lambda d: inj._write(lambda: mark(d), d)),
        ]
        for p in self._patches:
            p.start()
        return self

    def __exit__(self, *exc) -> None:
        for p in reversed(self._patches):
            p.stop()


def incremental_dedup_replay(spark, sf_dir: str, chunks: int):
    """The incremental-dedup intake as the tests drive it: documents with
    doc_id % 4 != 0 are the history (its band index is the committed
    artifacts/lsh_band_index entry), the rest arrive as a doc_id-ordered
    replay of `chunks` staged files. Returns (start, staged dir):
    start(work_dir, **sink_kwargs) starts the sink, and every
    start reuses the one staged dir, as a resume must."""
    from pyspark.sql import functions as F

    from rlink_rs_spark.operators.dedup import shingle_sets
    from rlink_rs_spark.queries.dedup import _BANDS, _INCR_THR, _N_HASHES, _history_band_index
    from rlink_rs_spark.streaming.dedup import streaming_incremental_dedup_sink
    from rlink_rs_spark.streaming.sources import stage_stream_dir, stream_from_staged
    from rlink_rs_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    history = docs.where(F.col("doc_id") % 4 != 0)
    hist_banded = _history_band_index(spark, sf_dir, history)
    staged = stage_stream_dir(sf_dir, "documents", chunks=chunks, order_col="doc_id")

    def start(work_dir: str, **sink_kwargs):
        src = stream_from_staged(
            spark, staged, sf_dir, "documents", max_files_per_trigger=1
        ).where(F.col("doc_id") % 4 == 0)
        return streaming_incremental_dedup_sink(
            src, history, hist_banded, shingle_sets(docs),
            work_dir=work_dir,
            threshold=_INCR_THR, n_hashes=_N_HASHES, bands=_BANDS,
            **sink_kwargs,
        )

    return start, staged
