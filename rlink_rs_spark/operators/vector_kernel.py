"""Exact NumPy vector kernel: the one scoring path of the similarity family.

Every Spark-side score in operators/similarity runs here, in an Arrow UDF
of one of three shapes: ``topk_scan`` (the corpus streams past a broadcast
query matrix; a candidate predicate picks the pairs, a running top-k in
the total order (score desc, id asc) bounds each task's output, one final
rank window picks the global top-k), ``assign`` (each vector takes its
best row(s) of a broadcast codebook) and ``group_pairs`` (all pairs
inside a grouping key).

Determinism contract: ``tree_sum`` performs the same pairwise additions as
similarity._balanced_sum (an odd last term carries up a level), products
and differences are the chains' ``CAST(.. AS DOUBLE)`` float64 operations,
and sqrt and division are correctly rounded in Java and NumPy alike: every
score is bit-identical to the chain text the DuckDB oracles evaluate.

Input contract, as the chains behave under the session's ANSI setting: a
vector row whose length is not ``dims`` raises; a null vector or component
scores null (an all-zero LSH bucket and SQ8 code 127, as the CASE and
LEAST/GREATEST chains give); a zero divisor raises ``[DIVIDE_BY_ZERO]``
under ANSI and scores null otherwise. The module pickles by value, so
executors need no import path to it.
"""

from __future__ import annotations

import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

cloudpickle.register_pickle_by_value(sys.modules[__name__])

CHUNK = 1 << 15  # pairs (or row x plane pairs) per step: temporaries ~CHUNK x dims


def tree_sum(x: np.ndarray) -> np.ndarray:
    """Sum over the last axis in _balanced_sum's association order."""
    while x.shape[-1] > 1:
        n = x.shape[-1]
        s = x[..., 0 : n - 1 : 2] + x[..., 1:n:2]
        x = np.concatenate([s, x[..., n - 1 :]], axis=-1) if n % 2 else s
    return x[..., 0]


def dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return tree_sum(a * b)


def norm(a: np.ndarray) -> np.ndarray:
    return np.sqrt(dot(a, a))


def cosine(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    with np.errstate(divide="ignore", invalid="ignore"):
        return dot(a, b) / (norm(a) * norm(b))


def l2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    d = a - b
    return tree_sum(d * d)


def sign_bits(m: np.ndarray, planes) -> np.ndarray:
    """(n, planes) bool: bit p set iff dot(row, plane_p) > 0, with Spark's
    ordering (NaN above every number). Planes are +-1 weights."""
    w = np.asarray(planes, dtype=np.float64)
    step = max(1, CHUNK // len(w))
    out = [tree_sum(m[lo : lo + step, None, :] * w[None]) for lo in range(0, len(m), step)]
    s = np.concatenate(out) if out else np.zeros((0, len(w)))
    return (s > 0) | np.isnan(s)


def pack(bits: np.ndarray) -> np.ndarray:
    """Bucket ids of (..., p) bits: bit p is worth 1 << p."""
    return bits @ (np.int64(1) << np.arange(bits.shape[-1], dtype=np.int64))


def codes(m: np.ndarray, scale: int) -> np.ndarray:
    """SQ8 codes, GREATEST(LEAST(CAST(ROUND(v * scale) AS BIGINT), 127),
    -127), with Spark's HALF_UP ROUND (ties away from zero), not NumPy's
    round-half-even. ``x - trunc(x)`` is exact."""
    x = m * scale
    t = np.trunc(x)
    r = t + np.copysign(np.abs(x - t) >= 0.5, x)
    if not (np.abs(r) < 2.0**63).all():
        raise ArithmeticError("[CAST_OVERFLOW] SQ8 component cannot be cast to BIGINT")
    return np.clip(r, -127, 127).astype(np.int64)


def matrix(col, dims: int) -> tuple[np.ndarray, np.ndarray]:
    """An Arrow list column as an (n, dims) float64 matrix plus its (n,
    dims) null mask (a null row is all-null; null slots hold 0.0). Raises
    on any non-null row whose length is not ``dims``."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    lens = pc.list_value_length(col).fill_null(dims).to_numpy(zero_copy_only=False)
    bad = np.flatnonzero(lens != dims)
    if bad.size:
        raise ValueError(f"vector row {bad[0]} has {lens[bad[0]]} components, expected {dims}")
    rows = col.is_valid().to_numpy(zero_copy_only=False)
    vals = col.flatten()  # valid rows only, slicing handled
    m = np.zeros((len(col), dims))
    null = np.ones((len(col), dims), dtype=bool)
    m[rows] = vals.fill_null(0).to_numpy(zero_copy_only=False).reshape(-1, dims)
    null[rows] = vals.is_null().to_numpy(zero_copy_only=False).reshape(-1, dims)
    return m, null


# --- metrics: prep(m, null) -> per-row features, "ok" = scores non-null;
# pairs(a, b, i, j) -> (numerator, divisor or None) of pairs a[i], b[j];
# desc: higher is better.


class Cosine:
    """Exact cosine, the cosine_expr chain: dot / (norm * norm)."""

    desc = True

    def prep(self, m, null):
        return {"m": m, "nrm": norm(m), "ok": ~null.any(axis=1)}

    def pairs(self, a, b, i, j):
        return dot(a["m"][i], b["m"][j]), a["nrm"][i] * b["nrm"][j]


class L2(Cosine):
    """Exact squared L2, the l2_chain_expr chain; lower is better."""

    desc = False

    def pairs(self, a, b, i, j):
        return l2(a["m"][i], b["m"][j]), None


class Gemm(Cosine):
    """BLAS cosine of row-normalized vectors (zero norms clamped to 1, so a
    zero vector scores 0.0); differs from Cosine by summation order only."""

    def prep(self, m, null):
        n = np.linalg.norm(m, axis=1, keepdims=True)
        return {"u": m / np.where(n == 0, 1.0, n), "ok": ~null.any(axis=1)}

    def pairs(self, a, b, i, j):
        lo = int(i.min())
        return (a["u"][lo : int(i.max()) + 1] @ b["u"].T)[i - lo, j], None


class SQ8(Cosine):
    """Cosine of SQ8 codes: exact BIGINT dot and norms, one float ratio. A
    null component codes as 127 (LEAST skips the null)."""

    def __init__(self, scale: int):
        self.scale = scale

    def prep(self, m, null):
        c = np.where(null, 127, codes(m, self.scale))
        return {"c": c, "n2": (c * c).sum(axis=1).astype(np.float64), "ok": np.ones(len(m), bool)}

    def pairs(self, a, b, i, j):
        num = (a["c"][i] * b["c"][j]).sum(axis=1).astype(np.float64)
        return num, np.sqrt(a["n2"][i]) * np.sqrt(b["n2"][j])


COSINE, GEMM, L2_SQ = Cosine(), Gemm(), L2()


def _features(metric, m, null, planes):
    f = metric.prep(m, null)
    if planes is not None:  # LSH bucket: a null row reads as all-zero bits
        f["bucket"] = pack(sign_bits(m, planes) & ~null.any(axis=1, keepdims=True))
    return f


def _scored(metric, a, b, n_a: int, n_b: int, mask, ansi: bool):
    """Score the candidate pairs of a x b (none if b is empty) in row
    blocks of about CHUNK pairs; ``mask(lo, hi)`` gives a block's (hi - lo,
    n_b) candidates. Yields (i, j, score, ok) with Spark's `/` semantics."""
    step = max(1, CHUNK // max(1, n_b))
    for lo in range(0, n_a if n_b else 0, step):
        i, j = np.nonzero(mask(lo, min(n_a, lo + step)))
        if not i.size:
            continue
        i = i + lo
        num, den = metric.pairs(a, b, i, j)
        ok = a["ok"][i] & b["ok"][j]
        if den is not None:
            zero = ok & (den == 0)
            if zero.any():
                if ansi:
                    raise ArithmeticError("[DIVIDE_BY_ZERO] zero-norm vector under ANSI mode")
                ok &= ~zero
            with np.errstate(divide="ignore", invalid="ignore"):
                num = num / den
        yield i, j, num, ok


def _best(group, score, ok, ids, desc: bool, k: int) -> np.ndarray:
    """Indices of the first k rows per group in Spark's order on score --
    desc: NaN, numbers descending, nulls last (max(struct), DESC window);
    asc: the reverse (min(struct)) -- then id ascending."""
    nan = ok & np.isnan(score)
    num = ok & ~nan
    cls = np.where(num, 1, np.where(nan, 0, 2) if desc else np.where(nan, 2, 0))
    key = np.where(num, -score if desc else score, 0.0)
    order = np.lexsort((ids, key, cls, group))
    g = group[order]
    pos = np.arange(len(g))
    start = np.maximum.accumulate(np.where(np.r_[True, g[1:] != g[:-1]], pos, 0))
    return order[pos - start < k]


def _ansi(df: DataFrame) -> bool:
    return df.sparkSession.conf.get("spark.sql.ansi.enabled", "true").lower() == "true"


def _column(x) -> np.ndarray:
    return x.to_numpy(zero_copy_only=False)


def _vectors(values) -> pa.Array:  # collected driver-side vectors
    return pa.array(list(values), pa.list_(pa.float64()))


def topk_scan(
    corpus: DataFrame, queries: DataFrame, dims: int, k: int, metric=COSINE,
    planes=None, where=None, score_col: str = "cosine", max_queries: int = 65536,
) -> DataFrame:
    """Top-k corpus neighbours per query: (query_id, neighbor_id,
    score_col, rank). Both frames hold ``id`` (long), ``v`` (the vector)
    and the same extra columns. Candidates are pairs with different ids,
    equal LSH buckets of ``planes`` (if given) and ``where(v, q)`` true --
    a callable on the extras as NumPy columns returning an (n, q) mask. A
    null extra matches nothing, as in a join condition.

    SIZE CONTRACT: the query set is collected and broadcast; at most
    ``max_queries`` rows (ValueError above that)."""
    extras = [c for c in queries.columns if c not in ("id", "v")]
    if extras:  # a null candidate key matches nothing
        corpus, queries = corpus.dropna(subset=extras), queries.dropna(subset=extras)
    rows = queries.limit(max_queries + 1).collect()
    if len(rows) > max_queries:
        raise ValueError(
            f"query set exceeds max_queries={max_queries}; the broadcast (q x d) "
            "matrix must fit on every executor -- raise max_queries if it does"
        )
    q_ids = np.array([r["id"] for r in rows], dtype=np.int64)
    qf = _features(metric, *matrix(_vectors(r["v"] for r in rows), dims), planes)
    qx = {c: _column(pa.array([r[c] for r in rows])) for c in extras}
    bq = corpus.sparkSession.sparkContext.broadcast((q_ids, qf, qx))
    ansi = _ansi(corpus)

    def scan(batches):
        q_ids, qf, qx = bq.value
        kept = [np.zeros(0, np.int64)] * 2 + [np.zeros(0), np.zeros(0, bool)]  # qj, id, s, ok
        for batch in batches:
            ids = _column(batch.column("id")).astype(np.int64)
            vf = _features(metric, *matrix(batch.column("v"), dims), planes)
            vx = {c: _column(batch.column(c)) for c in extras}

            def mask(lo, hi):
                cand = ids[lo:hi, None] != q_ids[None, :]
                if planes is not None:
                    cand &= vf["bucket"][lo:hi, None] == qf["bucket"][None, :]
                if where is not None:
                    cand &= where({c: x[lo:hi] for c, x in vx.items()}, qx)
                return cand

            for i, j, s, ok in _scored(metric, vf, qf, len(ids), len(q_ids), mask, ansi):
                kept = [np.concatenate(p) for p in zip(kept, (j, ids[i], s, ok))]
                kept = [x[_best(kept[0], kept[2], kept[3], kept[1], metric.desc, k)] for x in kept]
        if len(kept[0]):
            qj, nid, s, ok = kept
            yield pa.RecordBatch.from_arrays(
                [pa.array(q_ids[qj]), pa.array(nid), pa.array(s, mask=~ok)],
                ["query_id", "neighbor_id", score_col],
            )

    partial = corpus.select("id", "v", *extras).mapInArrow(
        scan, f"query_id long, neighbor_id long, {score_col} double"
    )
    order = F.col(score_col).desc() if metric.desc else F.col(score_col).asc()
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id").asc())
    return partial.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def assign(
    vectors: DataFrame, codebook: DataFrame, dims: int | None, metric=COSINE,
    best: int = 1, by: str | None = None,
) -> DataFrame:
    """The ``best`` codebook rows of every vector: the input's columns but
    ``v``, plus ``cell_id`` and ``score``. ``codebook`` holds (cell_id, cv
    [, by]); with ``by``, a vector only meets codebook rows of its own
    ``by`` value (and none if it has no such rows). Order: the metric's
    score (max/min(struct) semantics), then cell_id ascending.

    SIZE CONTRACT: the codebook is collected and broadcast."""
    schema = T.StructType(
        vectors.drop("v").schema.fields
        + [T.StructField("cell_id", T.LongType()), T.StructField("score", T.DoubleType())]
    )
    cb = codebook.select("cell_id", "cv", *([by] if by else [])).collect()
    if not cb:
        return vectors.sparkSession.createDataFrame([], schema)
    dims = dims or len(cb[0]["cv"])
    cids = np.array([r["cell_id"] for r in cb], dtype=np.int64)
    cf = metric.prep(*matrix(_vectors(r["cv"] for r in cb), dims))
    cg = _column(pa.array([r[by] for r in cb])) if by else np.zeros(len(cb))
    bc = vectors.sparkSession.sparkContext.broadcast((cids, cf, cg))
    ansi = _ansi(vectors)
    keep = [c for c in vectors.columns if c != "v"]

    def run(batches):
        cids, cf, cg = bc.value
        for batch in batches:
            vf = metric.prep(*matrix(batch.column("v"), dims))
            vg = _column(batch.column(by)) if by else np.zeros(batch.num_rows)
            mask = lambda lo, hi: vg[lo:hi, None] == cg[None, :]  # noqa: E731
            hits = list(_scored(metric, vf, cf, batch.num_rows, len(cids), mask, ansi))
            if not hits:
                continue
            i, j, s, ok = (np.concatenate(x) for x in zip(*hits))
            sel = _best(i, s, ok, cids[j], metric.desc, best)
            rows = pa.array(i[sel])
            yield pa.RecordBatch.from_arrays(
                [batch.column(c).take(rows) for c in keep]
                + [pa.array(cids[j[sel]]), pa.array(s[sel], mask=~ok[sel])],
                keep + ["cell_id", "score"],
            )

    return vectors.mapInArrow(run, schema)


def group_pairs(
    df: DataFrame, by: list[str], dims: int, threshold: float, emit, schema: str
) -> DataFrame:
    """Exact cosine of every pair of rows sharing ``by`` (columns ``id``,
    ``v`` and any extras). Per group, ``emit(table, i, j, cos) -> pa.Table``
    gets the pairs (i < j index the group's rows) with different ids and
    cosine >= ``threshold`` (Spark's `>=`: NaN counts, null never does).
    Quadratic within a group by design: callers bound the group size."""
    ansi = _ansi(df)

    def run(table: pa.Table) -> pa.Table:
        f = COSINE.prep(*matrix(table.column("v"), dims))
        ids = _column(table.column("id"))
        cols = np.arange(table.num_rows)
        hits = [(cols[:0], cols[:0], np.zeros(0))]
        upper = lambda lo, hi: cols[None, :] > np.arange(lo, hi)[:, None]  # noqa: E731
        for i, j, s, ok in _scored(COSINE, f, f, len(cols), len(cols), upper, ansi):
            hit = ok & ((s >= threshold) | np.isnan(s)) & (ids[i] != ids[j])
            hits.append((i[hit], j[hit], s[hit]))
        return emit(table, *(np.concatenate(x) for x in zip(*hits)))

    return df.groupBy(*by).applyInArrow(run, schema)
