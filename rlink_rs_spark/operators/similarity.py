"""Similarity search over embedding columns (array<float>).

Engine extras for training-data pipelines: brute-force cosine top-k as the
correctness baseline, and LSH, IVF, SQ8, PQ and IVF-PQ variants as the
scale paths (bucket, cell and code restrictions replace the full cross
product), plus semantic and near-duplicate detection.

Determinism contract: every Spark-side score runs through the exact NumPy
kernel in operators/vector_kernel, which mirrors _balanced_sum's pairwise
association in float64, so Spark and the DuckDB oracle produce
bit-identical doubles. The chain generators below (dot_chain_expr,
cosine_expr, bucket_expr, l2_chain_expr, quantize_expr) are oracle text --
balanced sum chains with per-element DOUBLE casts, shared verbatim with
DuckDB -- and the tests' reference; no Spark plan evaluates them.
Hyperplanes are md5-derived +-1 weights computed driver-side (hashlib),
inlined as literals in the oracle and passed as a matrix to the kernel.

At 100 TB: the fact side never collects; query sets and codebooks are
broadcast; LSH buckets, IVF cells and attribute predicates bound the
pairs scored per query.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from rlink_rs_spark import artifacts
from rlink_rs_spark.operators import vector_kernel as vk


def _balanced_sum(terms: list[str]) -> str:
    """Pairwise-balanced addition tree: log2(n) deep instead of an n-deep
    left fold (deep trees stall Catalyst analysis/codegen). The generated
    string is shared verbatim with the DuckDB oracle, so the summation
    order -- and therefore every floating-point bit -- still matches."""
    while len(terms) > 1:
        terms = [
            f"({terms[i]} + {terms[i + 1]})" if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def dot_chain_expr(a: str, b: str, dims: int, base: int) -> str:
    """Explicit balanced sum of a[i]*b[i]; `base` is the array index origin
    (Spark arrays are 0-based, DuckDB lists 1-based)."""
    return _balanced_sum(
        [
            f"CAST({a}[{i + base}] AS DOUBLE) * CAST({b}[{i + base}] AS DOUBLE)"
            for i in range(dims)
        ]
    )


def norm_expr(a: str, dims: int, base: int) -> str:
    return f"SQRT({dot_chain_expr(a, a, dims, base)})"


def cosine_expr(a: str, b: str, dims: int, base: int) -> str:
    return (
        f"({dot_chain_expr(a, b, dims, base)}) / "
        f"({norm_expr(a, dims, base)} * {norm_expr(b, dims, base)})"
    )


def hyperplanes(n_planes: int, dims: int) -> list[list[int]]:
    """Deterministic +-1 hyperplane weights: sign of bit 0 of md5('p:d')."""
    return [
        [1 if hashlib.md5(f"{p}:{d}".encode()).digest()[0] & 1 else -1 for d in range(dims)]
        for p in range(n_planes)
    ]


def bucket_expr(vec: str, planes: list[list[int]], base: int) -> str:
    """LSH bucket id: bit p set iff dot(vec, plane_p) > 0. Weights are +-1.0
    literals, so the projection is an exact signed sum chain."""
    bits = []
    for p, w in enumerate(planes):
        chain = _balanced_sum(
            [f"(CAST({vec}[{i + base}] AS DOUBLE) * {w[i]}.0)" for i in range(len(w))]
        )
        bits.append(f"CASE WHEN {chain} > 0 THEN {1 << p} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"


def _side(df: DataFrame, id_col: str, vec_col: str, *extra, id_name: str = "id") -> DataFrame:
    """The kernel's input shape: (id, v, extras...)."""
    return df.select(F.col(id_col).alias(id_name), F.col(vec_col).alias("v"), *extra)


def _scan(vectors, queries, dims, k, id_col, vec_col, **kw) -> DataFrame:
    q, v = _side(queries, id_col, vec_col), _side(vectors, id_col, vec_col)
    return vk.topk_scan(v, q, dims, k, **kw)


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dims: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: every corpus vector is scored against the
    broadcast query set, ranked per query with deterministic tie-break
    (cosine desc, id asc)."""
    return _scan(vectors, queries, dims, k, id_col, vec_col)


def ivf_assign(
    vectors: DataFrame,
    codebook: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cell assignment (vid, cell_id, ccos): broadcast the codebook, score
    every vector against every centroid exactly and keep the argmax --
    map-side, the corpus never shuffles or sort-windows. The (c DESC,
    cell_id ASC) tie-break is shared by every consumer (IVF probe, IVF-PQ
    residuals, SemDeDup priority) and by the oracles' ROW_NUMBER mirror."""
    v = _side(vectors, id_col, vec_col, id_name="vid")
    return vk.assign(v, codebook, dims).withColumnRenamed("score", "ccos")


# Above this many centroids, argmax assignment switches from the exact
# tree sums (log2(dims) temporaries per pair) to one BLAS GEMM per Arrow
# batch: cells scale with the corpus under SemDeDup's occupancy contract
# (the r10 100x probe: 1600 cells, 200k vectors).
GEMM_ASSIGN_MIN_CELLS = 64


def gemm_assign(
    vectors: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cell assignment (vid, cell_id, ccos) by one numpy GEMM per Arrow
    batch -- the scale path of ivf_assign: same body, same argmax and the
    same (cosine DESC, cell_id ASC) tie-break. Scores differ from the
    exact path only by float summation order (~1e-15); callers that need
    bit-equality to the SQL oracles keep the exact path (the gate scales
    do -- their codebooks stay under GEMM_ASSIGN_MIN_CELLS).

    SIZE CONTRACT: the codebook is collected and broadcast ((cells x d)
    float64s -- 1M cells x 64 dims = 512 MB is the practical ceiling; far
    past that, real deployments route assignment through a coarse
    quantizer first, the FAISS IVF-HNSW shape). All-zero vectors score
    0.0 everywhere (norms clamped to 1), matching cosine_topk_gemm."""
    v = _side(vectors, id_col, vec_col, id_name="vid")
    return vk.assign(v, codebook, None, vk.GEMM).withColumnRenamed("score", "ccos")


def _cell_assign(vectors, codebook, dims, n_cells, id_col, vec_col) -> DataFrame:
    """GEMM_ASSIGN_MIN_CELLS is the one selector between the two paths."""
    if n_cells is not None and n_cells > GEMM_ASSIGN_MIN_CELLS:
        return gemm_assign(vectors, codebook, id_col=id_col, vec_col=vec_col)
    return ivf_assign(vectors, codebook, dims, id_col=id_col, vec_col=vec_col)


def _inverted_file(assignment, vectors, codebook, dims, id_col, vec_col) -> DataFrame:
    """The caller's persisted inverted file (load_or_build_ivf_assignment),
    else a fresh ivf_assign."""
    fresh = assignment is None
    return ivf_assign(vectors, codebook, dims, id_col, vec_col) if fresh else assignment


def load_or_build_ivf_assignment(
    vectors: DataFrame,
    codebook: DataFrame,
    dims: int,
    key: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = None,
) -> DataFrame:
    """The INVERTED FILE itself, persisted: (vid, cell_id, ccos) is a
    deterministic function of (data, codebook), so like the codebook it is
    an artifact -- build once when the corpus is indexed, then every probe
    run reads cell membership instead of re-scoring the whole corpus
    against the centroids. The caller's key must encode the codebook's
    config (n_cells, iters) plus the data fingerprint. Passing ``n_cells``
    above GEMM_ASSIGN_MIN_CELLS routes the build through gemm_assign
    (the occupancy-scaled large-codebook case -- r10 100x probe).

    At 100 TB this is the difference between an index SCAN per query batch
    and an index BUILD per query batch; production would additionally
    partition the parquet by cell_id so probes prune to probed cells."""
    return artifacts.parquet(vectors.sparkSession, "ivf_inverted", key, lambda: _cell_assign(
        vectors, codebook, dims, n_cells, id_col, vec_col
    ))


def semantic_dedup(
    vectors: DataFrame,
    codebook: DataFrame,
    dims: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assignment: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space with a
    trained k-means codebook, then mark semantic duplicates WITHIN each
    cluster -- a vector is dropped iff some same-cluster vector with higher
    keep-priority has cosine >= threshold to it. Keep-priority follows the
    paper's diversity rule: the member FARTHEST from its centroid (lowest
    centroid-cosine) wins, id ASC breaking exact ties, which makes the
    declarative drop set order-independent (the paper's sequential greedy
    is replaced by an exists-higher-priority-duplicate predicate).
    Output: (id, cell_id, centroid_cosine, keep).

    Scale: the codebook broadcasts and assignment is one map-side
    argmax; the pairwise stage groups ON cell_id only and scores every
    pair inside the cell exactly -- quadratic within a cluster but SemDeDup's
    deployment contract is #clusters grows with the corpus so cluster
    occupancy stays bounded (the paper uses 50k clusters for LAION);
    all-pairs across clusters is never formed."""
    # same argmax assignment (and tie-break) as cosine_topk_ivf
    assign = _inverted_file(assignment, vectors, codebook, dims, id_col, vec_col)
    # one exact pair pass per cell (vector_kernel.group_pairs): norms once
    # per vector, dot / (na * nb) -- the oracle's arithmetic bit for bit
    def keep_flags(t, i, j, cos):
        ids, c = t.column("id").to_numpy(), t.column("ccos").to_numpy()
        i_first = (c[i] < c[j]) | ((c[i] == c[j]) & (ids[i] < ids[j]))
        j_first = (c[j] < c[i]) | ((c[i] == c[j]) & (ids[j] < ids[i]))
        keep = np.ones(len(ids), dtype=bool)
        keep[np.concatenate([j[i_first], i[j_first]])] = False
        cols = [t.column("id"), t.column("cell_id"), t.column("ccos"), pa.array(keep)]
        return pa.table(cols, names=[id_col, "cell_id", "centroid_cosine", "keep"])

    cells = assign.join(_side(vectors, id_col, vec_col, id_name="vid"), "vid")
    return vk.group_pairs(
        cells.select("cell_id", F.col("vid").alias("id"), "v", "ccos"),
        ["cell_id"], dims, threshold, keep_flags,
        f"{id_col} long, cell_id long, centroid_cosine double, keep boolean",
    )


def label_centroid_cosine(vectors: DataFrame, cents: DataFrame, dims: int) -> DataFrame:
    """(vec_id, label, centroid_cos): each (vec_id, label, embedding) row's
    exact cosine to its own label's centroid in ``cents`` (label, cent) --
    the assignment body with one codebook row per label. Rows whose label
    has no centroid drop out."""
    v = vectors.select("vec_id", "label", F.col("embedding").alias("v"))
    c = cents.select(F.lit(0).cast("long").alias("cell_id"), "label", F.col("cent").alias("cv"))
    scored = vk.assign(v, c, dims, by="label")
    return scored.select("vec_id", "label", F.col("score").alias("centroid_cos"))


_RECALL_CONTRACT_COS = 0.9  # the documented near-dup recall point


def scaled_lsh_params(
    n_vec: int,
    base_bands: int = 4,
    base_ppb: int = 6,
    target_occupancy: int = 32,
) -> tuple[int, int]:
    """Corpus-size-scaled banding for cosine_near_dup_pairs: deepen each
    band until expected bucket occupancy is ~target_occupancy (within-bucket
    pair work is occupancy-quadratic, so a FIXED config makes total
    candidates grow as n^2/2^ppb -- the sf1 witness measured exactly that
    creep), then widen the band count so recall at the documented contract
    point (cosine >= 0.9) matches the base config's ~86%. Candidates then
    grow ~n * occupancy * bands: linear in n up to the slow logarithmic
    band growth. At or below the base scale returns the base config
    unchanged, keeping the static SQL oracle exact at the gate scales."""
    import math

    ppb = max(base_ppb, math.ceil(math.log2(max(1, n_vec) / target_occupancy)))
    if ppb == base_ppb:
        return base_bands, base_ppb
    p = 1.0 - math.acos(_RECALL_CONTRACT_COS) / math.pi
    target = 1.0 - (1.0 - p**base_ppb) ** base_bands
    bands = math.ceil(math.log(1.0 - target) / math.log(1.0 - p**ppb))
    return max(base_bands, bands), ppb


def cosine_near_dup_pairs(
    vectors: DataFrame,
    dims: int,
    threshold: float,
    bands: int = 4,
    planes_per_band: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded random-hyperplane
    LSH: per band, bucket = sign bits of that band's planes; candidates =
    pairs sharing ANY band's bucket (OR over bands raises recall the way
    MinHash banding does); exact cosine verifies >= threshold. All-pairs is
    never formed -- the pairs of each (band, bucket) are scored inside one
    group, the 100 TB shape, and one exact sketch path serves every band
    count. For true near-dups (cosine >= 0.9) 4x6 banding recalls ~86%;
    recall degrades for lower thresholds by the LSH collision curve
    (1 - theta/pi)^planes. Norms are computed once per vector; the DuckDB
    twin precomputes identically, so bits still match."""
    planes = hyperplanes(bands * planes_per_band, dims)

    def sketch(batches):  # per-band buckets; a null row reads as all-zero bits
        for batch in batches:
            m, null = vk.matrix(batch.column("v"), dims)
            bits = vk.sign_bits(m, planes) & ~null.any(axis=1, keepdims=True)
            bk = vk.pack(bits.reshape(len(m), bands, planes_per_band))
            yield batch.append_column("bk", pa.array(list(bk), pa.list_(pa.int64())))

    def first_band_pairs(t, i, j, cos):
        # a pair colliding in several bands is kept by its lowest band only
        band, ids = t.column("band")[0].as_py(), t.column("id").to_numpy()
        bk = t.column("bk").combine_chunks().flatten().to_numpy().reshape(-1, bands)
        first = ~(bk[i, :band] == bk[j, :band]).any(axis=1)
        a, b = ids[i[first]], ids[j[first]]
        return pa.table({"id_a": np.minimum(a, b), "id_b": np.maximum(a, b), "cosine": cos[first]})

    v = _side(vectors, id_col, vec_col)
    bk_field = T.StructField("bk", T.ArrayType(T.LongType()))
    sketched = v.mapInArrow(sketch, T.StructType(v.schema.fields + [bk_field]))
    banded = sketched.select("id", "v", "bk", F.posexplode("bk").alias("band", "bucket"))
    id_type = v.schema["id"].dataType.simpleString()
    return vk.group_pairs(
        banded, ["band", "bucket"], dims, threshold, first_band_pairs,
        f"id_a {id_type}, id_b {id_type}, cosine double",
    )


def mean_expr(sum_alias: str) -> str:
    """Centroid coordinate from an exact integer power sum: shared verbatim
    with the DuckDB oracle (1e6 is a DOUBLE literal in both engines --
    a bare decimal literal would be DECIMAL arithmetic in Spark ANSI)."""
    return f"CAST({sum_alias} AS DOUBLE) / (1e6 * CAST(cnt AS DOUBLE))"


def _centroids(assign: DataFrame, vecs: DataFrame, on: list[str], dims: int) -> DataFrame:
    """(keys..., cv) with keys = ``on`` minus "vid" plus cell_id: each
    assigned group's mean of ``vecs``' v as an EXACT integer power sum.
    The ROUND/CAST quantization happens ONCE in a plain projection (one
    array column); the dims-wide aggregate then sums simple array
    elements, keeping its generated consume method small (inlining the
    quantizer chains into the agg blows up janino compile time)."""
    iv = ", ".join(f"CAST(ROUND(CAST(v[{d}] AS DOUBLE) * 1e6) AS BIGINT)" for d in range(dims))
    keys = [c for c in on if c != "vid"] + ["cell_id"]
    sums = (
        assign.select(*on, "cell_id")
        .join(vecs.select(*on, F.expr(f"array({iv})").alias("iv")), on)
        .groupBy(*keys)
        .agg(F.count("*").alias("cnt"), *[F.sum(F.col("iv")[d]).alias(f"s{d}") for d in range(dims)])
    )
    return sums.select(*keys, F.array(*[F.expr(mean_expr(f"s{d}")) for d in range(dims)]).alias("cv"))


def train_ivf_codebook(
    vectors: DataFrame,
    dims: int,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic fixed-iteration Lloyd's k-means over DataFrames:
    returns (cell_id, cv) -- the trained IVF coarse quantizer.

    Init = first n_cells vectors by id (seeded, engine-neutral). Each
    iteration: (1) assign every vector to its argmax-cosine centroid
    (ivf_assign: the collected codebook broadcast into one map-side pass,
    never a per-key sort window on the big side); (2) recompute each
    centroid coordinate as an EXACT integer power sum,
    SUM(CAST(ROUND(v[d]*1e6) AS BIGINT)) / (1e6 * cnt) -- BIGINT addition
    is order-independent, so centroids are bit-identical across engines,
    partitionings, and cluster sizes (a double AVG would drift with
    partial-agg order). Cells that lose all members drop out of the
    codebook; both engines agree.

    At 100 TB: train on a hash-sampled subset (the FAISS recipe), then
    broadcast the finished codebook -- each iteration here is one broadcast
    join + one map-side-combined shuffle over n_cells groups.

    Above GEMM_ASSIGN_MIN_CELLS (occupancy-scaled codebooks, cells ~
    n/125) the per-iteration argmax runs through gemm_assign. Centroids
    stay exact integer power sums either way, so the codebook differs
    from the exact path only where a ~1e-15 scoring tie flips a boundary
    vector; the gate scales (16 cells) never take this branch."""
    cents = vectors.where(F.col(id_col) < n_cells).select(
        F.col(id_col).cast("long").alias("cell_id"), F.col(vec_col).alias("cv")
    )
    vecs = _side(vectors, id_col, vec_col, id_name="vid")
    for _ in range(iters):
        assign = _cell_assign(vectors, cents, dims, n_cells, id_col, vec_col)
        cents = _centroids(assign, vecs, ["vid"], dims)
    # the finished codebook is <= n_cells rows but its lineage holds
    # 2*iters full-table scans -- cache it so downstream assignment and
    # probing (2+ consumers) train exactly once (production would persist
    # the trained codebook explicitly)
    return cents.cache()


def load_or_train_ivf_codebook(
    spark: SparkSession,
    vectors: DataFrame,
    dims: int,
    fingerprint: str,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train-once / probe-many: the FAISS deployment shape. The trained
    codebook is a deterministic function of (data, n_cells, iters) -- Lloyd's
    here is seeded and its centroid sums are exact integer arithmetic -- so
    it is safe to persist and reload. The cache key includes a caller-supplied
    content fingerprint of the source data (md5 of the parquet bytes), so a
    changed fixture retrains instead of serving a stale codebook.

    At 100 TB the `vectors` argument would be a hash-sample
    (``F.crc32(...) % rate == 0``) of the corpus; training cost is then
    bounded by the sample while probing scans the inverted file."""
    key = f"ivf_codebook_c{n_cells}_i{iters}_{fingerprint}"
    return artifacts.parquet(spark, "ivf_codebooks", key, lambda: train_ivf_codebook(
        vectors, dims, n_cells=n_cells, iters=iters, id_col=id_col, vec_col=vec_col
    ))


def cosine_topk_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    dims: int,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 3,
    train_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
    assignment: DataFrame | None = None,
    match_col: str | None = None,
) -> DataFrame:
    """IVF-style ANN: a coarse quantizer assigns every vector to its nearest
    of n_cells centroids (one broadcast pass -- the inverted file); each
    query probes its n_probe nearest cells and scans only those candidate
    lists. Centroids come from train_ivf_codebook (deterministic seeded
    Lloyd's, bit-identical to the oracle's unrolled-CTE mirror) or from a
    pre-trained ``codebook`` (load_or_train_ivf_codebook -- training and
    probing are separate stages in deployment). At 100 TB: centroid table
    and probe lists are broadcast, cell assignment is map-side, and the
    corpus scan scores only rows of probed cells.

    match_col: filtered vector search (the production ANN shape: restrict
    neighbors to the query's tenant/language/label). Candidates are probed
    exactly as in the unfiltered path and the attribute equality is applied
    DURING the candidate scan, before the top-k window -- post-filtering at
    the scan, so k survivors are the k best MATCHING neighbors among the
    probed cells. Zero extra shuffles: the attribute rides the candidate
    predicate of the unfiltered scan."""
    cents = codebook if codebook is not None else train_ivf_codebook(
        vectors, dims, n_cells=n_cells, iters=train_iters, id_col=id_col, vec_col=vec_col
    )
    base_assign = _inverted_file(assignment, vectors, cents, dims, id_col, vec_col)
    # each query's n_probe best cells: the assignment body with best=n_probe
    probes = vk.assign(_side(queries, id_col, vec_col), cents, dims, best=n_probe)
    probes = probes.groupBy("id").agg(F.collect_list("cell_id").alias("cell"))
    m = [F.col(match_col).alias("_m")] if match_col is not None else []
    q = _side(queries, id_col, vec_col, *m).join(probes, "id")
    nv = _side(vectors, id_col, vec_col, *m).join(
        base_assign.select(F.col("vid").alias("id"), F.col("cell_id").alias("cell")), "id"
    )

    def in_probed_cells(v, q):
        cand = np.stack([np.isin(v["cell"], cells) for cells in q["cell"]], axis=1)
        return cand & (v["_m"][:, None] == q["_m"][None, :]) if "_m" in q else cand

    return vk.topk_scan(nv, q, dims, k, where=in_probed_cells)


def quantize_expr(vec: str, dims: int, base: int, scale: int) -> list[str]:
    """Per-dimension int8 scalar quantization (FAISS SQ8 family):
    q[d] = clamp(round(v[d] * scale), -127, 127). Integer-exact in both
    engines (ROUND + LEAST/GREATEST on BIGINT), so quantized dot products
    and norms are bit-identical without any summation-order contract."""
    return [
        f"GREATEST(LEAST(CAST(ROUND(CAST({vec}[{d + base}] AS DOUBLE) * {scale}) AS BIGINT), 127), -127)"
        for d in range(dims)
    ]


def cosine_topk_sq(
    vectors: DataFrame,
    queries: DataFrame,
    dims: int,
    k: int = 5,
    scale: int = 200,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantized ANN top-k (FAISS SQ8 shape): int8 codes cut vector
    storage 4x vs float32 / 8x vs float64 -- at 100 TB that is the working-
    set win that keeps the candidate scan memory-bound instead of IO-bound.

    Plan: one topk_scan; each side is coded ONCE per batch to (int8
    codes with Spark's HALF_UP ROUND, integer squared norm, LSH bucket of
    the float vector); candidates share the query's bucket (never all
    pairs); code dot products are exact int64 sums (|term| <= 127^2,
    order-independent -- no summation-order contract needed). Only the
    final cosine ratio is floating point, on bit-identical integer
    operands, so the query stays value-hash comparable to the DuckDB
    oracle. Quantization shifts scores ~1e-3; the recall pytest pins
    ranking quality vs exact."""
    planes = hyperplanes(n_planes, dims)
    return _scan(
        vectors, queries, dims, k, id_col, vec_col,
        metric=vk.SQ8(scale), planes=planes, score_col="cosine_q",
    )


def cosine_topk_gemm(
    vectors: DataFrame,
    queries: DataFrame,
    dims: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 65536,
) -> DataFrame:
    """Production-form cosine top-k: the exact variants' topk_scan with a
    BLAS score -- one float64 GEMM of each row-normalized corpus block
    against the query matrix, where the others mirror _balanced_sum (an
    oracle-determinism contract, not a deployment choice). Scores differ
    from theirs only by float summation order (~1e-15); all-zero vectors
    score 0.0 (norm clamped to 1), never NaN.

    The query set is collected once, row-normalized and broadcast (one
    copy per executor). SIZE CONTRACT: it must fit on the driver and
    every executor ((q x d) float64s, e.g. 65k queries x 128 dims = 64
    MB); ``max_queries`` enforces it and raising it is an explicit opt-in.
    Each task emits only its running top-k per query in the total order
    (cosine desc, id asc) -- tied lower ids are never dropped -- and a
    final per-query rank window picks the global top-k. At 100 TB:
    map-side GEMM + bounded emission, one tiny final shuffle on query_id;
    the corpus never leaves the executors."""
    return _scan(
        vectors, queries, dims, k, id_col, vec_col, metric=vk.GEMM, max_queries=max_queries
    )


def cosine_topk_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    dims: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN variant: candidates restricted to the query's LSH bucket,
    then exact cosine + rank. Recall < 1 by
    design; determinism is preserved because both engines use identical
    literal hyperplanes."""
    planes = hyperplanes(n_planes, dims)
    return _scan(vectors, queries, dims, k, id_col, vec_col, planes=planes)


def l2_chain_expr(a: str, b: str, dims: int, base: int) -> str:
    """Balanced sum of squared differences (exact-bit shared with the
    DuckDB oracle, like dot_chain_expr)."""
    terms = []
    for i in range(dims):
        d = f"(CAST({a}[{i + base}] AS DOUBLE) - CAST({b}[{i + base}] AS DOUBLE))"
        terms.append(f"({d} * {d})")
    return _balanced_sum(terms)


def _subvectors(df: DataFrame, vec: str, m_sub: int, dsub: int, *keep: str) -> DataFrame:
    """(keep..., m, sv): one row per subspace slice of ``vec``."""
    sl = [F.expr(f"slice({vec}, {m * dsub + 1}, {dsub})").alias("sv") for m in range(m_sub)]
    parts = F.array(*[F.struct(F.lit(m).alias("m"), sl[m]) for m in range(m_sub)])
    return df.select(*keep, F.explode(parts).alias("x")).select(*keep, "x.m", "x.sv")


def _pq_codebook(sv, dsub, ksub, iters, pq_cache, key) -> DataFrame:
    """Trained PQ codebook, reused by codes AND the LUT: persisted under
    the fingerprint ``pq_cache`` when given, else cached."""
    if pq_cache is None:
        return train_pq_codebook(sv, dsub, ksub=ksub, iters=iters).cache()
    return load_or_train_pq_codebook(
        sv, dsub, f"{key}_k{ksub}_i{iters}_{pq_cache}", ksub=ksub, iters=iters
    )


def _adc_topk(dist: DataFrame, k: int) -> DataFrame:
    """Rank (query_id, neighbor_id, di) by integer ADC distance, id asc."""
    w = Window.partitionBy("query_id").orderBy(F.col("di").asc(), F.col("neighbor_id").asc())
    ranked = dist.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
    adc = (F.col("di").cast("double") / 1e9).alias("adc_dist")
    return ranked.select("query_id", "neighbor_id", adc, "rank")


def _pq_codes(sv: DataFrame, cents: DataFrame, dsub: int) -> DataFrame:
    """(vid, m, code): each subvector's nearest codebook row of its own
    subspace, (d2 asc, cell_id asc) -- the min(struct) argmin."""
    codes = vk.assign(sv.withColumnRenamed("sv", "v"), cents, dsub, vk.L2_SQ, by="m")
    return codes.select("vid", "m", F.col("cell_id").alias("code"))


def _pq_lut(qsv: DataFrame, cents: DataFrame, dsub: int, ksub: int) -> DataFrame:
    """ADC lookup table: every query subvector's exact L2 to every
    codebook row of its subspace, rounded to a 1e-9-scale BIGINT (d2i)."""
    lut = vk.assign(qsv.withColumnRenamed("sv", "v"), cents, dsub, vk.L2_SQ, best=ksub, by="m")
    return lut.withColumn("d2i", F.round(F.col("score") * 1e9).cast("long"))


def train_pq_codebook(
    sv: DataFrame, dsub: int, ksub: int = 16, iters: int = 1
) -> DataFrame:
    """Product-quantization codebook over an exploded (vid, m, sv) subvector
    frame -- ALL subspaces train in one dataflow per step (one broadcast
    argmin pass + integer-power-sum means; bit-identical
    across engines, same contract as train_ivf_codebook). Init = the
    subvectors of the first ksub vids. Returns (m, cell_id, cv).

    Shared by pq_adc_topk (subvectors of raw vectors) and ivfpq_adc_topk
    (subvectors of residuals); deterministic, so persistable via
    load_or_train_pq_codebook."""
    cents = sv.where(F.col("vid") < ksub).select(
        "m", F.col("vid").cast("long").alias("cell_id"), F.col("sv").alias("cv")
    )
    vecs = sv.withColumnRenamed("sv", "v")
    for _ in range(iters):
        codes = _pq_codes(sv, cents, dsub).withColumnRenamed("code", "cell_id")
        cents = _centroids(codes, vecs, ["vid", "m"], dsub)
    return cents


def load_or_train_pq_codebook(
    sv: DataFrame,
    dsub: int,
    key: str,
    ksub: int = 16,
    iters: int = 1,
) -> DataFrame:
    """Train-once / probe-many for PQ codebooks (same deployment contract
    as load_or_train_ivf_codebook): the trained (m, cell_id, cv) table is a
    deterministic function of (data, params), so it persists under a
    caller-supplied content-fingerprint key and repeat runs skip straight
    to encoding + ADC. The caller's key must encode every training input
    (source fingerprint, m/ksub/iters, and -- for residual PQ -- the coarse
    quantizer's params)."""
    return artifacts.parquet(sv.sparkSession, "pq_codebooks", key, lambda: train_pq_codebook(
        sv, dsub, ksub=ksub, iters=iters
    ))


def pq_adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dims: int,
    m_sub: int = 4,
    ksub: int = 16,
    iters: int = 1,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pq_cache: str | None = None,
) -> DataFrame:
    """Product-quantization ANN (FAISS IndexPQ shape), completing the ANN
    family next to IVF (coarse cells), SQ8 (scalar codes), and GEMM (exact
    fast path): the vector splits into m_sub subspaces, each quantized to
    one of ksub per-subspace centroids, so a 64-dim float vector becomes
    m_sub small codes (here 4 codes = 4 bytes -- 64x smaller than float64).
    Query scoring is asymmetric distance computation (ADC): per query, a
    (m_sub x ksub) lookup table of exact subspace L2 distances to every
    centroid; a vector's approximate distance is the sum of its codes'
    table entries.

    Dataflow (all subspaces train in ONE shuffle per step, not m_sub
    loops): explode each vector into (id, m, subvector); k-means init =
    first ksub ids' subvectors; per iteration one broadcast-codebook
    argmin pass + integer-power-sum centroid means (bit-identical across
    engines, same contract as train_ivf_codebook). Codes and the query
    LUT come from the same exact L2 assignment; per-(query, m, cell) LUT
    distances are rounded to 1e-9-scale BIGINTs BEFORE the per-pair sum,
    so the ADC total is order-independent exact integer arithmetic and
    the DuckDB oracle value-hash matches.

    At 100 TB: codes storage is m_sub bytes/vector; scoring is a
    broadcast-LUT equi-join on (m, code) + one map-side-combined sum --
    the corpus never shuffles; train the codebook on a hash-sample and
    persist like the IVF artifact."""
    dsub = dims // m_sub
    sv = _subvectors(vectors.withColumnRenamed(id_col, "vid"), vec_col, m_sub, dsub, "vid")
    cents = _pq_codebook(sv, dsub, ksub, iters, pq_cache, f"pq_m{m_sub}")
    codes = _pq_codes(sv, cents, dsub)
    qsv = _subvectors(queries.withColumnRenamed(id_col, "query_id"), vec_col, m_sub, dsub, "query_id")
    lut = _pq_lut(qsv, cents, dsub, ksub)
    pairs = codes.join(
        F.broadcast(lut), (codes.m == lut.m) & (codes.code == lut.cell_id)
    )
    dist = pairs.groupBy("query_id", F.col("vid").alias("neighbor_id")).agg(
        F.sum("d2i").alias("di")
    )
    return _adc_topk(dist.where(F.col("query_id") != F.col("neighbor_id")), k)


def ivfpq_adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dims: int,
    codebook: DataFrame,
    n_probe: int = 3,
    m_sub: int = 4,
    ksub: int = 16,
    iters: int = 1,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pq_cache: str | None = None,
    assignment: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ with residual encoding (the FAISS IndexIVFPQ shape) -- the
    standard billion-scale ANN index, composing the two stages this module
    already provides separately: the IVF coarse quantizer restricts each
    query to n_probe cells, and within a cell vectors are stored only as
    m_sub one-byte PQ codes of their RESIDUAL (v - centroid), which is what
    makes PQ accurate at scale (residuals are centered, so the shared
    subspace codebooks spend their 16 centroids on a much smaller ball).

    Dataflow: (1) map-side argmax-cosine cell assignment (ivf_assign);
    (2) residuals by one broadcast join with the centroid table -- exact
    IEEE double subtraction; (3) PQ training on residuals pooled over
    cells (the FAISS default), as in pq_adc_topk; (4) per-query,
    per-PROBED-CELL residual LUT (n_q x n_probe x m_sub x ksub rows --
    broadcast material at any scale), entries rounded to 1e-9-scale
    BIGINTs before the per-pair sum (order-independent); (5) ADC: codes
    equi-join the LUT on (cell, m, code) -- restricting neighbors to
    probed cells and scoring in one join; one combinable per-pair sum;
    rank window over the tiny scored set.

    At 100 TB: storage is m_sub bytes + one cell id per vector; assignment
    and codes are map-side, and scoring shuffles candidates of probed
    cells only. Train both codebooks on a hash-sample and persist (the IVF
    one already ships via load_or_train_ivf_codebook).

    Reference parity: no ANN in the reference; LLM-pipeline extension
    surface ("similarity search ... IVF or LSH-bucketed variant as the
    scale path")."""
    dsub = dims // m_sub
    cents = codebook  # (cell_id, cv)
    diffs = ", ".join(f"CAST(v[{d}] AS DOUBLE) - CAST(cv[{d}] AS DOUBLE)" for d in range(dims))

    def residuals(df: DataFrame, key: str) -> DataFrame:  # (key, cell_id, v) -> rv
        joined = df.join(F.broadcast(cents), "cell_id")
        return joined.select(key, "cell_id", F.expr(f"array({diffs})").alias("rv"))

    assign = _inverted_file(assignment, vectors, cents, dims, id_col, vec_col)
    vecs = _side(vectors, id_col, vec_col, id_name="vid")
    # residuals feed PQ training, codes, AND (via assign) candidate gen --
    # cache so the assignment runs once
    resid = residuals(assign.select("vid", "cell_id").join(vecs, "vid"), "vid").cache()

    rsv = _subvectors(resid, "rv", m_sub, dsub, "vid")
    # a pq_cache fingerprint MUST encode the coarse quantizer's config too:
    # residuals are a function of the IVF codebook, so a different IVF
    # setup has to miss this cache
    pqc = _pq_codebook(rsv, dsub, ksub, iters, pq_cache, f"ivfpq_m{m_sub}")
    codes = _pq_codes(rsv, pqc, dsub)

    # query side: probe the n_probe argmax-cosine cells, residual per cell
    qvecs = _side(queries, id_col, vec_col, id_name="qid")
    probes = vk.assign(qvecs, cents, dims, best=n_probe).select("qid", "cell_id")
    qresid = residuals(probes.join(qvecs, "qid"), "qid").withColumnRenamed("cell_id", "coarse")
    lut = _pq_lut(_subvectors(qresid, "rv", m_sub, dsub, "qid", "coarse"), pqc, dsub, ksub)
    lut = lut.select(
        "qid", F.col("coarse").alias("cell_id"), "m", F.col("cell_id").alias("pq_cell"), "d2i"
    )
    # one equi-join scores AND restricts to probed cells
    coded = codes.join(resid.select("vid", "cell_id"), "vid")
    pairs = coded.join(
        F.broadcast(lut),
        (coded.cell_id == lut.cell_id) & (coded.m == lut.m) & (coded.code == lut.pq_cell),
    )
    dist = pairs.where(F.col("qid") != F.col("vid")).groupBy(
        F.col("qid").alias("query_id"), F.col("vid").alias("neighbor_id")
    )
    return _adc_topk(dist.agg(F.sum("d2i").alias("di")), k)
