"""The exact NumPy vector kernel (operators/vector_kernel) against the SQL
chain generators it replaces on the Spark side: bit-equal scores, the
chains' input contract, Spark's HALF_UP SQ8 rounding, and the total
(score desc, id asc) top-k order."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from rlink_rs_spark.operators import similarity as s
from rlink_rs_spark.operators import vector_kernel as vk


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


@pytest.mark.parametrize("dims", [1, 5, 63, 64])
def test_kernel_bits_match_chains(spark, dims):
    """dot, norm, cosine, l2 and LSH sign bits of random float32 vectors
    equal the Spark-evaluated chain expressions by IEEE bit pattern; odd
    dims exercise the carried last term of _balanced_sum."""
    rng = np.random.default_rng(dims)
    a = rng.normal(size=(40, dims)).astype(np.float32)
    b = rng.normal(size=(40, dims)).astype(np.float32)
    planes = s.hyperplanes(8, dims)
    df = spark.createDataFrame(
        [(i, a[i].tolist(), b[i].tolist()) for i in range(len(a))],
        "i int, a array<float>, b array<float>",
    )
    got = df.select(
        "i",
        F.expr(s.dot_chain_expr("a", "b", dims, base=0)).alias("dot"),
        F.expr(s.norm_expr("a", dims, base=0)).alias("norm"),
        F.expr(s.cosine_expr("a", "b", dims, base=0)).alias("cos"),
        F.expr(s.l2_chain_expr("a", "b", dims, base=0)).alias("l2"),
        F.expr(s.bucket_expr("a", planes, base=0)).alias("bucket"),
    ).orderBy("i").collect()
    a64, b64 = a.astype(np.float64), b.astype(np.float64)
    kernel = {
        "dot": vk.dot(a64, b64),
        "norm": vk.norm(a64),
        "cos": vk.cosine(a64, b64),
        "l2": vk.l2(a64, b64),
    }
    for name, values in kernel.items():
        assert [_bits(r[name]) for r in got] == [_bits(x) for x in values], name
    assert [r.bucket for r in got] == vk.pack(vk.sign_bits(a64, planes)).tolist()


def test_sq8_codes_round_half_up(spark):
    """SQ8 codes use Spark's HALF_UP ROUND: at scale 2, components +-0.25
    land exactly on +-0.5 and code to +-1 (round-half-even would give 0,
    a zero norm, and a division error); the kernel codes equal
    quantize_expr evaluated in Spark, and cosine_topk_sq scores them."""
    rows = [(0, [0.25, -0.25]), (1, [-0.25, 0.25]), (2, [0.25, -0.25]), (3, [0.25, 0.25])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    m = np.array([r[1] for r in rows])
    codes = vk.codes(m, 2)
    assert np.abs(codes).min() == 1
    chain = df.orderBy("vec_id").select(
        F.array(*[F.expr(e) for e in s.quantize_expr("embedding", 2, 0, 2)]).alias("q")
    )
    assert [r.q for r in chain.collect()] == codes.tolist()
    out = s.cosine_topk_sq(df, df, dims=2, k=3, scale=2, n_planes=1).collect()
    pair = {(r.query_id, r.neighbor_id): r.cosine_q for r in out}
    assert (0, 2) in pair  # identical vectors share every bucket
    for (qi, ni), c in pair.items():
        assert c == float(codes[qi] @ codes[ni]) / (np.sqrt(2.0) * np.sqrt(2.0))


def test_gemm_topk_keeps_smallest_tied_ids(spark):
    """40 identical vectors, one query, k=5: every score ties, so the
    (cosine desc, id asc) order must return the 5 smallest other ids --
    a per-batch argpartition keeps arbitrary tied rows and loses them."""
    df = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(40)], "vec_id long, embedding array<double>"
    ).repartition(1)
    q = df.where("vec_id = 7")
    for op in (s.cosine_topk_gemm, s.cosine_topk):
        out = sorted(op(df, q, dims=3, k=5).collect(), key=lambda r: r.rank)
        assert [r.neighbor_id for r in out] == [0, 1, 2, 3, 4], op.__name__


def _kernel_scores(df, dims=3):
    q = df.where("vec_id = 0")
    return {r.neighbor_id: r.cosine for r in s.cosine_topk(df, q, dims, k=10).collect()}


def _chain_scores(df, dims=3):
    cos = F.expr(s.cosine_expr("qv", "nv", dims, base=0))
    pairs = df.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("nv")).crossJoin(
        df.where("vec_id = 0").select(F.col("embedding").alias("qv"))
    )
    return {r.nid: r.c for r in pairs.where("nid != 0").select("nid", cos.alias("c")).collect()}


def test_kernel_input_contract(spark):
    """A row shorter or longer than dims raises (never a silent reshape of
    ragged offsets); a null embedding scores null like the chain; a zero
    vector raises DIVIDE_BY_ZERO under ANSI and scores null without it,
    exactly as the chain does in the same session."""

    def frame(extra):
        return spark.createDataFrame(
            [(0, [1.0, 2.0, 2.0]), (1, [2.0, 1.0, 0.5]), (2, extra)],
            "vec_id long, embedding array<double>",
        )

    for bad in ([1.0, 2.0], [1.0, 2.0, 3.0, 4.0]):
        df = frame(bad)
        with pytest.raises(Exception, match="expected 3"):
            _kernel_scores(df)  # corpus row, raised in the task
        with pytest.raises(Exception, match="expected 3"):
            s.cosine_topk(df, df, 3)  # query row, raised on the driver

    df = frame(None)
    assert _kernel_scores(df) == _chain_scores(df)
    assert _kernel_scores(df)[2] is None

    zero = frame([0.0, 0.0, 0.0])
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        for scores in (_kernel_scores, _chain_scores):
            with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
                scores(zero)
        spark.conf.set("spark.sql.ansi.enabled", "false")
        assert _kernel_scores(zero) == _chain_scores(zero)
        assert _kernel_scores(zero)[2] is None
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
