"""Streaming ANN serving -- online vector search against the persisted IVF
index, the query-side twin of queries/similarity.cosine_topk_ivf.

The serving shape every vector deployment runs: the index artifacts
(coarse-quantizer codebook + inverted file, trained once and persisted,
operators/similarity.load_or_train_ivf_codebook) stand; query vectors
ARRIVE as a stream and each micro-batch probes only its own queries --
broadcast codebook assignment, candidate scan over the probed cells,
per-query top-k. A query's result depends only on that query and the
standing index, so the drained union across epochs is row-identical to
the batch probe over the same query set and SHARES its DuckDB oracle.

Epoch protocol: streaming/epochs.py; each epoch's results are a
self-contained output dir, and the drain is the union of committed ones.

Reference parity: a stream of lookups against broadcast/persisted state
is the reference's ConfigInputFormat dimension-stream pattern
(example/example-utils/src/config_input_format.rs) inverted -- here the
big side stands and the small side streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rlink_rs_spark.streaming.epochs import committed, path, read, start

_PROBE_SCHEMA = "query_id bigint, neighbor_id bigint, cosine double, rank int"
_OUTLIER_SCHEMA = "vec_id bigint, label int, centroid_cos double"


def streaming_ann_probe_sink(
    query_stream: DataFrame,
    corpus: DataFrame,
    codebook: DataFrame,
    assignment: DataFrame,
    out_dir: str,
    checkpoint: str,
    dims: int,
    k: int,
    n_cells: int,
    n_probe: int,
):
    """foreachBatch sink probing each micro-batch of query vectors against
    the persisted IVF index. Returns the started StreamingQuery."""
    from rlink_rs_spark.operators import similarity as sim_ops

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = sim_ops.cosine_topk_ivf(
            corpus,
            batch_df,
            dims=dims,
            k=k,
            n_cells=n_cells,
            n_probe=n_probe,
            codebook=codebook,
            assignment=assignment,
        ).select("query_id", "neighbor_id", "cosine", "rank")
        res.write.mode("overwrite").parquet(path(out_dir, epoch_id))

    return start(query_stream, handle, checkpoint, "append")


def read_probe_results(spark: SparkSession, out_dir: str) -> DataFrame:
    """Union of all committed epochs (queries are disjoint across epochs;
    replayed epochs overwrote in place)."""
    return read(spark, [path(out_dir, e) for e in committed(out_dir)], _PROBE_SCHEMA)


# --- streaming index maintenance --------------------------------------------

_INVERTED_SCHEMA = "vid bigint, cell_id bigint, ccos double"


def streaming_index_add_sink(
    emb_stream: DataFrame,
    codebook: DataFrame,
    state_dir: str,
    checkpoint: str,
    dims: int,
    compact_every: int = 8,
):
    """The WRITE side of online vector serving: new embeddings arrive as a
    stream and are ADDED to the standing IVF index. The codebook (trained
    once, persisted) never retrains; each micro-batch pays one broadcast
    assignment over ITS OWN vectors only and appends the resulting
    inverted-file delta as `<state>/batch_id=N` -- no read of prior state
    at all, so per-epoch cost is O(batch) at any index size. Assignments
    are immutable per vector, so deltas never rewrite; delta dirs fold
    into a base every `compact_every` epochs (the shared LSM compaction
    in streaming/deltas.py; cell-partitioned in production).
    Overwrite-per-epoch makes crash replays byte-identical:
    exactly-once."""
    from rlink_rs_spark.operators.similarity import ivf_assign
    from rlink_rs_spark.streaming.deltas import delta_sink

    return delta_sink(
        emb_stream,
        lambda batch: ivf_assign(batch, codebook, dims),
        state_dir,
        checkpoint,
        schema=_INVERTED_SCHEMA,
        compact_every=compact_every,
    )


def read_inverted_file(spark: SparkSession, state_dir: str) -> DataFrame:
    """The full inverted file: newest committed base + committed deltas
    above it. Vectors are disjoint across epochs, so that union is the
    index."""
    from rlink_rs_spark.streaming.deltas import read_deltas

    return read_deltas(spark, state_dir, _INVERTED_SCHEMA)


# --- streaming outlier monitor ----------------------------------------------


def streaming_outlier_sink(
    vec_stream: DataFrame,
    cents: DataFrame,
    out_dir: str,
    checkpoint: str,
    dims: int,
    threshold: float,
):
    """Online label-noise monitoring: arriving (vec_id, label, embedding)
    rows are scored against the STANDING per-label centroid prototypes
    (a bounded |labels|-row frame, broadcast per epoch) and anti-aligned
    vectors are flagged. Per-epoch cost is O(batch) -- the corpus is never
    rescanned; per-epoch overwrite commits make replays exactly-once.
    Same shape as streaming_ann_probe_sink: fixed artifact, batch-only
    work, epoch-dir output."""
    from rlink_rs_spark.operators.similarity import label_centroid_cosine

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = label_centroid_cosine(batch_df, cents, dims).where(
            F.col("centroid_cos") < threshold
        )
        res.write.mode("overwrite").parquet(path(out_dir, epoch_id))

    return start(vec_stream, handle, checkpoint, "append")


def read_outlier_results(spark: SparkSession, out_dir: str) -> DataFrame:
    """Union of all committed epochs (vectors are disjoint across epochs)."""
    return read(spark, [path(out_dir, e) for e in committed(out_dir)], _OUTLIER_SCHEMA)
