"""Full-text retrieval queries: BM25 keyword search over `documents`.

The reference's users run keyword relevance ranking downstream of its text
pipelines (rlink-rs analytics surface); at LLM-corpus scale the same shape
powers data selection by query relevance. Spark-first design: the corpus is
tokenized and term-frequency-aggregated with ONE map-side-combinable
shuffle; the query set, per-term document frequencies, and corpus totals
are all broadcast, so the corpus never shuffles again after the tf
aggregate.

Cross-engine exactness: every BM25 term contribution is computed from
BIGINT inputs (tf, df, dl, n_docs, dl_sum) by ONE expression string shared
verbatim between Spark and DuckDB, scaled to integer micro-points and
rounded BEFORE the reassociative per-doc sum (the `lm_perplexity_filter`
micro-nats pattern), so the float score column value-hash matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rlink_rs_spark.queries.base import register
from rlink_rs_spark.session import scratch_dir
from rlink_rs_spark.tables import load_table
from rlink_rs_spark.streaming.runner import drain

# Fixed benchmark query set (vocabulary drawn from the synthetic corpus).
BM25_QUERIES: list[tuple[str, list[str]]] = [
    ("q_window", ["window", "filter", "agg"]),
    ("q_stream", ["stream", "join", "merge"]),
    ("q_vector", ["vector", "query", "scan"]),
]
BM25_TOP_K = 10

# BM25 (Robertson/Sparck Jones, k1=1.2, b=0.75): one shared expression
# string -- identical parse, identical IEEE evaluation order in both
# engines; rounded to integer micro-points per (query, term, doc) row.
_BM25_CONTRIB = (
    "CAST(ROUND(1000000.0 * LN(1.0 + "
    "(CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)"
    ") * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * "
    "(0.25 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(dl_sum AS DOUBLE))"
    "))) AS BIGINT)"
)

_QUERY_VALUES = ", ".join(
    f"('{qid}', '{t}')" for qid, terms in BM25_QUERIES for t in terms
)

_BM25_ORACLE = f"""
WITH tokens AS (
  SELECT doc_id, term
  FROM (SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        FROM documents)
  WHERE term <> ''
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tokens GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS dl_sum
  FROM dl
),
qterms AS (
  SELECT * FROM (VALUES {_QUERY_VALUES}) AS q(query_id, term)
),
dfc AS (
  SELECT t.term, CAST(COUNT(*) AS BIGINT) AS df
  FROM tf t
  WHERE t.term IN (SELECT DISTINCT term FROM qterms)
  GROUP BY t.term
),
contrib AS (
  SELECT q.query_id, t.doc_id, {_BM25_CONTRIB} AS c
  FROM tf t
  JOIN qterms q ON q.term = t.term
  JOIN dfc ON dfc.term = t.term
  JOIN dl ON dl.doc_id = t.doc_id
  CROSS JOIN totals
),
scored AS (
  SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score_micro
  FROM contrib GROUP BY query_id, doc_id
)
SELECT query_id, rank, doc_id, score_micro / 1000000.0 AS score
FROM (SELECT query_id, doc_id, score_micro,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score_micro DESC, doc_id) AS INT) AS rank
      FROM scored)
WHERE rank <= {BM25_TOP_K}
"""


@register(
    "bm25_keyword_search",
    _BM25_ORACLE,
    "BM25 (k1=1.2, b=0.75) top-10 document retrieval for a fixed 3-query "
    "benchmark set: one corpus tf shuffle, broadcast query terms / df / "
    "corpus totals, integer micro-point term contributions.",
)
def bm25_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB shape: the corpus shuffles ONCE (the (doc, term) tf
    aggregate, map-side combined); `dl` re-aggregates that output by
    doc_id. Everything query-side (query terms, per-term df restricted to
    query terms, the 1-row corpus totals) is broadcast, so candidate
    scoring is a map-side pass over the tf rows that match a query term.
    The totals cross join is a 1-row broadcast (by-design NLJ, the
    `source_mix_report` shape). Final top-k is a per-query rank window
    over the scored candidates only -- never the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    # tf feeds FOUR consumers (dl, totals-via-dl, df, scoring); Spark does
    # not reuse the subplan across them, so cache the one corpus shuffle
    # (the lm_perplexity_filter bigram-cache pattern). fan_out spreads the
    # tokenize+explode map feeding that shuffle -- it ran at the one-row-
    # group scan's parallelism (r16 session 4, guide §2.2; interleaved
    # A/B 2.86 -> 2.65 s min-of-3).
    from rlink_rs_spark.operators.repartition import fan_out

    tf = corpus_tf(fan_out(docs)).cache()
    return bm25_score_tf(spark, tf)


def corpus_tf(docs: DataFrame) -> DataFrame:
    """The ONE corpus shuffle of the BM25 family: per-(doc, term) counts,
    map-side combined. Per-doc rows are immutable, so the streaming index
    twin appends exactly these rows as per-epoch deltas."""
    tokens = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
        )
        .where(F.col("term") != "")
    )
    return tokens.groupBy("doc_id", "term").agg(
        F.count("*").cast("bigint").alias("tf")
    )


def bm25_score_tf(
    spark: SparkSession,
    tf: DataFrame,
    qterms: DataFrame | None = None,
    k: int = BM25_TOP_K,
    exclude_self: bool = False,
) -> DataFrame:
    """Score a (query_id, term) query table against a (doc_id, term, tf)
    index table -- shared verbatim by the batch query (tf from one corpus
    pass), the streaming index twin (tf drained from epoch deltas), and
    the hybrid RRF retriever (qterms mined from exemplar docs, with the
    exemplar itself excluded). qterms=None scores the fixed benchmark
    query set."""
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    totals = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("dl_sum"),
    )
    if qterms is None:
        qterms = spark.createDataFrame(
            [(qid, t) for qid, terms in BM25_QUERIES for t in terms],
            "query_id string, term string",
        )
    dfc = (
        tf.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("df"))
    )
    contrib = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfc), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(totals))
        .withColumn("c", F.expr(_BM25_CONTRIB))
    )
    if exclude_self:
        contrib = contrib.where(F.col("doc_id") != F.col("query_id"))
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("c").cast("bigint").alias("score_micro")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "doc_id",
            (F.col("score_micro") / F.lit(1000000.0)).alias("score"),
        )
    )


# --- positional phrase search ----------------------------------------------

# Fixed phrase set (vocabulary drawn from the synthetic corpus); slot =
# 0-based position of the term inside the phrase. Arbitrary-length phrases
# are supported -- the set includes a trigram on purpose.
PHRASE_QUERIES: list[tuple[str, list[str]]] = [
    ("p_table_hash", ["table", "hash"]),
    ("p_merge_group", ["merge", "group"]),
    ("p_table_hash_agg", ["table", "hash", "agg"]),
]
PHRASE_TOP_K = 10

_PHRASE_VALUES = ", ".join(
    f"('{pid}', {slot}, '{t}', {len(terms)})"
    for pid, terms in PHRASE_QUERIES
    for slot, t in enumerate(terms)
)

_PHRASE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS term,
         CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS BIGINT) AS pos
  FROM documents
),
phrases AS (
  SELECT * FROM (VALUES {_PHRASE_VALUES}) AS p(phrase_id, slot, term, plen)
),
anchored AS (
  SELECT p.phrase_id, t.doc_id, t.pos - p.slot AS anchor, p.slot, p.plen
  FROM toks t JOIN phrases p ON t.term = p.term
  WHERE t.pos - p.slot >= 0
),
matches AS (
  SELECT phrase_id, doc_id, anchor
  FROM anchored
  GROUP BY phrase_id, doc_id, anchor, plen
  HAVING COUNT(DISTINCT slot) = plen
),
per_doc AS (
  SELECT phrase_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
  FROM matches GROUP BY phrase_id, doc_id
)
SELECT phrase_id, rank, doc_id, n_matches
FROM (SELECT phrase_id, doc_id, n_matches,
             CAST(ROW_NUMBER() OVER (PARTITION BY phrase_id
                                     ORDER BY n_matches DESC, doc_id) AS INT) AS rank
      FROM per_doc)
WHERE rank <= {PHRASE_TOP_K}
"""


@register(
    "phrase_search_positional",
    _PHRASE_ORACLE,
    "Exact phrase search over a POSITIONAL inverted index: each posting "
    "(term, doc, pos) that matches a phrase term at slot s votes for "
    "anchor position pos-s; an anchor with all |phrase| distinct slots "
    "present is one occurrence. ONE broadcast join against the tiny "
    "phrase table + one combinable aggregate replaces per-slot postings "
    "self-joins, so arbitrary-length phrases cost the same two shuffles "
    "as bigrams. The corpus prunes to query-term postings MAP-SIDE "
    "before any exchange; the rank window sees candidate docs only. "
    "(BM25 above is the bag-of-words ranker; this is the adjacency-"
    "exact complement an IR stack needs for quoted queries.)",
)
def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slot-voting phrase match: anchor = pos - slot groups every aligned
    occurrence of the phrase's terms; COUNT(DISTINCT slot) == |phrase|
    certifies adjacency without pairwise joins (repeated words inside a
    phrase are why the count is DISTINCT)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "term")
    phrases = spark.createDataFrame(
        [
            (pid, slot, t, len(terms))
            for pid, terms in PHRASE_QUERIES
            for slot, t in enumerate(terms)
        ],
        "phrase_id string, slot int, term string, plen int",
    )
    anchored = (
        toks.join(F.broadcast(phrases), "term")
        .withColumn("anchor", F.col("pos") - F.col("slot"))
        .where(F.col("anchor") >= 0)
    )
    matches = (
        anchored.groupBy("phrase_id", "doc_id", "anchor", "plen")
        .agg(F.countDistinct("slot").alias("n_slots"))
        .where(F.col("n_slots") == F.col("plen"))
    )
    per_doc = matches.groupBy("phrase_id", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches")
    )
    w = Window.partitionBy("phrase_id").orderBy(
        F.col("n_matches").desc(), F.col("doc_id")
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= PHRASE_TOP_K)
        .select("phrase_id", "rank", "doc_id", "n_matches")
    )


@register(
    "streaming_bm25_index_add",
    _BM25_ORACLE,  # shared with the batch query: scoring reads the same
    #               (doc_id, term, tf) index either way
    "STREAMING full-text index maintenance: documents arrive as a "
    "stream and are ADDED to a standing (doc, term, tf) posting table "
    "-- each micro-batch tokenizes and tf-aggregates its own rows only "
    "(O(batch) per epoch, the corpus never re-tokenizes) and appends an "
    "immutable delta. BM25 over the drained index equals the batch "
    "query bit-for-bit (shared oracle): WHEN a document was ingested "
    "cannot change how it scores.",
)
def streaming_bm25_index_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay documents in 3 doc_id-ordered chunks through the index sink
    (streaming/search_index.py), then score the fixed query set against
    the drained posting table with the SAME bm25_score_tf the batch
    query uses."""
    from rlink_rs_spark.streaming.search_index import (
        read_posting_table,
        streaming_bm25_index_sink,
    )
    from rlink_rs_spark.streaming.sources import file_stream

    src = file_stream(
        spark, sf_dir, "documents", max_files_per_trigger=1, chunks=3,
        order_col="doc_id",
    )
    state_dir = scratch_dir("rlink_bm25_idx_")
    q = streaming_bm25_index_sink(
        src.select("doc_id", "text"),
        state_dir=state_dir,
    )
    drain(q, what="streaming_bm25_index_add")
    tf = read_posting_table(spark, state_dir).cache()
    return bm25_score_tf(spark, tf)


# --- hybrid retrieval: lexical + vector with reciprocal-rank fusion --------

# Query-by-exemplar: doc_id and vec_id share an id space in the fixtures
# (TESTDATA.md), so each exemplar contributes BOTH a lexical query (its
# top-M distinctive terms, more-like-this style) and a vector query (its
# embedding row). Cormack/Clarke/Buettcher reciprocal-rank fusion
# (SIGIR'09): score(d) = sum over lists of 1/(K + rank_d), K=60.
HYBRID_QUERY_DOCS = [0, 1, 2]
_HY_MLT_TERMS = 8  # exemplar terms kept: top-M by (tf DESC, term ASC)
_HY_LIST_N = 20    # depth of each ranked list entering the fusion
_HY_TOP_K = 10
_HY_RRF_K = 60

_HY_IDS = ", ".join(str(i) for i in HYBRID_QUERY_DOCS)
_HY_COS = None  # assembled lazily below to keep import order obvious

from rlink_rs_spark.operators.similarity import cosine_expr  # noqa: E402

_HY_COS = cosine_expr("sa.embedding", "sb.embedding", 64, base=1)

# RRF points in integer micro-units: 1e6/(60+rank) is never an exact .5
# for rank 1..20 (2e6 has no odd quotient by 61..80), so HALF_UP vs
# banker's rounding cannot diverge between engines -- the fused score is
# BIGINT-exact.
_HY_PTS = f"CAST(ROUND(1000000.0 / ({_HY_RRF_K} + rank)) AS BIGINT)"

# Lexical leg + fusion tail are shared verbatim by the batch oracle and
# the streaming twin's (whose vector leg is the IVF probe instead of the
# exact scan).
_HY_LEX_CTES = f"""tokens AS (
  SELECT doc_id, term
  FROM (SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        FROM documents)
  WHERE term <> ''
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tokens GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS dl_sum
  FROM dl
),
qterms AS (
  SELECT query_id, term FROM (
    SELECT doc_id AS query_id, term,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY tf DESC, term) AS r
    FROM tf WHERE doc_id IN ({_HY_IDS})
  ) WHERE r <= {_HY_MLT_TERMS}
),
dfc AS (
  SELECT t.term, CAST(COUNT(*) AS BIGINT) AS df
  FROM tf t
  WHERE t.term IN (SELECT DISTINCT term FROM qterms)
  GROUP BY t.term
),
contrib AS (
  SELECT q.query_id, t.doc_id, {_BM25_CONTRIB} AS c
  FROM tf t
  JOIN qterms q ON q.term = t.term AND t.doc_id <> q.query_id
  JOIN dfc ON dfc.term = t.term
  JOIN dl ON dl.doc_id = t.doc_id
  CROSS JOIN totals
),
lex AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_micro DESC, doc_id) AS rank
  FROM (SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score_micro
        FROM contrib GROUP BY query_id, doc_id)
)"""

_HY_FUSE_TAIL = f"""hits AS (
  SELECT query_id, doc_id, {_HY_PTS} AS pts FROM lex WHERE rank <= {_HY_LIST_N}
  UNION ALL
  SELECT query_id, doc_id, {_HY_PTS} AS pts FROM vec WHERE rank <= {_HY_LIST_N}
),
fused AS (
  SELECT query_id, doc_id, CAST(SUM(pts) AS BIGINT) AS rrf_micro
  FROM hits GROUP BY query_id, doc_id
)
SELECT query_id, rank, doc_id, rrf_micro
FROM (SELECT query_id, doc_id, rrf_micro,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY rrf_micro DESC, doc_id) AS INT) AS rank
      FROM fused)
WHERE rank <= {_HY_TOP_K}
"""

_HYBRID_ORACLE = f"""
WITH {_HY_LEX_CTES},
vscored AS (
  SELECT sa.vec_id AS query_id, sb.vec_id AS doc_id, {_HY_COS} AS cosine
  FROM embeddings sa JOIN embeddings sb ON sa.vec_id <> sb.vec_id
  WHERE sa.vec_id IN ({_HY_IDS})
),
vec AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, doc_id ASC) AS rank
  FROM vscored
),
{_HY_FUSE_TAIL}"""


@register(
    "hybrid_search_rrf",
    _HYBRID_ORACLE,
    "Hybrid retrieval by exemplar document: a lexical BM25 more-like-this "
    "list (exemplar's top-8 terms by tf) and a vector cosine list (the "
    "exemplar's embedding) are fused with reciprocal-rank fusion "
    "(1/(60+rank), integer micro-points). The two-stage "
    "retrieve-then-fuse shape every RAG/data-selection stack runs; "
    "composes the repo's BM25 and ANN primitives.",
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB shape: both retrievers are the proven scale plans -- the
    corpus shuffles once into (doc, term, tf) for BM25 (query side all
    broadcast), and the vector list broadcasts 3 query rows against the
    embeddings scan. Fusion then runs on <= 2 * list_n * n_queries rows
    (candidates only, never the corpus): a union, one tiny groupBy, and a
    per-query rank window. RRF points are integer micro-units so the
    fused ordering is BIGINT-exact across engines."""
    from rlink_rs_spark.operators import similarity as sim_ops

    from rlink_rs_spark.operators.repartition import fan_out

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # fan_out: same single-scan-task tokenize map as bm25_keyword_search
    tf = corpus_tf(fan_out(docs)).cache()
    wq = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), F.col("term"))
    qterms = (
        tf.where(F.col("doc_id").isin(HYBRID_QUERY_DOCS))
        .withColumn("r", F.row_number().over(wq))
        .where(F.col("r") <= _HY_MLT_TERMS)
        .select(F.col("doc_id").alias("query_id"), "term")
    )
    lex = bm25_score_tf(spark, tf, qterms=qterms, k=_HY_LIST_N, exclude_self=True)
    vec = sim_ops.cosine_topk(
        emb, emb.where(F.col("vec_id").isin(HYBRID_QUERY_DOCS)), dims=64, k=_HY_LIST_N
    )
    return _rrf_fuse(lex, vec)


def _rrf_fuse(lex: DataFrame, vec: DataFrame) -> DataFrame:
    """Reciprocal-rank fusion of a (query_id, doc_id, rank) lexical list
    and a (query_id, neighbor_id, rank) vector list, shared by the batch
    and streaming hybrid retrievers. Candidates only -- never the corpus:
    a union of <= 2 * list_n rows per query, one tiny groupBy, and a
    per-query rank window."""
    pts = F.expr(_HY_PTS)
    hits = lex.select(
        F.col("query_id").cast("bigint").alias("query_id"), "doc_id", pts.alias("pts")
    ).unionByName(
        vec.select(
            F.col("query_id").cast("bigint").alias("query_id"),
            F.col("neighbor_id").alias("doc_id"),
            pts.alias("pts"),
        )
    )
    fused = hits.groupBy("query_id", "doc_id").agg(
        F.sum("pts").cast("bigint").alias("rrf_micro")
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("rrf_micro").desc(), F.col("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(wf).cast("int"))
        .where(F.col("rank") <= _HY_TOP_K)
        .select("query_id", "rank", "doc_id", "rrf_micro")
    )


# --- streaming hybrid retrieval: serve from two stream-maintained indexes ---

from rlink_rs_spark.queries.similarity import (  # noqa: E402
    _COS_DUCK,
    _IVF_ASSIGN_COS,
    _IVF_CELLS,
    _IVF_ITERS,
    _IVF_PROBE,
    _ivf_kmeans_ctes,
)

_STREAM_HYBRID_ORACLE = f"""
WITH {_ivf_kmeans_ctes(_IVF_ITERS)},
assign_scored AS (
  SELECT v.vec_id AS vid, c.cell_id, {_IVF_ASSIGN_COS} AS cs
  FROM embeddings v CROSS JOIN cents c
),
assign_ranked AS (
  SELECT vid, cell_id,
         ROW_NUMBER() OVER (PARTITION BY vid ORDER BY cs DESC, cell_id ASC) AS rn
  FROM assign_scored
),
iassign AS (SELECT vid AS neighbor_id, cell_id FROM assign_ranked WHERE rn = 1),
iprobes AS (SELECT vid AS query_id, cell_id FROM assign_ranked
            WHERE rn <= {_IVF_PROBE} AND vid IN ({_HY_IDS})),
icands AS (
  SELECT DISTINCT query_id, neighbor_id
  FROM iprobes JOIN iassign USING (cell_id)
  WHERE query_id <> neighbor_id
),
ivscored AS (
  SELECT query_id, neighbor_id AS doc_id, {_COS_DUCK} AS cosine
  FROM icands JOIN embeddings sa ON sa.vec_id = query_id
              JOIN embeddings sb ON sb.vec_id = neighbor_id
),
vec AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, doc_id ASC) AS rank
  FROM ivscored
),
{_HY_LEX_CTES},
{_HY_FUSE_TAIL}"""


@register(
    "streaming_hybrid_search",
    _STREAM_HYBRID_ORACLE,
    "Hybrid retrieval SERVED FROM TWO STREAM-MAINTAINED INDEXES: the BM25 "
    "posting table and the IVF inverted file are both built by online "
    "index-maintenance sinks (documents and embeddings arriving as "
    "concurrent streams), then the exemplar queries run a lexical "
    "more-like-this against the drained posting table and an IVF probe "
    "against the drained inverted file, fused with reciprocal-rank "
    "fusion. The full retrieval stack -- continuous ingest on the write "
    "side, candidates-only serving on the read side.",
)
def streaming_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both index sinks run CONCURRENTLY (independent checkpoints and
    state dirs -- write-side parallelism is free because the indexes
    share nothing). Serving never scans a corpus: the lexical leg's
    query side is broadcast against the posting table, the vector leg
    reads only probed cells of the inverted file, and fusion sees at
    most 2 * list_n candidates per query. Per-epoch index cost is
    O(batch) at any index size (the delta-sink contract proven by the
    two index-maintenance queries this composes)."""
    from rlink_rs_spark.operators import similarity as sim_ops
    from rlink_rs_spark.queries.similarity import (
        _artifact_dir,
        _DIMS,
        _embeddings_fingerprint,
    )
    from rlink_rs_spark.streaming.ann import (
        read_inverted_file,
        streaming_index_add_sink,
    )
    from rlink_rs_spark.streaming.search_index import (
        read_posting_table,
        streaming_bm25_index_sink,
    )
    from rlink_rs_spark.streaming.sources import file_stream

    bm_state = scratch_dir("rlink_hyb_bm25_")
    q_bm = streaming_bm25_index_sink(
        file_stream(
            spark, sf_dir, "documents", max_files_per_trigger=1, chunks=3,
            order_col="doc_id",
        ).select("doc_id", "text"),
        state_dir=bm_state,
    )
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
    ivf_state = scratch_dir("rlink_hyb_ivf_")
    q_ivf = streaming_index_add_sink(
        file_stream(
            spark, sf_dir, "embeddings", max_files_per_trigger=1, chunks=3,
            order_col="vec_id",
        ).select("vec_id", "embedding"),
        codebook=codebook,
        state_dir=ivf_state,
        dims=_DIMS,
    )
    drain(q_bm, q_ivf, what="streaming_hybrid_search")

    return serve_hybrid(
        spark,
        read_posting_table(spark, bm_state).cache(),
        emb,
        codebook,
        read_inverted_file(spark, ivf_state),
    )


def serve_hybrid(spark, tf, emb, codebook, assignment):
    """The read side of hybrid retrieval, index-agnostic: score the
    exemplar more-like-this terms against ANY (doc_id, term, tf) posting
    table and probe ANY (vid, cell_id) inverted file -- shared by the
    stream-maintained path and its batch-built pytest twin, so the
    streamed-equals-batch witness exercises exactly the serving code."""
    from rlink_rs_spark.operators import similarity as sim_ops
    from rlink_rs_spark.queries.similarity import _DIMS

    wq = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), F.col("term"))
    qterms = (
        tf.where(F.col("doc_id").isin(HYBRID_QUERY_DOCS))
        .withColumn("r", F.row_number().over(wq))
        .where(F.col("r") <= _HY_MLT_TERMS)
        .select(F.col("doc_id").alias("query_id"), "term")
    )
    lex = bm25_score_tf(spark, tf, qterms=qterms, k=_HY_LIST_N, exclude_self=True)
    vec = sim_ops.cosine_topk_ivf(
        emb,
        emb.where(F.col("vec_id").isin(HYBRID_QUERY_DOCS)),
        dims=_DIMS,
        k=_HY_LIST_N,
        n_cells=_IVF_CELLS,
        n_probe=_IVF_PROBE,
        codebook=codebook,
        assignment=assignment,
    )
    return _rrf_fuse(lex, vec)
