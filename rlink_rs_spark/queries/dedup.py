"""Dedup queries over the `documents` table, each with a bit-exact DuckDB
oracle (all hashing is md5-based and engine-neutral -- see operators/dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rlink_rs_spark import artifacts
from rlink_rs_spark.operators.dedup import (
    connected_components,
    exact_dedup_groups,
    load_or_build_band_index,
    lsh_candidate_pairs,
    minhash_bands,
    ngram_jaccard_pairs,
    sets_to_postings,
    shingle_sets,
    shingles_sql,
    simhash,
    simhash_pairs,
    verify_jaccard,
    with_shingles,
)
from rlink_rs_spark.operators.repartition import fan_out
from rlink_rs_spark.queries.base import register
from rlink_rs_spark.session import scratch_dir
from rlink_rs_spark.tables import load_table

# Shared DuckDB fragment: distinct (doc_id, shingle) postings, k=3
_SHINGLED_SQL = f"""
  SELECT DISTINCT doc_id, unnest({shingles_sql(3)}) AS shingle FROM documents
"""

# Posting-list cap for the exact inverted-index paths (ADVICE r11): a
# stopword-like shingle with document frequency d costs d(d-1)/2 pair rows
# from one key; keys above the cap carry no dedup signal (PPJoin / Bayardo
# drop them too). Never binds at fixture scale (hottest df=25 at sf0.1,
# ~2.5k extrapolated at sf10); at 100 TB it bounds the worst key at
# ~5*10^7 pair rows. Mirrored verbatim in every oracle that uses it.
_MAX_DF = 10_000

_N_HASHES, _BANDS, _ROWS = 16, 4, 4


def _cached_sets(docs: DataFrame) -> DataFrame:
    """ONE cached map-side shingle_sets scan (r16, guide §2.4/§5) that
    every shingle consumer of a query reads -- the hash kernel, both
    verify joins, and any postings or sizes derived from it. Without the
    cache a map-side builder is recomputed once per consuming subtree
    (the first r16 cut measured that as a 2x regression on
    ngram_jaccard). Within-query intermediate only: bench clears the
    cache between timed queries.

    fan_out BEFORE the cache (r16 session 4, guide §2.2): the cache
    inherits the scan's partitioning, and a one-row-group documents
    file pins the scan -- and therefore EVERY cached-downstream map
    stage (the md5 kernel, the verify joins) -- to ONE task. Spreading
    the docs-sized rows once before caching parallelizes all of it;
    fan_out's layout guard makes this a no-op on genuinely parallel
    (100 TB) scans."""
    return shingle_sets(fan_out(docs)).cache()


def _minhash_pairs(sets: DataFrame, threshold: float = 0.7) -> DataFrame:
    """The verified MinHash-LSH near-dup pairs (id_a, id_b, jaccard) of a
    cached sets frame: md5 band table -> band equi-join candidates ->
    exact Jaccard >= threshold. The one pipeline behind every query
    whose oracle composes _MINHASH_PAIRS_CTES."""
    cands = lsh_candidate_pairs(minhash_bands(sets, _N_HASHES, _BANDS))
    return verify_jaccard(cands, sets, threshold=threshold)


# two 60-bit hashes per salted digest (chars 1-15 / 16-30), the bits
# operators.dedup.minhash_bands computes
_MINHASH_AGGS_SQL = ", ".join(
    f"MIN(('0x' || substr(md5('{i // 2}:' || shingle), {1 if i % 2 == 0 else 16}, 15))::BIGINT) AS h{i}"
    for i in range(_N_HASHES)
)

_BAND_SELECTS_SQL = "\nUNION ALL\n".join(
    "SELECT doc_id, {b} AS band, concat_ws(',', {cols}) AS sig FROM sigs".format(
        b=b, cols=", ".join(f"h{b * _ROWS + r}" for r in range(_ROWS))
    )
    for b in range(_BANDS)
)


@register(
    "exact_dedup_docs",
    """
    SELECT md5(text) AS fingerprint, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
    FROM documents GROUP BY md5(text)
    """,
    "Exact dedup: md5 fingerprint hash-groupBy, canonical id + duplicate "
    "count per distinct content. One shuffle at any scale.",
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "doc_id", "text")


@register(
    "ngram_jaccard_dedup",
    f"""
    WITH shingled AS ({_SHINGLED_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingled GROUP BY doc_id),
    capped AS (
      SELECT s.* FROM shingled s JOIN (
        SELECT shingle FROM shingled GROUP BY shingle
        HAVING COUNT(DISTINCT doc_id) <= {_MAX_DF}
      ) k USING (shingle)
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, i / (sa.n + sb.n - i) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = id_a
               JOIN sizes sb ON sb.doc_id = id_b
    WHERE i / (sa.n + sb.n - i) >= 0.6
    """,
    "Exact n-gram (word 3-gram) Jaccard near-dup pairs >= 0.6 via "
    "inverted-index self-join -- the small-scale baseline for MinHash-LSH.",
)
def ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Deliberately the GROUPED sizes path (sizes=None): r16 measured both
    # the uncached map-side sizes (2.07x) and the cached shared-scan
    # wiring (1.13x) SLOWER here -- the posting stream already exchanges
    # for the pair counts, so the grouped size agg rides runtime shuffle
    # reuse at near-zero cost, while a cache only adds materialization.
    # fan_out (r16 session 4, guide §2.2) attacks the OTHER end: the
    # shared tokenize+shingle map ran at the one-row-group scan's
    # parallelism (1 task) before the postings exchange. Interleaved
    # A/B min-of-3: 2.82 -> 2.05 s (0.73x).
    return ngram_jaccard_pairs(with_shingles(fan_out(docs)), threshold=0.6, max_df=_MAX_DF)


@register(
    "minhash_lsh_near_dup",
    f"""
    WITH shingled AS ({_SHINGLED_SQL}),
    sigs AS (SELECT doc_id, {_MINHASH_AGGS_SQL} FROM shingled GROUP BY doc_id),
    banded AS ({_BAND_SELECTS_SQL}),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    sets AS (SELECT doc_id, list(DISTINCT shingle) AS sh FROM shingled GROUP BY doc_id)
    SELECT id_a, id_b,
           len(list_intersect(sa.sh, sb.sh)) /
           (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
    FROM cands JOIN sets sa ON sa.doc_id = id_a
               JOIN sets sb ON sb.doc_id = id_b
    WHERE len(list_intersect(sa.sh, sb.sh)) /
          (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.7
    """,
    "MinHash (16 md5 perms) + LSH (4 bands x 4 rows) candidate generation, "
    "exact-Jaccard verification >= 0.7 -- the 100 TB near-dup path: banding "
    "replaces all-pairs with an equi-join.",
)
def minhash_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs(_cached_sets(load_table(spark, sf_dir, "documents")))


# the verified MinHash-LSH pair set, as reusable CTE text (identical to the
# minhash_lsh_near_dup oracle, minus the jaccard output column)
_MINHASH_PAIRS_CTES = f"""
shingled AS ({_SHINGLED_SQL}),
sigs AS (SELECT doc_id, {_MINHASH_AGGS_SQL} FROM shingled GROUP BY doc_id),
banded AS ({_BAND_SELECTS_SQL}),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list(DISTINCT shingle) AS sh FROM shingled GROUP BY doc_id),
pairs AS (
  SELECT id_a, id_b
  FROM cands JOIN sets sa ON sa.doc_id = id_a
             JOIN sets sb ON sb.doc_id = id_b
  WHERE len(list_intersect(sa.sh, sb.sh)) /
        (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.7
)"""


@register(
    "near_dup_clusters",
    f"""
    WITH RECURSIVE
    {_MINHASH_PAIRS_CTES},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id,
           src = LEAST(src, MIN(dst)) AS is_canonical
    FROM reach GROUP BY src
    """,
    "Dedup canonicalization: connected components over the verified "
    "MinHash-LSH near-dup pairs (min-label propagation, one equi-join + "
    "min-agg per round, O(cluster diameter) rounds), cluster_id = min doc "
    "id of the component -- keep is_canonical rows, drop the rest. The "
    "oracle computes the same components via a recursive reachability "
    "CTE.",
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cc = connected_components(_minhash_pairs(_cached_sets(docs)).select("id_a", "id_b"))
    return cc.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


@register(
    "dedup_keep_list",
    f"""
    WITH RECURSIVE
    {_MINHASH_PAIRS_CTES},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    drop_ids AS (
      SELECT src AS doc_id FROM reach GROUP BY src
      HAVING src <> LEAST(src, MIN(dst))
    )
    SELECT d.doc_id, d.lang FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM drop_ids x WHERE x.doc_id = d.doc_id)
    """,
    "The finished dedup pipeline output: every document except non-"
    "canonical near-dup cluster members (MinHash-LSH pairs -> connected "
    "components -> keep the min-id representative). One LeftAnti join of "
    "the corpus against the small drop set -- at 100 TB the drop list "
    "broadcasts and the corpus never shuffles.",
    bench=False,  # re-runs the CC iterations; near_dup_clusters already benches them
)
def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _minhash_pairs(_cached_sets(docs)).select("id_a", "id_b")
    drop = (
        connected_components(pairs)
        .where(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    return docs.join(F.broadcast(drop), "doc_id", "left_anti").select("doc_id", "lang")


# per-doc SimHash over `shingled`: the bits operators.dedup.simhash computes
_SIMHASH_CTES = f"""sums AS (
      SELECT doc_id,
             {", ".join(
                 f"SUM(((('0x' || substr(md5(shingle), 9, 8))::BIGINT >> {j}) & 1) * 2 - 1) AS s{j}"
                 for j in range(32)
             )}
      FROM shingled GROUP BY doc_id
    ),
    sims AS (
      SELECT doc_id,
             ({" + ".join(f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(32))})::BIGINT AS simhash
      FROM sums
    )"""


@register(
    "simhash_near_dup",
    f"""
    WITH shingled AS ({_SHINGLED_SQL}),
    {_SIMHASH_CTES}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sims a JOIN sims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    "SimHash (32-bit, md5-derived) near-dup pairs with Hamming distance <= 3; "
    "scale path = pigeonhole banding on byte blocks before verification.",
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # fan_out: the md5 kernel runs map-side, at the scan's parallelism
    # unless the one-row-group file is spread first (r16 session 4,
    # guide §2.2)
    return simhash_pairs(simhash(shingle_sets(fan_out(docs))), max_hamming=3)


# --- incremental batch dedup vs a persisted corpus index ----------------------

_INCR_THR = 0.7


def _history_band_index(spark: SparkSession, sf_dir: str, history: DataFrame) -> DataFrame:
    """The persisted LSH band index of the fixture's history docs
    (the lsh_band_index family, keyed by the documents fingerprint)."""
    return load_or_build_band_index(
        spark,
        shingle_sets(history),
        fingerprint=artifacts.fingerprint(sf_dir, "documents"),
        n_hashes=_N_HASHES,
        bands=_BANDS,
    )


@register(
    "incremental_batch_dedup",
    f"""
    WITH shingled AS ({_SHINGLED_SQL}),
    sigs AS (SELECT doc_id, {_MINHASH_AGGS_SQL} FROM shingled GROUP BY doc_id),
    banded AS ({_BAND_SELECTS_SQL}),
    hist_banded AS (SELECT * FROM banded WHERE doc_id % 4 != 0),
    batch_banded AS (SELECT * FROM banded WHERE doc_id % 4 = 0),
    cands AS (
      SELECT DISTINCT b.doc_id AS id_a, h.doc_id AS id_b
      FROM batch_banded b JOIN hist_banded h ON b.band = h.band AND b.sig = h.sig
      UNION
      SELECT DISTINCT b2.doc_id, b1.doc_id
      FROM batch_banded b1 JOIN batch_banded b2
        ON b1.band = b2.band AND b1.sig = b2.sig AND b1.doc_id < b2.doc_id
    ),
    sets AS (SELECT doc_id, list(DISTINCT shingle) AS sh FROM shingled GROUP BY doc_id),
    near AS (
      SELECT id_a AS bid, MIN(id_b) AS near_dup_of
      FROM cands JOIN sets sa ON sa.doc_id = id_a
                 JOIN sets sb ON sb.doc_id = id_b
      WHERE len(list_intersect(sa.sh, sb.sh)) /
            (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= {_INCR_THR}
      GROUP BY id_a
    ),
    hh AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 4 != 0),
    bh AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 4 = 0),
    bfirst AS (SELECT doc_id, h, MIN(doc_id) OVER (PARTITION BY h) AS min_id FROM bh),
    ex AS (
      SELECT b.doc_id, (hh.h IS NOT NULL OR b.min_id < b.doc_id) AS exact_dup
      FROM bfirst b LEFT JOIN hh ON hh.h = b.h
    )
    SELECT e.doc_id, e.exact_dup, n.near_dup_of,
           (NOT e.exact_dup AND n.near_dup_of IS NULL) AS admit
    FROM ex e LEFT JOIN near n ON n.bid = e.doc_id
    """,
    "Incremental dedup -- the production pipeline shape: an incoming batch "
    "(doc_id % 4 = 0) dedups against the EXISTING corpus via a persisted "
    "LSH band index (artifact on disk, like the IVF codebook) plus itself, "
    "in two stages: exact md5 anti-check, then banded-equi-join candidates "
    f"verified at Jaccard >= {_INCR_THR}. History is never re-shingled per "
    "batch; per-doc verdict: exact_dup / near_dup_of / admit.",
)
def incremental_batch_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage admit/reject for a new batch against a standing corpus:

      1. EXACT: md5(text) of the batch left-joined against the distinct
         history hash set (at scale: a broadcast of hashes, or a shuffle
         anti-join above broadcast size), plus a first-in-batch window so
         in-batch exact dups keep one winner.
      2. NEAR: the batch computes MinHash bands for ITS OWN rows only
         and equi-joins the persisted band index of history
         (load_or_build_band_index artifact) union a within-batch band
         self-join; candidates verify at exact Jaccard >= 0.7.

    100 TB: per batch, history contributes only index reads (band-pruned
    equi-join) + shingle-set lookups for verified candidates; the full
    corpus is never re-scanned. Output: one verdict row per batch doc."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    history = docs.where(F.col("doc_id") % 4 != 0)
    batch = docs.where(F.col("doc_id") % 4 == 0)

    # exact stage
    hist_hashes = history.select(F.md5("text").alias("h")).distinct()
    w = Window.partitionBy("h")
    bh = batch.select("doc_id", F.md5("text").alias("h")).withColumn(
        "min_id", F.min("doc_id").over(w)
    )
    ex = (
        bh.join(hist_hashes.withColumn("in_hist", F.lit(True)), "h", "left")
        .select(
            "doc_id",
            (F.coalesce("in_hist", F.lit(False)) | (F.col("min_id") < F.col("doc_id"))).alias(
                "exact_dup"
            ),
        )
    )

    # near stage: persisted history index + in-batch self join
    hist_banded = _history_band_index(spark, sf_dir, history)
    # the batch band table computes ONCE (shingle + md5 over the batch is
    # the expensive map side) and feeds BOTH candidate joins; cache()
    # because it is consumed by two joins in one action. fan_out first
    # (r16 session 4, guide §2.2): the one-row-group scan otherwise pins
    # the whole hash kernel to a single task.
    batch_banded = minhash_bands(shingle_sets(fan_out(batch)), _N_HASHES, _BANDS).cache()
    bb = batch_banded.select(
        F.col("doc_id").alias("id_a"), F.col("band").alias("band"), F.col("sig").alias("sig")
    )
    hb = hist_banded.select(
        F.col("doc_id").alias("id_b"), F.col("band").alias("band"), F.col("sig").alias("sig")
    )
    cands_hist = bb.join(hb, ["band", "sig"]).select("id_a", "id_b").distinct()
    # within-batch: self-join of the SAME banded table; the LARGER doc is
    # the one rejected in favor of the earlier arrival
    bb2 = batch_banded.select(
        F.col("doc_id").alias("id_b"), F.col("band").alias("band"), F.col("sig").alias("sig")
    )
    cands_batch = (
        bb.join(bb2, ["band", "sig"])
        .where(F.col("id_b") < F.col("id_a"))
        .select("id_a", "id_b")
        .distinct()
    )
    cands = cands_hist.unionByName(cands_batch).distinct()
    near = (
        verify_jaccard(cands, _cached_sets(docs), threshold=_INCR_THR)
        .groupBy(F.col("id_a").alias("doc_id"))
        .agg(F.min("id_b").alias("near_dup_of"))
    )
    return (
        ex.join(near, "doc_id", "left")
        .select(
            "doc_id",
            "exact_dup",
            "near_dup_of",
            (~F.col("exact_dup") & F.col("near_dup_of").isNull()).alias("admit"),
        )
    )


# --- streaming incremental dedup ---------------------------------------------

_INCR_ORACLE_SQL: str | None = None  # set below, shared with the batch twin


@register(
    "streaming_incremental_dedup",
    None,  # replaced right after definition with incremental_batch_dedup's oracle
    "STREAMING twin of incremental_batch_dedup: the incoming docs arrive as "
    "a doc_id-ordered chunked file stream; each micro-batch is admitted "
    "against the persisted history LSH band index plus the accumulated "
    "stream state (hashes + band signatures of earlier micro-batches) via "
    "foreachBatch with per-epoch idempotent commits (exactly-once). The "
    "drained verdicts are row-identical to the batch twin, so it shares "
    "that oracle.",
)
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference is a streaming engine (core/data_stream.rs:102-247);
    its LLM-pipeline extras should stream too. The intake pipeline from
    streaming/dedup.py: history is an on-disk artifact (never re-shingled),
    per-epoch state makes earlier stream docs visible to later ones, and a
    crash at any write of an epoch resumes exactly-once
    (tests/test_crash_matrix.py). Replayed in 2 doc_id-ordered chunks so state
    genuinely carries across micro-batches while the fixture-scale run
    pays the per-epoch constant (state reads + 1 commit) only twice;
    verdicts are chunk-count-invariant ("previously processed" == "smaller
    doc_id" for ANY doc_id-ordered chunking), so the shared batch-twin
    oracle is untouched. Deeper epoch chains stay exercised by the
    kill/resume and compaction suites."""
    from rlink_rs_spark.streaming.dedup import (
        read_verdicts,
        streaming_incremental_dedup_sink,
    )
    from rlink_rs_spark.streaming.sources import file_stream

    docs = load_table(spark, sf_dir, "documents")
    history = docs.where(F.col("doc_id") % 4 != 0)
    hist_banded = _history_band_index(spark, sf_dir, history)
    src = file_stream(
        spark, sf_dir, "documents", max_files_per_trigger=1, chunks=2, order_col="doc_id"
    ).where(F.col("doc_id") % 4 == 0)
    work_dir = scratch_dir("rlink_sdedup_")
    statics: list = []
    q = streaming_incremental_dedup_sink(
        src,
        history,
        hist_banded,
        shingle_sets(docs),
        work_dir=work_dir,
        threshold=_INCR_THR,
        n_hashes=_N_HASHES,
        bands=_BANDS,
        static_frames_out=statics,
    )
    try:
        drain(q, what="streaming_incremental_dedup")
    finally:
        for f in statics:
            f.unpersist()
    return read_verdicts(spark, work_dir)


# share the batch twin's oracle verbatim: the drained stream result is
# row-identical by construction (doc_id-ordered chunks make "previously
# processed" == "smaller doc_id")
import dataclasses as _dc  # noqa: E402

from rlink_rs_spark.queries.base import REGISTRY as _REG  # noqa: E402
from rlink_rs_spark.streaming.runner import drain

_REG["streaming_incremental_dedup"] = _dc.replace(
    _REG["streaming_incremental_dedup"], oracle=_REG["incremental_batch_dedup"].oracle
)


# --- n-gram containment ------------------------------------------------------

_CONT_K = 3
_CONT_THR = 0.5

_CONTAINMENT_ORACLE = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest({shingles_sql(_CONT_K)}) AS shingle FROM documents
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
capped AS (
  SELECT s.* FROM sh s JOIN (
    SELECT shingle FROM sh GROUP BY shingle
    HAVING COUNT(DISTINCT doc_id) <= {_MAX_DF}
  ) k USING (shingle)
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS common
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, common, sa.n_sh AS n_a,
       CAST(common AS DOUBLE) / CAST(sa.n_sh AS DOUBLE) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
WHERE CAST(common AS DOUBLE) / CAST(sa.n_sh AS DOUBLE) >= {_CONT_THR}
"""


@register(
    "ngram_containment_pairs",
    _CONTAINMENT_ORACLE,
    "Asymmetric containment detection: |shingles(A) n shingles(B)| / "
    "|shingles(A)| >= 0.5 -- finds docs LARGELY CONTAINED in another "
    "(quotes, partial copies) that symmetric Jaccard misses when sizes "
    "differ.",
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment is the dedup family's asymmetric member (Broder's
    original resemblance/containment pair): a short doc quoted inside a
    long one scores low Jaccard (union is dominated by the long doc) but
    high containment. Candidate generation is the inverted index folded to
    per-shingle posting arrays (operators/dedup.postings_pair_counts):
    intersection counts are symmetric, so ONE undirected pair row carries
    both directions -- half the pair-row volume of the r10 self-join plan
    (its 0.852x-vs-linear 100x row, VERDICT r10 #3) and one postings
    shuffle instead of two. Both directed containments gate on the same
    row (common/n_a, common/n_b) BEFORE the surviving directions expand,
    so the expansion union runs on result-sized data (hundreds of rows),
    never candidate-sized. Directed output: (a contained-in b) and (b
    contained-in a) are independent rows."""
    from rlink_rs_spark.operators.dedup import postings_pair_counts

    docs = load_table(spark, sf_dir, "documents")
    # with_shingles emits distinct (doc, shingle) rows by construction
    # (per-doc array_distinct, r15) -- no extra exchange needed.
    # Deliberately the GROUPED sizes path: r16 measured both the uncached
    # map-side sizes (1.79x) and the cached shared-scan wiring (1.23x)
    # SLOWER here -- same shuffle-reuse reasoning as ngram_jaccard_dedup.
    # fan_out parallelizes the shared 8-gram tokenize map that ran as one
    # scan task (r16 session 4, guide §2.2; A/B 2.84 -> 1.55 s min-of-3).
    sh = with_shingles(fan_out(docs), k=_CONT_K)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_sh"))
    und = (
        postings_pair_counts(sh, max_df=_MAX_DF)
        .join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb")), "id_b")
        .where(
            (F.col("common") >= F.lit(_CONT_THR) * F.col("na"))
            | (F.col("common") >= F.lit(_CONT_THR) * F.col("nb"))
        )
    )
    fwd = und.where(F.col("common") >= F.lit(_CONT_THR) * F.col("na")).select(
        "id_a", "id_b", "common", F.col("na").alias("n_a")
    )
    rev = und.where(F.col("common") >= F.lit(_CONT_THR) * F.col("nb")).select(
        F.col("id_b").alias("id_a"),
        F.col("id_a").alias("id_b"),
        "common",
        F.col("nb").alias("n_a"),
    )
    return fwd.unionAll(rev).select(
        "id_a",
        "id_b",
        "common",
        "n_a",
        (F.col("common").cast("double") / F.col("n_a").cast("double")).alias(
            "containment"
        ),
    )


# --- LSH recall evaluation (the banding S-curve, measured) --------------------

_LSH_EVAL_THR = 0.7


@register(
    "lsh_recall_report",
    f"""
    WITH exact_pairs AS (
      SELECT * FROM ({_REG["ngram_jaccard_dedup"].oracle}) WHERE jaccard >= {_LSH_EVAL_THR}
    ),
    lsh_pairs AS (
      SELECT id_a, id_b FROM ({_REG["minhash_lsh_near_dup"].oracle})
    )
    SELECT CAST(FLOOR(e.jaccard * 10) AS BIGINT) AS jaccard_band,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(l.id_a) AS BIGINT) AS n_caught,
           CAST(COUNT(l.id_a) AS DOUBLE) / COUNT(*) AS recall
    FROM exact_pairs e
    LEFT JOIN lsh_pairs l ON l.id_a = e.id_a AND l.id_b = e.id_b
    GROUP BY 1
    """,
    "Dedup-eval harness: per-jaccard-band recall of the MinHash-LSH pair "
    f"set against the exact inverted-index baseline at >= {_LSH_EVAL_THR} "
    "-- the measured banding S-curve (recall rises with similarity) that "
    "picks (bands, rows) for a target similarity threshold. Oracle "
    "composes the two registered oracles verbatim.",
    bench=False,  # re-runs the two dedup plans ngram_jaccard/minhash_lsh already time
)
def lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same composition discipline as ann_recall_report: both sides ARE
    the registered queries (shared shingle pass via with_shingles), so the
    S-curve measures production behavior. At 100 TB only the LSH side
    scales; the exact side is the audit you run on a SAMPLE -- the report
    shape is identical either way."""
    # one cached shingle scan feeds exact pair counts, size joins, the
    # hash kernel AND verify sets (r16, _cached_sets)
    sets = _cached_sets(load_table(spark, sf_dir, "documents"))
    sizes = sets.select("doc_id", F.size("sh").cast("long").alias("n"))
    exact = ngram_jaccard_pairs(
        sets_to_postings(sets), threshold=_LSH_EVAL_THR, max_df=_MAX_DF, sizes=sizes
    )
    lsh = (
        _minhash_pairs(sets, threshold=_LSH_EVAL_THR)
        .select("id_a", "id_b")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(lsh, ["id_a", "id_b"], "left")
        .groupBy(F.floor(F.col("jaccard") * 10).cast("bigint").alias("jaccard_band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.count("hit").cast("bigint").alias("n_caught"),
            (F.count("hit").cast("double") / F.count(F.lit(1))).alias("recall"),
        )
    )


# --- cross-source duplication leakage ------------------------------------------

_LEAKAGE_ORACLE = f"""
WITH
{_MINHASH_PAIRS_CTES},
src AS (SELECT doc_id, source FROM documents)
SELECT LEAST(a.source, b.source) AS source_a,
       GREATEST(a.source, b.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(CASE WHEN a.source <> b.source THEN 1 END) AS BIGINT)
         AS n_cross
FROM pairs p
JOIN src a ON a.doc_id = p.id_a
JOIN src b ON b.doc_id = p.id_b
GROUP BY 1, 2
"""


@register(
    "source_leakage_matrix",
    _LEAKAGE_ORACLE,
    "Corpus-governance report: the verified MinHash-LSH near-dup pairs "
    "aggregated into a source x source matrix (unordered source pair, "
    "total pairs, cross-source count) -- which ingestion sources copy "
    "from each other, the question a dedup run answers BEFORE choosing "
    "what to drop. Oracle composes the registered minhash pair CTEs "
    "verbatim.",
    bench=False,  # re-runs the minhash_lsh_near_dup plan already timed
)
def source_leakage_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pair set IS the registered minhash_lsh_near_dup plan (shared
    shingle pass); the matrix adds two corpus-side lookups of the tiny
    (doc_id, source) projection and one result-sized groupBy. At 100 TB
    the pair list is orders of magnitude smaller than the corpus, so the
    lookups broadcast the PAIR side, never the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _minhash_pairs(_cached_sets(docs)).select("id_a", "id_b")
    src = docs.select("doc_id", "source")
    j = (
        pairs.join(src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa")), "id_a")
        .join(src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb")), "id_b")
    )
    return (
        j.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            (F.col("sa") != F.col("sb")).alias("is_cross"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("is_cross"), 1).otherwise(0)).cast("bigint").alias("n_cross"),
        )
    )
