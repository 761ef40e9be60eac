"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (it has no dedup operators at all) -- these
are the 100 TB extras mandated by the build brief: exact dedup, n-gram
Jaccard, MinHash+LSH, and SimHash near-dup detection over a documents table.

Design stance for scale:
  * All hashing is md5 over UTF-8 bytes, so every operator is oracle-
    checkable bit for bit. MinHash bands and SimHash run in one NumPy
    kernel over the per-doc shingle arrays (``minhash_bands``,
    ``simhash``: one ``mapInArrow`` each, pickled by value); the DuckDB
    oracles evaluate the same bits as SQL text. Bit contract, with hi/lo
    the big-endian 64-bit halves of a digest: MinHash hash 2i is
    ``hi >> 4`` of md5(f"{i}:{s}") (hex chars 1-15), hash 2i+1 is
    ``((hi & 0xF) << 56) | (lo >> 8)`` (chars 16-30), each a per-doc
    minimum; band b is the ","-joined decimals of its rows' hashes, as
    ``concat_ws`` writes them. SimHash takes ``hi & 0xFFFFFFFF`` of md5(s)
    (chars 9-16). A doc with no shingles has no row.
  * Exact dedup is one hash-groupBy (map-side partial agg, one shuffle).
  * MinHash signatures are per-doc minimums computed where the doc's
    shingle array already is -- no posting explode, no K-fold row
    expansion, no exchange before the band join.
  * LSH banding turns all-pairs comparison into an equi-join on
    (band_id, band_signature) -- the scale path; the exact n-gram
    inverted-index join is the small-scale/oracle baseline.
  * Candidate verification intersects per-doc shingle *arrays* (already
    grouped), avoiding a second postings join.
"""

from __future__ import annotations

import hashlib
import math
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rlink_rs_spark import artifacts

cloudpickle.register_pickle_by_value(sys.modules[__name__])

# --- shingling ---------------------------------------------------------------

def tokens_col(text_col: str = "text") -> Column:
    """Whitespace tokenization -- identical to DuckDB string_split(text, ' ')."""
    return F.split(F.col(text_col), " ")


def with_shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """(id, shingle) postings, one row per *distinct* word k-gram per doc.

    The k-gram is built by explicit 0-based indexing (t[i] .. t[i+k-1]) so
    the DuckDB twin (1-based list comprehension) produces identical strings.
    """
    t = "__t"
    parts = " , ' ', ".join(f"{t}[i + {j}]" for j in range(k))
    # Guard short docs: for size(t) < k, sequence(0, size-k) is NOT empty
    # (sequence(0,-1) = [0,-1]) and the out-of-bounds t[i+j] throws under
    # ANSI mode (PySpark 4 default). Emit an empty array instead; the DuckDB
    # twin's range() is empty for short docs, so both engines yield 0 rows.
    shingle_expr = (
        f"CASE WHEN size({t}) >= {k} "
        f"THEN array_distinct(transform(sequence(0, size({t}) - {k}), i -> concat({parts}))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    # r15 (guide §2.4): per-doc array_distinct BEFORE the explode replaces
    # the old global .distinct() -- the distinct key was (id, shingle), so
    # deduping within each doc's array yields the IDENTICAL row set while
    # removing a full exchange of the posting rows from every consumer
    # (postings joins, pair counts); the postings
    # stream stays entirely map-side until each consumer's own keyed agg.
    return (
        df.select(F.col(id_col), tokens_col(text_col).alias(t))
        .select(F.col(id_col), F.explode_outer(F.expr(shingle_expr)).alias("shingle"))
        .where(F.col("shingle").isNotNull())
    )


def shingle_sets(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Per-doc DISTINCT shingle arrays (id, sh) built entirely map-side --
    the zero-shuffle twin of ``with_shingles(df).groupBy(id).collect_set``
    (r16, guide §2.4): with_shingles' per-doc array_distinct already makes
    the exploded posting stream distinct within each doc, so folding it
    back with collect_set only re-assembles -- via a full exchange of the
    posting rows plus a per-group hash set -- the array this projection
    computes in place. Same elements, order-insensitive consumers only
    (array_intersect / size). Docs shorter than k tokens surface an EMPTY
    array here while the grouped twin has no row; identical for consumers
    that inner-join sets by id (such docs have no signatures, so they
    never appear in candidate pairs)."""
    t = "__t"
    parts = " , ' ', ".join(f"{t}[i + {j}]" for j in range(k))
    arr_expr = (
        f"CASE WHEN size({t}) >= {k} "
        f"THEN array_distinct(transform(sequence(0, size({t}) - {k}), i -> concat({parts}))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    return df.select(F.col(id_col), tokens_col(text_col).alias(t)).select(
        F.col(id_col), F.expr(arr_expr).alias("sh")
    )


def shingle_sizes(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Per-doc distinct-shingle COUNTS (id, n) map-side -- replaces
    ``shingled.groupBy(id).agg(count...)`` consumers (one exchange over
    the posting rows) with a projection of size(distinct array). BIGINT
    to match the grouped twin's count type exactly."""
    return shingle_sets(df, id_col=id_col, text_col=text_col, k=k).select(
        F.col(id_col), F.size("sh").cast("long").alias("n")
    )


def sets_to_postings(sets_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Re-derive the exploded (id, shingle) posting stream from a per-doc
    sets frame: ``sets_to_postings(shingle_sets(df))`` row-for-row equals
    ``with_shingles(df)`` (explode of an empty array emits nothing, just
    like explode_outer + NOT NULL). The point (r16, guide §2.4/§5): a
    query needing BOTH the posting stream and the per-doc arrays/sizes
    caches ONE map-side shingle_sets scan and derives everything from it
    -- one tokenize+shingle pass over the corpus instead of one per
    consumer subtree. Without a cache, map-side builders are computed
    once PER REFERENCE (no exchange for the runtime to reuse), which is
    exactly how the first r16 cut made ngram_jaccard 2x slower."""
    return sets_df.select(F.col(id_col), F.explode("sh").alias("shingle"))


def shingles_sql(k: int = 3, text_col: str = "text") -> str:
    """DuckDB twin of with_shingles' k-gram construction (1-based lists)."""
    lst = f"string_split({text_col}, ' ')"
    parts = " || ' ' || ".join(f"{lst}[i + {j}]" for j in range(k))
    return f"[{parts} for i in range(1, len({lst}) - {k - 2})]"


# --- exact dedup -------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content, with the
    canonical (minimum) id and the duplicate count. At scale: single
    shuffle on the 128-bit fingerprint, no content comparison after the
    map-side hash."""
    return (
        df.select(F.col(id_col), F.md5(F.col(content_col).cast("binary")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


# --- md5 hash kernel: MinHash bands and SimHash -------------------------------

_BAND_SCHEMA = "doc_id bigint, band int, sig string"
_U = np.uint64


def _md5_words(blobs: list[bytes], salt: bytes = b"") -> tuple[np.ndarray, np.ndarray]:
    """md5(salt + blob) of every blob as two big-endian uint64 words: hex
    chars 1-16 and 17-32 of the digest."""
    md5 = hashlib.md5
    w = np.frombuffer(b"".join([md5(salt + b).digest() for b in blobs]), ">u8").astype(np.uint64)
    return w[0::2], w[1::2]


def _doc_batches(batches):
    """Per Arrow batch of a (doc_id, sh) frame, over its docs with a
    non-empty set: (ids, UTF-8 bytes of every shingle, index of each doc's
    first shingle, set sizes). Empty and null sets drop out here, as the
    grouped chain has no row for a doc without shingles."""
    for batch in batches:
        sh = batch.column("sh")
        n = pc.fill_null(pc.list_value_length(sh), 0).to_numpy()
        keep = n > 0
        if keep.any():
            n = n[keep]
            blobs = pc.list_flatten(sh).cast(pa.binary()).to_pylist()
            yield batch.column("doc_id").filter(pa.array(keep)), blobs, np.cumsum(n) - n, n


def _sets_input(sets: DataFrame) -> DataFrame:
    return sets.select(F.col("doc_id").cast("long"), "sh")


def minhash_bands(sets: DataFrame, n_hashes: int = 16, bands: int = 4) -> DataFrame:
    """The LSH band table (doc_id, band, sig) of a shingle_sets frame, in
    one map-side pass: no posting explode, no per-doc min exchange. Hash
    j is the per-doc minimum of a 60-bit slice of md5(f"{j // 2}:{s}"):
    hex chars 1-15 for even j, 16-30 for odd j. Band b joins hashes
    b*rows .. b*rows+rows-1 as decimals with "," (rows = n_hashes //
    bands). This IS the persistable LSH index: in production it is written
    once per corpus and every later batch equi-joins against it (see
    load_or_build_band_index)."""
    rows = n_hashes // bands

    def run(batches):
        for ids, blobs, starts, _ in _doc_batches(batches):
            h = []
            for j in range((n_hashes + 1) // 2):
                hi, lo = _md5_words(blobs, f"{j}:".encode())
                h += [hi >> _U(4), ((hi & _U(0xF)) << _U(56)) | (lo >> _U(8))]
            mins = np.minimum.reduceat(np.stack(h[:n_hashes]), starts, axis=1).astype(np.int64)
            dec = [pa.array(m).cast(pa.string()) for m in mins]
            join = pc.binary_join_element_wise
            sigs = [join(*dec[b * rows : b * rows + rows], ",") for b in range(bands)]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.concat_arrays([ids] * bands),
                    pa.array(np.repeat(np.arange(bands, dtype=np.int32), len(ids))),
                    pa.concat_arrays(sigs),
                ],
                ["doc_id", "band", "sig"],
            )

    return _sets_input(sets).mapInArrow(run, _BAND_SCHEMA)


def simhash(sets: DataFrame, n_bits: int = 32) -> DataFrame:
    """Per-doc SimHash (doc_id, simhash) of a shingle_sets frame: bit j is
    set iff sum over shingles of (2*bit_j(h) - 1) > 0, h = md5(s) hex
    chars 9-16."""
    shifts = np.arange(n_bits, dtype=np.uint64)

    def run(batches):
        for ids, blobs, starts, n in _doc_batches(batches):
            hi, _ = _md5_words(blobs)
            bits = ((hi & _U(0xFFFFFFFF))[:, None] >> shifts) & _U(1)
            ones = np.add.reduceat(bits, starts).astype(np.int64)
            word = ((2 * ones > n[:, None]).astype(np.uint64) << shifts).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(word.astype(np.int64))], ["doc_id", "simhash"]
            )

    return _sets_input(sets).mapInArrow(run, "doc_id bigint, simhash bigint")


# --- MinHash + LSH -----------------------------------------------------------

def _salt(col: Column, buckets: int) -> Column:
    """Deterministic salt in [0, buckets): content-independent, stable
    across partitionings (same property as the sampling/bucketing hashes)."""
    return F.pmod(F.xxhash64(col), F.lit(buckets))


def auto_salt_buckets(
    keyed: DataFrame,
    keys: tuple[str, ...] = ("band", "sig"),
    hot_threshold: int = 1024,
    target_cell: int = 1024,
    max_s: int = 16,
) -> int:
    """Skew guard (VERDICT r3 item 6), the one salting rule of the LSH
    joins: pick the grid-blocking factor from the HOTTEST ``keys`` group,
    so the 100 TB user never discovers the salting lever post-OOM. One
    map-side-combined count over the keyed table (the banded signatures,
    or verify_jaccard's pair endpoints -- bytes per doc, not the corpus)
    and a 1-row scalar collect -- the same driver-side-scalar class as the
    CC convergence check. Groups at or under hot_threshold stay on the
    unsalted plan (PLANS.md unchanged); above it, S = ceil(hottest /
    target_cell) capped at max_s bounds the worst join cell near
    target_cell^2 pairs."""
    row = keyed.groupBy(*keys).count().agg(F.max("count")).collect()[0]
    hottest = row[0] or 0
    if hottest <= hot_threshold:
        return 1
    return max(2, min(max_s, math.ceil(hottest / target_cell)))


def load_or_build_band_index(
    spark: SparkSession,
    history_sets: DataFrame,
    fingerprint: str,
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Build-once / probe-many LSH band index over the EXISTING corpus --
    the deployment shape of incremental dedup: the historical index is an
    artifact on disk (like the IVF codebook), and each incoming batch only
    computes its own band table and equi-joins the index, so history is
    never re-shingled per batch. MinHash here is md5-derived and therefore
    a pure function of content, making the artifact safe to persist and
    reload; the cache key carries a caller-supplied content fingerprint so
    a changed corpus rebuilds instead of serving a stale index.

    At 100 TB the index is (bands) rows of a few bytes per historical doc,
    partitioned by (band, sig) on write -- candidate joins then prune to
    matching partitions."""
    key = f"lsh_bands_h{n_hashes}_b{bands}_{fingerprint}"
    return artifacts.parquet(spark, "lsh_band_index", key, lambda: minhash_bands(
        history_sets, n_hashes, bands
    ))


def lsh_candidate_pairs(
    banded: DataFrame,
    salt_buckets: int | str = 1,
    salt_out: dict | None = None,
) -> DataFrame:
    """Equi-join the docs of a band table (minhash_bands) sharing any band
    -- the O(n^2) -> O(candidates) reduction that makes near-dup feasible
    at 100 TB. Returns distinct (id_a, id_b), id_a < id_b.

    salt_buckets > 1 grid-blocks the self-join for hot band buckets (many
    near-identical docs share one band signature, so that bucket's m^2 pair
    generation otherwise lands in ONE task): each side gets a deterministic
    id-salt and is replicated S ways, the join key grows to
    (band, sig, cell_a, cell_b), and every pair is produced in exactly one
    of the S^2 cells -- max task work drops m^2 -> (m/S)^2 at an S-fold
    replication cost. salt_buckets="auto" measures the hottest bucket first
    (auto_salt_buckets) and salts only when it exceeds the task-sized
    threshold -- uniform corpora keep the unsalted single-join plan.

    NOTE: salt_buckets="auto" runs ONE EAGER Spark job (the hottest-bucket
    scalar agg) at plan-CONSTRUCTION time, inside this otherwise-lazy
    builder; pass ``salt_out={}`` to receive the chosen factor as
    ``salt_out["salt_buckets"]`` (returned per call -- no shared state)."""
    # the band table feeds BOTH sides of the self-join; without a cache each
    # side re-runs the hash kernel from the corpus scan. Caching the
    # (docs x bands)-row table computes it once; at 100 TB this tiny-rows
    # table is exactly what load_or_build_band_index persists.
    banded = banded.cache()
    if salt_buckets == "auto":
        salt_buckets = auto_salt_buckets(banded)
    if salt_out is not None:
        salt_out["salt_buckets"] = salt_buckets
    if salt_buckets > 1:
        S = salt_buckets
        grid = F.explode(F.expr(f"sequence(0, {S - 1})"))
        a = banded.select(
            F.col("doc_id").alias("id_a"), "band", "sig", _salt(F.col("doc_id"), S).alias("cell_a")
        ).withColumn("cell_b", grid)
        b = banded.select(
            F.col("doc_id").alias("id_b"), "band", "sig", _salt(F.col("doc_id"), S).alias("cell_b")
        ).withColumn("cell_a", grid)
        return (
            a.join(b, ["band", "sig", "cell_a", "cell_b"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    left = banded.alias("a")
    right = banded.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def verify_jaccard(
    candidates: DataFrame,
    sets: DataFrame,
    threshold: float = 0.7,
    salt_buckets: int | str = 1,
    salt_out: dict | None = None,
) -> DataFrame:
    """Exact Jaccard over candidate pairs via the per-doc shingle arrays of
    a (doc_id, sh) sets frame (shingle_sets); integer intersection/union
    counts, so the ratio is bit-identical across engines. Returns
    (id_a, id_b, jaccard >= threshold). Pass a cached/persisted sets frame
    when verifying many candidate batches against the same static corpus
    (the streaming intake sink does), so each batch only pays the
    candidate join, not a corpus re-scan.

    salt_buckets > 1 salts each lookup join: a doc appearing in many
    candidate pairs is a hot join key, so the candidate side is salted by
    the OTHER pair member's id and the (one-row-per-doc) sets side is
    replicated S ways -- the hot doc's pairs spread over S tasks.
    salt_buckets="auto" measures the hottest doc's candidate degree first
    (auto_salt_buckets over the pair endpoints) and salts only when it
    exceeds a task-sized threshold.

    NOTE: salt_buckets="auto" runs ONE EAGER Spark job (the max-degree
    scalar agg over the candidate list) at plan-CONSTRUCTION time; pass
    ``salt_out={}`` to receive the chosen factor as
    ``salt_out["salt_buckets"]`` (returned per call -- no shared state)."""
    if salt_buckets == "auto":
        ends = candidates.select(F.explode(F.array("id_a", "id_b")).alias("d"))
        salt_buckets = auto_salt_buckets(ends, ("d",))
    if salt_out is not None:
        salt_out["salt_buckets"] = salt_buckets
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    a = sets.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    if salt_buckets > 1:
        S = salt_buckets
        rep = F.explode(F.expr(f"sequence(0, {S - 1})"))
        a = a.withColumn("__salt_a", rep)
        b = b.withColumn("__salt_b", rep)
        salted = candidates.withColumn("__salt_a", _salt(F.col("id_b"), S)).withColumn(
            "__salt_b", _salt(F.col("id_a"), S)
        )
        joined = salted.join(a, ["id_a", "__salt_a"]).join(b, ["id_b", "__salt_b"])
    else:
        joined = candidates.join(a, "id_a").join(b, "id_b")
    return joined.select("id_a", "id_b", (inter / union).alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


def postings_pair_counts(
    shingled: DataFrame,
    id_col: str = "doc_id",
    key_col: str = "shingle",
    max_df: int | None = None,
) -> DataFrame:
    """Exact co-occurrence counts per UNDIRECTED doc pair from a postings
    table: (id_a, id_b, common) with id_a < id_b, common = number of keys
    both docs share. The r10 100x probe read the naive postings SELF-JOIN
    at 0.852x vs linear for containment (VERDICT r10 #3) -- the closest
    row to super-linear -- because it shuffles the postings twice, streams
    every pair in BOTH orders through the join, and ships sum(df^2) pair
    rows into the aggregate. This formulation folds each posting list into
    one sorted array (one postings shuffle), explodes only the i<j
    combinations (half the pair rows), and aggregates half the distinct
    keys; the intersection count is symmetric, so directed consumers
    derive both directions from one row.

    Hot keys: a key with document frequency d folds into a d-element array
    and emits d(d-1)/2 rows from one task. The fixtures' hottest shingle is
    df=25 (measured r11); a 100 TB corpus with stopword-like shingles
    should pass max_df (they carry no dedup signal) -- the same
    posting-list cap every production similarity-join (PPJoin / Bayardo
    all-pairs) applies. `hot_postings_report` returns the dropped keys as
    a DataFrame so callers can count/log the drop distributedly.

    Contract: (id, key) multiplicities are SET-collapsed (collect_set), so
    common = |keys(a) INTERSECT keys(b)| regardless of input duplication;
    callers computing sizes for Jaccard/containment must use the matching
    set cardinality (count_distinct), not raw row counts (ADVICE r11).

    Pair generation is two chained generators (posexplode -> explode of
    the sorted suffix), so per-output-row memory is O(d) -- the d(d-1)/2
    pair structs are streamed out, never materialized as one array in a
    single row (ADVICE r11: a df=10^4 stopword shingle would otherwise
    build a ~50M-struct array inside one task)."""
    folded = (
        shingled.groupBy(key_col)
        .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    if max_df is not None:
        folded = folded.where(F.size("ids") <= max_df)
    return (
        folded.select(F.col("ids"), F.posexplode("ids").alias("i", "id_a"))
        .select(
            "id_a",
            F.explode(F.expr("slice(ids, i + 2, size(ids))")).alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )


def hot_postings_report(
    shingled: DataFrame,
    max_df: int,
    id_col: str = "doc_id",
    key_col: str = "shingle",
) -> DataFrame:
    """Keys that a postings_pair_counts(max_df=...) call would drop, with
    their document frequencies -- the distributed accounting twin of the
    cap (callers .count() or sink this to log what the cap discarded
    instead of the cap failing silently)."""
    return (
        shingled.groupBy(key_col)
        .agg(F.count_distinct(id_col).alias("df"))
        .where(F.col("df") > max_df)
    )


def ngram_jaccard_pairs(
    shingled: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.6,
    max_df: int | None = None,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via the inverted index (the
    small-scale baseline; LSH above is the scale path -- a hot shingle
    makes pair generation quadratic in its posting list; pass max_df to
    drop stopword-like keys, mirrored in hot_postings_report). Candidate
    generation is postings_pair_counts (fold posting lists, explode i<j
    combinations): one postings shuffle and half the pair rows of the
    r10 self-join, same counts (pytest-pinned equivalence).

    Set semantics throughout: sizes are count_distinct(shingle) so they
    match the set-collapsed intersection from postings_pair_counts even
    when the caller passes non-distinct (id, shingle) rows (ADVICE r11:
    count('*') sizes vs collect_set intersection disagreed on multiset
    input)."""
    # ``sizes`` short-circuits the per-doc distinct count with a precomputed
    # (id_col, n BIGINT) frame -- callers holding the docs table pass
    # shingle_sizes(docs) (map-side, zero-shuffle) instead of paying a
    # count_distinct exchange over the posting rows (r16, guide §2.4).
    if sizes is None:
        sizes = shingled.groupBy(id_col).agg(F.count_distinct("shingle").alias("n"))
    inter = postings_pair_counts(
        shingled, id_col=id_col, max_df=max_df
    ).withColumnRenamed("common", "inter")
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def exact_substring_coverage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
    max_dup_frac: float = 0.5,
) -> DataFrame:
    """Exact-substring dedup signal (Lee et al. 2021): flag every k-token
    span occurring in >= min_docs distinct documents, then per document
    count token positions covered by at least one flagged span and gate on
    covered fraction <= max_dup_frac. Output: (id, n_tokens, dup_tokens,
    dup_frac, keep).

    The paper's suffix array is re-expressed as a positions-aware k-gram
    inverted index: spans md5-hash to narrow 32-char keys before the
    shuffle, only the duplicated-span subset joins back to the postings,
    and the coverage union is a distinct over at most k x the duplicated
    rows. All-pairs document comparison is never formed. Mirrors the
    reference's dataflow style (flat_map -> key_by -> reduce,
    rlink/src/core/function.rs) as pure expression pipelines.
    """
    t = "__t"
    parts = " , ' ', ".join(f"{t}[i + {j}]" for j in range(k))
    # 0-based posexplode start + 1 == the DuckDB oracle's 1-based range index
    gram_expr = (
        f"CASE WHEN size({t}) >= {k} "
        f"THEN transform(sequence(0, size({t}) - {k}), i -> concat({parts})) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    from rlink_rs_spark.operators.repartition import fan_out

    # r15 (guide §2.4): the posting subtree feeds BOTH the duplicated-span
    # aggregate and the coverage join; without a common exchange Spark
    # evaluates the tokenize+posexplode+md5 map twice (no subtree dedup).
    # fan_out spreads the one-row-group scan across the cluster, and the
    # explicit hash repartition on gram_h makes the two consumers share
    # ONE identical exchange subtree, which ReuseExchange then computes
    # once -- the heavy span-hash map runs a single time, and neither the
    # aggregate nor the join needs a further shuffle of the postings.
    g = (
        fan_out(docs.select(F.col(id_col), tokens_col(text_col).alias(t)))
        .select(F.col(id_col), F.posexplode(F.expr(gram_expr)).alias("p0", "gram"))
        .select(
            id_col,
            (F.col("p0") + 1).cast("long").alias("pos"),
            F.md5(F.col("gram").cast("binary")).alias("gram_h"),
        )
        .repartition(F.col("gram_h"))
    )
    dup = (
        g.groupBy("gram_h")
        .agg(F.count_distinct(id_col).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("gram_h")
    )
    cov = (
        g.join(dup, "gram_h")
        .select(
            id_col,
            F.explode(F.expr(f"sequence(pos, pos + {k - 1})")).alias("covpos"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.count("*").alias("dup_tokens"))
    )
    sized = docs.select(
        F.col(id_col), F.size(tokens_col(text_col)).cast("long").alias("n_tokens")
    )
    dup_tokens = F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long")
    dup_frac = dup_tokens.cast("double") / F.col("n_tokens")
    return sized.join(cov, id_col, "left").select(
        id_col,
        "n_tokens",
        dup_tokens.alias("dup_tokens"),
        dup_frac.alias("dup_frac"),
        (dup_frac <= max_dup_frac).alias("keep"),
    )


# --- dedup clusters (connected components) -----------------------------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
    check_every: int = 1,
) -> DataFrame:
    """Connected components over a near-dup pair graph: returns
    (doc_id, cluster_id) for every doc appearing in a pair, cluster_id =
    the minimum doc id in its component -- the canonicalization step a
    dedup pipeline runs after pair generation (keep cluster_id, drop the
    rest).

    Iterative min-label propagation (hash-to-min) with pointer doubling:
    each round every node takes the min of (its own label, its neighbors'
    labels, its LABEL'S label). The neighbor step is one equi-join + one
    map-side-combined min-agg; the pointer-doubling step is one self-join
    on the (small) label table and halves the distance to each component's
    root, so adversarial long chains converge in O(log diameter) rounds
    (a 500-node path closes in ~10 -- pytest-witnessed) while the dense
    near-dup graphs the operator targets still finish in 2-3. Convergence
    is detected by the strictly-decreasing label sum (labels only ever
    decrease), one scalar agg per round -- no driver-side data collection.
    At 100 TB: same dataflow per round; the label table carries one long
    per node in pairs, orders of magnitude smaller than the corpus.

    Loop hygiene (measured, round 6): the eager checkpoint job does the
    round's real work and the convergence sum then reads the cached
    blocks (~ms at tested scale) -- fusing both into one job via a lazy
    checkpoint measured 20-35% SLOWER end-to-end (7.6-8.8s vs 6.5s at
    sf0.1), so eager + per-round scalar stays. At 100 TB the sum is a
    full extra pass over a billions-row label table: set ``check_every``
    to 2-4 there to amortize it (costs up to check_every-1 extra rounds
    after the fixpoint; pointless at small round counts, hence default 1).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    # localCheckpoint (not cache) each round: caching truncates re-execution
    # but the LOGICAL plan still nests one level per iteration and blows up
    # analysis/toString past ~8 rounds; checkpointing cuts the lineage so
    # every round starts from a flat scan. (On a cluster with executor loss
    # concerns, use reliable checkpoint() to HDFS instead -- same shape.)
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    # no initial-sum job: the first comparison is against a sentinel the
    # first checked round can never equal (labels are monotone decreasing
    # and some label strictly decreases whenever an edge exists)
    prev_sum: object = ()
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_label"))
        )
        stepped = labels.join(nbr_min, labels["doc_id"] == nbr_min["src"], "left").select(
            "doc_id",
            F.least(
                F.col("cluster_id"), F.coalesce("nbr_label", "cluster_id")
            ).alias("cluster_id"),
        )
        # pointer doubling: relabel through the label table (label <- label's
        # label). cluster_id is always some node's doc_id, so the lookup hits;
        # the parent's label is <= its own id, so labels stay monotone.
        parent = stepped.select(
            F.col("doc_id").alias("pid"), F.col("cluster_id").alias("pcluster")
        )
        new_labels = (
            stepped.join(parent, stepped["cluster_id"] == parent["pid"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce("pcluster", "cluster_id")
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        labels = new_labels
        if rounds % check_every == 0:
            new_sum = new_labels.agg(F.sum("cluster_id")).collect()[0][0]
            if new_sum == prev_sum:  # no label decreased -> fixpoint
                break
            prev_sum = new_sum
    connected_components.last_rounds = rounds  # test/diagnostic witness
    return labels


# --- SimHash -----------------------------------------------------------------

def simhash_pairs(
    sims: DataFrame, id_col: str = "doc_id", max_hamming: int = 3, n_bits: int = 32
) -> DataFrame:
    """Near-dup pairs by Hamming distance on SimHash, via pigeonhole banding:
    split the n_bits hash into (max_hamming + 1) blocks; any pair with
    hamming <= max_hamming must agree exactly on at least one block, so an
    equi-join on (block_id, block_value) bounds candidates without an
    all-pairs cartesian -- the 100 TB shape. Exact Hamming verified on the
    surviving candidates."""
    n_blocks = max_hamming + 1
    width = n_bits // n_blocks
    mask = (1 << width) - 1
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("blk"),
                F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask)).alias("val"),
            )
            for b in range(n_blocks)
        ]
    )
    # r16 (guide §2.4): both self-join sides consume this subtree; without
    # a cache each side re-runs the SimHash kernel from the corpus scan.
    # Cache the (docs x n_blocks)-row block table so the sketch computes
    # once.
    exploded = (
        sims.select(F.col(id_col), F.col("simhash"), F.explode(blocks).alias("b"))
        .select(id_col, "simhash", "b.blk", "b.val")
        .cache()
    )
    a = exploded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "blk", "val"
    )
    b = exploded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "blk", "val"
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(b, ["blk", "val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
