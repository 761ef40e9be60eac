"""Training-data pipeline operators beyond dedup/quality scoring: benchmark
decontamination, repetition-based quality signals (the Gopher rules family),
greedy sequence packing, and temperature-based language resampling weights.

These are the remaining steps an LLM pretraining data pipeline runs between
raw corpus and training batches; like the dedup family they are pure
expression pipelines (md5 / integer / IEEE-double arithmetic only), so every
query here hash-matches its DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rlink_rs_spark.operators.dedup import (
    exact_substring_coverage,
    shingles_sql,
    with_shingles,
)
from rlink_rs_spark.queries.base import register
from rlink_rs_spark.session import scratch_dir
from rlink_rs_spark.tables import load_table
from rlink_rs_spark.streaming.runner import drain

# --- benchmark decontamination ----------------------------------------------

_DECON_K = 3  # word n-gram size shared with the dedup family
_DECON_MIN_SHARED = 2
_EVAL_MOD, _EVAL_RES = 97, 3  # deterministic pseudo-benchmark subset


_DECON_ORACLE = f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, unnest({shingles_sql(_DECON_K)}) AS shingle FROM documents
    ),
    e AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % {_EVAL_MOD} = {_EVAL_RES}),
    c AS (SELECT doc_id AS corpus_id, shingle FROM sh WHERE doc_id % {_EVAL_MOD} <> {_EVAL_RES})
    SELECT c.corpus_id, e.eval_id, CAST(COUNT(*) AS BIGINT) AS shared_ngrams
    FROM c JOIN e ON c.shingle = e.shingle
    GROUP BY c.corpus_id, e.eval_id
    HAVING COUNT(*) >= {_DECON_MIN_SHARED}
    """


@register(
    "benchmark_decontamination",
    _DECON_ORACLE,
    "Train/eval contamination check: corpus documents sharing >= "
    f"{_DECON_MIN_SHARED} distinct word {_DECON_K}-grams with any benchmark "
    "document (here a deterministic doc_id % 97 == 3 pseudo-benchmark "
    "stands in for the external eval set). The step every pretraining "
    "pipeline runs before training so eval numbers stay meaningful. "
    "Scale: inverted-index equi-join on the shingle -- the benchmark side "
    "is tiny (eval suites are KBs, the corpus is TBs) so its postings "
    "broadcast and the corpus never shuffles; all-pairs is never formed.",
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.operators.repartition import fan_out

    docs = load_table(spark, sf_dir, "documents")
    # fan_out: both filtered sides share one tokenize+8-gram map that ran
    # as a single scan task (r16 session 4, guide §2.2; interleaved A/B
    # 0.82 -> 0.45 s min-of-3); the layout guard no-ops on parallel scans
    sh = with_shingles(fan_out(docs), k=_DECON_K)
    is_eval = F.pmod(F.col("doc_id"), F.lit(_EVAL_MOD)) == _EVAL_RES
    eval_sh = sh.where(is_eval).select(F.col("doc_id").alias("eval_id"), "shingle")
    corp_sh = sh.where(~is_eval).select(F.col("doc_id").alias("corpus_id"), "shingle")
    return (
        corp_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("corpus_id", "eval_id")
        .agg(F.count("*").alias("shared_ngrams"))
        .where(F.col("shared_ngrams") >= _DECON_MIN_SHARED)
    )


# --- repetition-based quality signals (Gopher rules) -------------------------

# thresholds in the spirit of Rae et al. 2021 (Gopher) repetition filters,
# adapted to the fixture's tiny-vocabulary synthetic text
_MAX_DUP_WORD_FRAC = 0.8
_MAX_TOP_WORD_FRAC = 0.3


@register(
    "repetition_quality_signals",
    f"""
    WITH arrs AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             list_distinct(string_split(text, ' ')) AS dw,
             [string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
              for i in range(1, len(string_split(text, ' ')))] AS bg
      FROM documents
    ),
    counts AS (
      SELECT doc_id, CAST(len(w) AS BIGINT) AS nw, CAST(len(dw) AS BIGINT) AS ndw,
             CAST(list_max(list_transform(dw, x -> len(list_filter(w, y -> y = x)))) AS BIGINT) AS topc,
             CAST(len(bg) AS BIGINT) AS nb, CAST(len(list_distinct(bg)) AS BIGINT) AS ndb
      FROM arrs
    )
    SELECT doc_id, nw AS n_tokens,
           CAST(nw - ndw AS DOUBLE) / nw AS dup_word_frac,
           CAST(topc AS DOUBLE) / nw AS top_word_frac,
           CASE WHEN nb = 0 THEN 0.0 ELSE CAST(nb - ndb AS DOUBLE) / nb END AS dup_bigram_frac,
           (CAST(nw - ndw AS DOUBLE) / nw <= {_MAX_DUP_WORD_FRAC}
            AND CAST(topc AS DOUBLE) / nw <= {_MAX_TOP_WORD_FRAC}) AS passes_repetition_filter
    FROM counts
    """,
    "Gopher-style repetition quality signals per document: duplicate-word "
    "fraction, most-frequent-word fraction, duplicate-bigram fraction, and "
    "the combined pass/fail gate -- the repetition filters a pretraining "
    "pipeline applies after dedup. All ratios are exact-integer counts over "
    "one IEEE double divide, so both engines agree bit-for-bit. Scale: "
    "pure map-side projection (plus the fan_out scan spread, a no-op on "
    "multi-file layouts); the per-doc mode is an O(n log n) run-length "
    "fold over the sorted token array (r15: was an O(n*d) "
    "filter-per-distinct-word scan), never a global explode, and every "
    "higher-order-function count is evaluated ONCE in a staged projection "
    "(HOF lambdas get no common-subexpression elimination -- repeating "
    "them in the gate column measured 3x slower).",
)
def repetition_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.operators.repartition import fan_out

    # the per-doc array work below is CPU-bound; a one-row-group fixture
    # scan caps it at 1 task (fan_out no-ops on multi-file layouts)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    arrs = docs.select(
        "doc_id",
        F.expr("split(text, ' ')").alias("w"),
    )
    # r15 optimization (guide §4.1/§1.2): build bigrams from the PROJECTED
    # array column -- the old lambda re-evaluated split(text) per element
    # (HOF lambdas get no common-subexpression elimination), an O(n^2)
    # hidden cost per doc. The most-frequent-word count is a single
    # O(n log n) run-length fold over array_sort(w) (max frequency == max
    # run in the sorted array) instead of the O(n * n_distinct)
    # filter-per-distinct-word scan; the same fold counts distinct words
    # (run starts), dropping the separate array_distinct(w) pass.
    arrs2 = arrs.select(
        "doc_id",
        F.expr("size(w)").cast("long").alias("nw"),
        F.expr("array_sort(w)").alias("sw"),
        F.expr(
            "transform(sequence(1, size(w) - 1), "
            "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
        ).alias("bg"),
    )
    run_fold = (
        "aggregate(sw, "
        "struct(cast(null as string) as prev, cast(0 as bigint) as run, "
        "cast(0 as bigint) as best, cast(0 as bigint) as nd), "
        "(acc, x) -> struct(x, "
        "if(x <=> acc.prev, acc.run + 1L, 1L), "
        "greatest(acc.best, if(x <=> acc.prev, acc.run + 1L, 1L)), "
        "acc.nd + if(x <=> acc.prev, 0L, 1L)), "
        "acc -> struct(acc.best as topc, acc.nd as ndw))"
    )
    counts = arrs2.select(
        "doc_id",
        "nw",
        F.expr(run_fold).alias("rf"),
        F.expr("size(bg)").cast("long").alias("nb"),
        F.expr("size(array_distinct(bg))").cast("long").alias("ndb"),
    ).select(
        "doc_id",
        "nw",
        F.col("rf.ndw").alias("ndw"),
        F.col("rf.topc").alias("topc"),
        "nb",
        "ndb",
    )
    dup_word = (F.col("nw") - F.col("ndw")).cast("double") / F.col("nw")
    top_word = F.col("topc").cast("double") / F.col("nw")
    dup_bigram = F.when(F.col("nb") == 0, F.lit(0.0)).otherwise(
        (F.col("nb") - F.col("ndb")).cast("double") / F.col("nb")
    )
    return counts.select(
        "doc_id",
        F.col("nw").alias("n_tokens"),
        dup_word.alias("dup_word_frac"),
        top_word.alias("top_word_frac"),
        dup_bigram.alias("dup_bigram_frac"),
        ((dup_word <= _MAX_DUP_WORD_FRAC) & (top_word <= _MAX_TOP_WORD_FRAC)).alias(
            "passes_repetition_filter"
        ),
    )


# --- sequence packing --------------------------------------------------------

_CTX_LEN = 256  # training context length in (whitespace) tokens


_PACK_ORACLE = f"""
    WITH sized AS (
      SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    packed AS (
      SELECT lang, n,
             CAST(FLOOR((SUM(n) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n)
                        / {_CTX_LEN}.0) AS BIGINT) AS bin
      FROM sized
    )
    SELECT lang, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens
    FROM packed GROUP BY lang, bin
    """


@register(
    "pack_sequences",
    _PACK_ORACLE,
    "Greedy concat-and-chop sequence packing: documents stream in doc_id "
    f"order per language, each assigned to training-context bin floor(start_"
    f"offset / {_CTX_LEN}) from a running token cumsum -- the step that "
    "turns a filtered corpus into fixed-length training sequences with "
    "known padding waste (total_tokens vs bins * ctx). Scale (r7): the "
    "per-language cumsum runs through the distributed exact prefix sum "
    "(operators/ranking.py with_group_prefix_sum) -- a language is no "
    "longer one task; a giant language spans range partitions and the "
    "per-cell offsets broadcast back. Bit-identical integer sums keep "
    "the oracle untouched.",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.operators.ranking import with_group_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n")
    )
    cum = with_group_prefix_sum(sized, ["lang"], [F.col("doc_id")], "n")
    packed = cum.select(
        "lang",
        "n",
        F.floor((F.col("_gcum") - F.col("n")) / float(_CTX_LEN)).alias("bin"),
    )
    return packed.groupBy("lang", "bin").agg(
        F.count("*").alias("n_docs"), F.sum("n").alias("total_tokens")
    )


# --- per-source token-budget mixing ------------------------------------------

# Budget = half of each source's total tokens; quality = integer
# centi-chars-per-token ((n_chars*100) div n_tokens) so the selection order
# is exact integer arithmetic in both engines (no float rounding seam).
_MIX_ORACLE = """
WITH t AS (
  SELECT source, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         (n_chars * 100) // CAST(len(string_split(text, ' ')) AS BIGINT)
           AS quality_centi
  FROM documents
),
b AS (SELECT source, SUM(n_tokens) // 2 AS budget FROM t GROUP BY source),
c AS (
  SELECT t.*,
         CAST(SUM(n_tokens) OVER (PARTITION BY source
                                  ORDER BY quality_centi DESC, doc_id ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT c.source, c.doc_id, c.quality_centi, c.n_tokens, c.cum_tokens
FROM c JOIN b USING (source) WHERE c.cum_tokens <= b.budget
"""


@register(
    "source_token_budget_mix",
    _MIX_ORACLE,
    "Token-budgeted data mixing: each source contributes its highest-"
    "quality documents (integer centi-chars-per-token score, doc_id "
    "tie-break) until half of that source's total tokens are spent -- the "
    "per-source budget step that turns 'mix sources 50/50 by tokens, best "
    "docs first' into a training corpus. The select-until-budget cut "
    "needs an exact per-source running token sum, which runs through the "
    "distributed exact prefix sum (operators/ranking.py "
    "with_group_prefix_sum): a source is never one task; a giant source "
    "spans range partitions and only the <=P x |sources| cell totals pay "
    "a window. Budgets themselves are a |sources|-row broadcast.",
)
def source_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.operators.ranking import with_group_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.expr(
            "(n_chars * 100) div CAST(size(split(text, ' ')) AS BIGINT)"
        ).alias("quality_centi"),
    )
    cum = with_group_prefix_sum(
        sized,
        ["source"],
        [F.col("quality_centi").desc(), F.col("doc_id").asc()],
        "n_tokens",
        sum_col="cum_tokens",
    )
    # budget = sum(n_tokens) div 2 per source, read off the prefix sum's
    # own last element (max of an inclusive integer cumsum IS the total) --
    # no second corpus scan for the totals; the operator's persisted range
    # frame feeds both branches.
    budgets = cum.groupBy("source").agg(
        F.expr("max(cum_tokens) div 2").alias("budget")
    )
    return (
        cum.join(F.broadcast(budgets), "source")
        .where(F.col("cum_tokens") <= F.col("budget"))
        .select("source", "doc_id", "quality_centi", "n_tokens", "cum_tokens")
    )


# --- deterministic training shuffle + sharding -------------------------------

_SHUF_SEED = 42
_N_SHARDS = 8


@register(
    "training_shuffle_shards",
    f"""
    WITH h AS (
      SELECT doc_id,
             ('0x' || substr(md5('shuffle:{_SHUF_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM documents
    )
    SELECT doc_id, h % {_N_SHARDS} AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY h % {_N_SHARDS} ORDER BY h, doc_id) AS BIGINT) AS pos
    FROM h
    """,
    "Deterministic global training shuffle + sharding: each document gets a "
    f"seeded 60-bit md5 hash, shard = hash % {_N_SHARDS}, and a position "
    "within its shard by hash order -- the reproducible 'shuffle the corpus "
    "before training' step, stable across re-runs and partitionings (the "
    "order is a pure function of (seed, doc_id), never of physical layout). "
    "Scale: the hash is map-side; ordering is PER SHARD (thousands of "
    "shards in a real corpus), so each sort is partition-local after one "
    "hash-partitioned exchange -- there is never a global sort of the "
    "corpus, and shard files stream out independently.",
)
def training_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"shuffle:{_SHUF_SEED}:"), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    hashed = docs.select("doc_id", h.alias("h")).withColumn(
        "shard", F.pmod(F.col("h"), F.lit(_N_SHARDS))
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return hashed.select(
        "doc_id", "shard", F.row_number().over(w).cast("long").alias("pos")
    )


# --- exact-substring dedup signal (Lee et al. 2021) ---------------------------

_SUB_K = 8  # token-span length flagged when repeated across documents
_SUB_MIN_DOCS = 2  # "duplicated" = the span occurs in >= this many distinct docs
_SUB_MAX_DUP_FRAC = 0.5  # keep gate: at most this fraction of tokens duplicated


def _span_grams_sql(k: int) -> str:
    """DuckDB fragment: (doc_id, pos, gram_h) for every k-token span start
    (1-based pos), gram keyed by md5. Twin of the posexplode construction."""
    lst = "string_split(text, ' ')"
    parts = " || ' ' || ".join(f"{lst}[pos + {j}]" for j in range(k))
    return (
        f"SELECT doc_id, CAST(pos AS BIGINT) AS pos, md5({parts}) AS gram_h FROM ("
        f"SELECT doc_id, text, unnest(range(1, len({lst}) - {k - 2})) AS pos "
        f"FROM documents)"
    )


@register(
    "exact_substring_dedup",
    f"""
    WITH g AS ({_span_grams_sql(_SUB_K)}),
    dup AS (
      SELECT gram_h FROM g GROUP BY gram_h
      HAVING COUNT(DISTINCT doc_id) >= {_SUB_MIN_DOCS}
    ),
    cov AS (
      SELECT DISTINCT g.doc_id, g.pos + o.o AS covpos
      FROM g JOIN dup USING (gram_h) CROSS JOIN range({_SUB_K}) o(o)
    ),
    percov AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_tokens FROM cov GROUP BY doc_id
    ),
    sized AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT s.doc_id, s.n_tokens,
           COALESCE(percov.dup_tokens, 0) AS dup_tokens,
           CAST(COALESCE(percov.dup_tokens, 0) AS DOUBLE) / s.n_tokens AS dup_frac,
           CAST(COALESCE(percov.dup_tokens, 0) AS DOUBLE) / s.n_tokens
             <= {_SUB_MAX_DUP_FRAC} AS keep
    FROM sized s LEFT JOIN percov ON s.doc_id = percov.doc_id
    """,
    "Exact-substring dedup signal (Lee et al. 2021, 'Deduplicating Training "
    f"Data Makes Language Models Better'): any {_SUB_K}-token span occurring "
    f"in >= {_SUB_MIN_DOCS} distinct documents is duplicated text; per doc, "
    "count the token positions covered by at least one duplicated span and "
    f"gate on duplicated fraction <= {_SUB_MAX_DUP_FRAC}. The suffix-array "
    "step of the paper re-expressed as a positions-aware k-gram inverted "
    "index. Scale: spans are hashed to 32-char md5 keys before the shuffle "
    "(narrow rows), the duplicated-span set is the ONLY thing joined back "
    "(a tiny fraction of the corpus), coverage union is a distinct over at "
    f"most {_SUB_K}x the duplicated-span rows, and every aggregate is "
    "map-side combined; all-pairs document comparison is never formed.",
)
def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_substring_coverage(
        docs, k=_SUB_K, min_docs=_SUB_MIN_DOCS, max_dup_frac=_SUB_MAX_DUP_FRAC
    )


# --- leakage-free train/valid/test split -------------------------------------

_LEAK_SEED = 7


@register(
    "leakage_free_split",
    f"""
    SELECT doc_id, md5(text) AS fingerprint,
           CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'valid' ELSE 'test' END AS split
    FROM (
      SELECT doc_id, text,
             ('0x' || substr(md5('split:{_LEAK_SEED}:' || md5(text)), 1, 15))::BIGINT % 100 AS b
      FROM documents
    )
    """,
    "Leakage-free 90/5/5 split: the split bucket hashes the CONTENT "
    "fingerprint, not the doc id, so byte-identical duplicates can never "
    "straddle train and test (the eval-leakage failure mode of id-hashed "
    "splits; extendable to near-dup cluster ids via dedup_keep_list's "
    "clusters). Deterministic, seeded, reproducible across partitionings. "
    "Scale: pure map-side expression, zero shuffles.",
)
def leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    b = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"split:{_LEAK_SEED}:"), fp)), 1, 15),
            16,
            10,
        ).cast("long"),
        F.lit(100),
    )
    split = (
        F.when(b < 90, "train").when(b < 95, "valid").otherwise("test")
    )
    return docs.select("doc_id", fp.alias("fingerprint"), split.alias("split"))


# --- temperature resampling --------------------------------------------------

_TEMP_ALPHA_NOTE = "alpha = 0.5 (sqrt temperature)"


@register(
    "temperature_resample_weights",
    """
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
    ),
    scaled AS (
      SELECT lang, n_docs,
             CAST(ROUND(SQRT(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS s
      FROM counts
    ),
    tot AS (SELECT SUM(s) AS tot, SUM(n_docs) AS total_docs FROM scaled)
    SELECT lang, n_docs,
           CAST(s AS DOUBLE) / CAST(tot AS DOUBLE) AS weight,
           CAST(FLOOR(CAST(s AS DOUBLE) / CAST(tot AS DOUBLE)
                      * CAST(total_docs AS DOUBLE)) AS BIGINT) AS docs_per_epoch
    FROM scaled, tot
    """,
    "Language-mixing weights by temperature resampling, "
    f"{_TEMP_ALPHA_NOTE}: w_l = n_l^alpha / sum(n^alpha), the standard "
    "multilingual rebalancing (upweights tail languages). IEEE sqrt is "
    "correctly rounded in both engines, and the normalizing sum runs over "
    "ROUNDED-to-1e-6 integers so its result is order-independent -- a raw "
    "double sum would make the weights depend on reduction order. Scale: "
    "one map-side-combined count, a 5-row scalar broadcast, map-side "
    "arithmetic.",
)
def temperature_resample_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    scaled = counts.select(
        "lang",
        "n_docs",
        F.round(F.sqrt(F.col("n_docs").cast("double")) * 1000000).cast("long").alias("s"),
    )
    tot = scaled.agg(F.sum("s").alias("tot"), F.sum("n_docs").alias("total_docs"))
    weight = F.col("s").cast("double") / F.col("tot").cast("double")
    return (
        scaled.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            weight.alias("weight"),
            F.floor(weight * F.col("total_docs").cast("double"))
            .cast("long")
            .alias("docs_per_epoch"),
        )
    )


# --- materialized epoch resampling -------------------------------------------


@register(
    "resample_corpus_epoch",
    """
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
    ),
    scaled AS (
      SELECT lang, n_docs,
             CAST(ROUND(SQRT(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS s
      FROM counts
    ),
    tot AS (SELECT SUM(s) AS tot, SUM(n_docs) AS total_docs FROM scaled),
    lang_rep AS (
      SELECT lang, a // b AS e_int,
             CAST(FLOOR((CAST(a % b AS DOUBLE) / CAST(b AS DOUBLE)) * 1048576) AS BIGINT) AS frac20
      FROM (SELECT s.lang, s.s * t.total_docs AS a, t.tot * s.n_docs AS b
            FROM scaled s CROSS JOIN tot t)
    ),
    rep AS (
      SELECT d.doc_id, d.lang,
             CAST(r.e_int + CASE WHEN ('0x' || substr(md5('rs:' || CAST(d.doc_id AS VARCHAR)), 1, 5))::BIGINT < r.frac20
                                 THEN 1 ELSE 0 END AS BIGINT) AS n
      FROM documents d JOIN lang_rep r USING (lang)
    )
    SELECT doc_id, lang, CAST(i AS INT) AS copy_idx,
           ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR) || ':'
                                || CAST(i AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard
    FROM (SELECT doc_id, lang, unnest(generate_series(1, n)) AS i FROM rep)
    """,
    "Materialized temperature resampling: turns the sqrt-temperature "
    "language weights into an ACTUAL epoch -- each doc replicated "
    "floor(e)+Bernoulli(frac(e)) times where e = its language's "
    "target/actual ratio, reduced ONCE per language to an integer part + "
    "20-bit fraction (one correctly-rounded IEEE divide + exact power-of-2 "
    "scaling -- bit-identical across engines, no per-doc product to "
    "overflow); the Bernoulli draw compares a 20-bit md5 fraction against "
    "it. Copies land in 8 training shards by per-copy hash. Tail languages "
    "expand, head languages subsample; expected epoch size == corpus size.",
)
def resample_corpus_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bridge from mixing WEIGHTS (temperature_resample_weights) to a
    training EPOCH (training_shuffle_shards' input): one 5-row broadcast of
    per-language targets, map-side integer replication counts, one explode.
    No shuffle touches the corpus until the final shard write (which at
    100 TB is the repartition the trainer needs anyway)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    scaled = counts.select(
        "lang",
        "n_docs",
        F.round(F.sqrt(F.col("n_docs").cast("double")) * 1000000).cast("long").alias("s"),
    )
    tot = scaled.agg(F.sum("s").alias("tot"), F.sum("n_docs").alias("total_docs"))
    # Per-LANG replication rational e = (s*total_docs)/(tot*n_docs), reduced
    # once in the 5-row table to an integer part + 20-bit fraction. The
    # fraction goes through ONE correctly-rounded IEEE divide and an exact
    # power-of-two scaling (both bit-identical across engines), so no
    # per-doc product can overflow -- the original per-doc u20*b compare
    # overflowed BIGINT at the sf1 scale witness (b ~ 1e13).
    lang_rep = (
        scaled.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            (F.col("s") * F.col("total_docs")).alias("a"),
            (F.col("tot") * F.col("n_docs")).alias("b"),
        )
        .select(
            "lang",
            F.expr("a DIV b").alias("e_int"),
            F.expr(
                "CAST(FLOOR((CAST(a % b AS DOUBLE) / CAST(b AS DOUBLE)) * 1048576) AS BIGINT)"
            ).alias("frac20"),
        )
    )
    rep = (
        docs.select("doc_id", "lang")
        .join(F.broadcast(lang_rep), "lang")
        .select(
            "doc_id",
            "lang",
            (
                F.col("e_int")
                + F.when(
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit("rs:"), F.col("doc_id").cast("string"))),
                            1,
                            5,
                        ),
                        16,
                        10,
                    ).cast("long")
                    < F.col("frac20"),
                    1,
                ).otherwise(0)
            ).alias("n"),
        )
    )
    exploded = rep.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr("CASE WHEN n >= 1 THEN sequence(1L, n) ELSE CAST(array() AS array<bigint>) END")
        ).alias("i"),
    )
    return exploded.select(
        "doc_id",
        "lang",
        F.col("i").cast("int").alias("copy_idx"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("shard:"),
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            F.col("i").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 8
        ).alias("shard"),
    )


# --- DSIR importance weights -------------------------------------------------

_DSIR_BUCKETS = 128
_DSIR_SCALE = 1_000_000

# Hashed-feature bucket for one normalized character bigram (the repo's
# engine-neutral 32-bit md5 slice, hex chars 9-16).
_DSIR_BUCKET_SPARK = "CAST(conv(substring(md5(bg), 9, 8), 16, 10) AS BIGINT) % {b}"
_DSIR_BUCKET_DUCK = "('0x' || substr(md5(bg), 9, 8))::BIGINT % {b}"

# Smoothed per-bucket log importance ratio ln(p_target/p_raw), one shared
# expression over BIGINT inputs, rounded to integer micro-nats inside the
# <=128-row LUT before any reassociative sum (the lm_perplexity_filter
# pattern).
_DSIR_LR = (
    f"CAST(ROUND({_DSIR_SCALE}.0 * ("
    f"LN((CAST(ct AS DOUBLE) + 1.0) / (CAST(tot_t AS DOUBLE) + {_DSIR_BUCKETS}.0))"
    f" - LN((CAST(cr AS DOUBLE) + 1.0) / (CAST(tot_r AS DOUBLE) + {_DSIR_BUCKETS}.0))"
    f")) AS BIGINT)"
)

_DSIR_NORM_DUCK = "regexp_replace(lower(text), '[^a-z ]', '_', 'g')"

_DSIR_ORACLE = f"""
WITH big AS (
  SELECT doc_id, lang,
         {_DSIR_BUCKET_DUCK.format(b=_DSIR_BUCKETS)} AS bucket
  FROM (SELECT doc_id, lang,
               substr(norm, CAST(i AS INT), 2) AS bg
        FROM (SELECT doc_id, lang, {_DSIR_NORM_DUCK} AS norm FROM documents),
             unnest(generate_series(1, length(norm) - 1)) AS t(i))
),
raw_cnt AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr FROM big GROUP BY bucket
),
tgt_cnt AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct FROM big WHERE lang = 'en' GROUP BY bucket
),
totals AS (
  SELECT (SELECT SUM(cr) FROM raw_cnt) AS tot_r,
         (SELECT COALESCE(SUM(ct), 0) FROM tgt_cnt) AS tot_t
),
lut AS (
  SELECT r.bucket, {_DSIR_LR} AS lr
  FROM (SELECT bucket, cr, COALESCE(ct, 0) AS ct
        FROM raw_cnt LEFT JOIN tgt_cnt USING (bucket)) r
  CROSS JOIN totals
),
scored AS (
  SELECT b.doc_id, b.lang, CAST(COUNT(*) AS BIGINT) AS n_features,
         CAST(SUM(l.lr) AS BIGINT) AS sum_lr
  FROM big b JOIN lut l ON b.bucket = l.bucket
  GROUP BY 1, 2
)
SELECT doc_id, lang, n_features,
       sum_lr / {_DSIR_SCALE}.0 AS log_weight,
       CASE WHEN NTILE(4) OVER (ORDER BY sum_lr DESC, doc_id) = 1
            THEN TRUE ELSE FALSE END AS selected
FROM scored
"""


@register(
    "dsir_importance_weights",
    _DSIR_ORACLE,
    "DSIR (Xie et al. 2023) data selection: hashed char-bigram bag-of-words "
    "models for target (lang='en') vs raw corpus; per-doc log importance "
    "weight sum ln(p_target/p_raw) over 128 hashed feature buckets; top "
    "quartile flagged selected.",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling, the hashed-ngram variant
    (public DSIR paper). 100 TB shape mirrors `lm_perplexity_filter`:

      * both bucket-count tables aggregate the exploded corpus with ONE
        map-side-combinable exchange each over <=128 keys;
      * the importance-ratio LUT is <=128 rows -- broadcast; the corpus
        never shuffles for the lookup, only for the per-doc combinable sum;
      * the totals cross join touches the tiny LUT, not the corpus (the
        `source_mix_report` 1-row broadcast shape);
      * top-quartile selection via the distributed exact NTILE
        (operators/ranking.py): parallel range exchange of the doc scores,
        closed-form tile from the exact global rank -- bit-equal to the
        oracle's NTILE(4) with no single-partition WindowExec.

    Integer micro-nat log-ratios inside the LUT make the float log_weight
    column bit-identical across engines."""
    from rlink_rs_spark.operators.lm import bigram_rows
    from rlink_rs_spark.operators.repartition import fan_out

    # normalize+explode+hash is the most expensive map in the plan; fan the
    # one-row-group fixture scan out to cluster parallelism first (no-op on
    # multi-file layouts).
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # r15 (guide §2.3 "aggregate before you shuffle"): fold the exploded
    # bigram stream down to per-(doc, lang, bucket) counts in ONE map-side
    # combinable pass and cache THAT -- <=128 rows per doc instead of one
    # row per character. The raw/target bucket counts and the per-doc
    # scoring sum all derive from the folded frame (sum of counts == count
    # of rows, exactly), so the expensive normalize+explode runs once and
    # the three downstream passes scan a frame ~10x smaller.
    per = (
        bigram_rows(docs)
        .select(
            "doc_id",
            "lang",
            F.expr(_DSIR_BUCKET_SPARK.format(b=_DSIR_BUCKETS)).alias("bucket"),
        )
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .cache()
    )
    raw_cnt = per.groupBy("bucket").agg(F.sum("c").alias("cr"))
    tgt_cnt = (
        per.where(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.sum("c").alias("ct"))
    )
    counts = raw_cnt.join(tgt_cnt, "bucket", "left").select(
        "bucket", "cr", F.coalesce("ct", F.lit(0)).cast("bigint").alias("ct")
    )
    totals = counts.agg(
        F.sum("cr").alias("tot_r"), F.sum("ct").alias("tot_t")
    )
    lut = counts.crossJoin(F.broadcast(totals)).select(
        "bucket", F.expr(_DSIR_LR).alias("lr")
    )
    scored = (
        per.join(F.broadcast(lut), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").alias("n_features"),
            F.sum(F.col("lr") * F.col("c")).cast("bigint").alias("sum_lr"),
        )
    )
    from rlink_rs_spark.operators.ranking import ntile_expr, with_global_rank

    ranked = with_global_rank(
        scored, [F.col("sum_lr").desc(), F.col("doc_id").asc()]
    )
    return ranked.select(
        "doc_id",
        "lang",
        "n_features",
        (F.col("sum_lr") / float(_DSIR_SCALE)).alias("log_weight"),
        (F.expr(ntile_expr("_grank", "_gtotal", 4)) == 1).alias("selected"),
    )


# --- curriculum staging ------------------------------------------------------

_CURR_STAGES = 4

from rlink_rs_spark.operators.text import (  # noqa: E402
    STOPWORDS as _CURR_STOP,
    _in_list_sql as _curr_in_list,
    quality_score_sql as _curr_qsql,
)

_CURR_ORACLE = f"""
WITH counted AS (
  SELECT doc_id, len(string_split(text, ' ')) AS nt, length(text) AS nc,
         len(list_filter(string_split(text, ' '), t -> t IN ({_curr_in_list(_CURR_STOP)}))) AS sc
  FROM documents
),
scored AS (
  SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
         {_curr_qsql('nt', 'nc', 'sc')} AS quality
  FROM counted
),
staged AS (
  SELECT doc_id, n_tokens, quality,
         NTILE({_CURR_STAGES}) OVER (ORDER BY quality DESC, doc_id) AS stage
  FROM scored
)
SELECT CAST(stage AS BIGINT) AS stage,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(quality) AS min_q, MAX(quality) AS max_q,
       CAST(SUM(CAST(ROUND(quality * 1000000) AS BIGINT)) AS BIGINT) AS sum_q_micro,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
FROM staged GROUP BY stage
"""


@register(
    "curriculum_stages",
    _CURR_ORACLE,
    "Curriculum staging: the whole corpus ordered by the quality heuristic "
    f"(best first) and cut into {_CURR_STAGES} exact equal-depth stages -- "
    "the data-ordering step of curriculum learning and the stage manifest "
    "(doc counts, quality bounds, token budget) a trainer consumes.",
)
def curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global curriculum: unlike per-language packing (pack_sequences) or
    random shards (training_shuffle_shards), the cut is a TOTAL order over
    the corpus, which is exactly the shape the distributed exact NTILE
    (operators/ranking.py) exists for -- a parallel range exchange instead
    of a single-partition sort, bit-identical to the oracle's NTILE at any
    scale. Quality scores ride as micro-unit BIGINTs under every sum."""
    from rlink_rs_spark.operators.ranking import ntile_expr, with_global_rank

    docs = load_table(spark, sf_dir, "documents")
    stop_in = _curr_in_list(_CURR_STOP)
    counted = docs.select(
        "doc_id",
        F.expr("size(split(text, ' '))").alias("nt"),
        F.length("text").alias("nc"),
        F.expr(f"size(filter(split(text, ' '), t -> t IN ({stop_in})))").alias("sc"),
    )
    scored = counted.select(
        "doc_id",
        F.col("nt").cast("bigint").alias("n_tokens"),
        F.expr(_curr_qsql("nt", "nc", "sc")).alias("quality"),
    )
    ranked = with_global_rank(scored, [F.col("quality").desc(), F.col("doc_id").asc()])
    return (
        ranked.withColumn("stage", F.expr(ntile_expr("_grank", "_gtotal", _CURR_STAGES)))
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("quality").alias("min_q"),
            F.max("quality").alias("max_q"),
            F.sum(F.expr("CAST(ROUND(quality * 1000000) AS BIGINT)")).cast("bigint").alias("sum_q_micro"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        )
    )


# --- document chunking (RAG / context-window prep) ---------------------------

_CHUNK_W = 64  # tokens per chunk
_CHUNK_S = 48  # stride (16-token overlap)

_CHUNK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
starts AS (
  SELECT doc_id, w, unnest(generate_series(0, len(w) - 1, {_CHUNK_S})) AS start_tok
  FROM toks
)
SELECT doc_id,
       CAST(start_tok // {_CHUNK_S} AS BIGINT) AS chunk_idx,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(len(list_slice(w, start_tok + 1, start_tok + {_CHUNK_W})) AS BIGINT) AS chunk_len,
       md5(array_to_string(list_slice(w, start_tok + 1, start_tok + {_CHUNK_W}), ' ')) AS chunk_hash
FROM starts
"""


@register(
    "chunk_documents",
    _CHUNK_ORACLE,
    f"Document chunking for RAG / context-window prep: {_CHUNK_W}-token "
    f"windows at stride {_CHUNK_S} ({_CHUNK_W - _CHUNK_S}-token overlap), "
    "emitting per-chunk offsets, lengths, and a content hash (the chunk-id "
    "an embedding/index stage keys on).",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure map-side generate-and-explode: no shuffle at any scale -- each
    document expands into ceil(n_tokens / stride) chunk rows in place, so
    the operator parallelizes with the scan and the downstream embed stage
    consumes (doc_id, chunk_idx) directly. The md5 chunk hash doubles as
    the exact-dedup key for chunk-level dedup (the operators/dedup family
    composes on it unchanged)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr("split(text, ' ')").alias("w"))
    starts = toks.select(
        "doc_id",
        "w",
        F.explode(F.expr(f"sequence(0, size(w) - 1, {_CHUNK_S})")).alias("start_tok"),
    )
    chunk = F.expr(f"slice(w, start_tok + 1, {_CHUNK_W})")
    return starts.select(
        "doc_id",
        (F.col("start_tok") / _CHUNK_S).cast("bigint").alias("chunk_idx"),
        F.col("start_tok").cast("bigint").alias("start_tok"),
        F.size(chunk).cast("bigint").alias("chunk_len"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


# --- intake DLQ routing ------------------------------------------------------

from rlink_rs_spark.streaming.dlq import (  # noqa: E402
    ALLOWED_LANGS as _DLQ_LANGS,
    BLOCKED_SOURCES as _DLQ_BLOCKED,
    MIN_CHARS as _DLQ_MIN_CHARS,
    classify_intake as _classify_intake,
)

_DLQ_CASE = f"""CASE
  WHEN n_chars < {_DLQ_MIN_CHARS} THEN 'too_short'
  WHEN lang IS NULL THEN 'lang_missing'
  WHEN lang NOT IN {repr(tuple(_DLQ_LANGS))} THEN 'lang_unsupported'
  WHEN source IN {repr(tuple(_DLQ_BLOCKED))} THEN 'source_blocked'
END"""

_DLQ_ORACLE = f"""
SELECT doc_id, lang, source, n_chars,
       {_DLQ_CASE} AS reason,
       ({_DLQ_CASE}) IS NOT NULL AS quarantined
FROM documents
"""


@register(
    "intake_dlq_routing",
    _DLQ_ORACLE,
    "Intake dead-letter routing: first-match-wins reason codes "
    "(too_short > lang_unsupported > source_blocked, NULL = clean) with "
    "the source blocklist joined as a broadcast config dim -- the "
    "classification every production ingest runs before a row may enter "
    "the corpus, kept queryable by reason for triage.",
)
def intake_dlq_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-local expressions + one tiny broadcast (streaming/dlq.py);
    the corpus never shuffles. The streaming twin routes the same
    classification to two per-epoch sinks."""
    return _classify_intake(load_table(spark, sf_dir, "documents"))


@register(
    "streaming_intake_dlq",
    _DLQ_ORACLE,  # shared: drained clean + DLQ union = the batch routing
    "STREAMING two-sink intake: each micro-batch's rows are classified "
    "once and routed to EITHER the clean sink or the reason-coded DLQ "
    "sink, both committing per epoch inside one foreachBatch handler -- "
    "a crash between the two writes is healed by replay (deterministic "
    "classification overwrites both dirs), giving exactly-once across a "
    "MULTI-sink epoch. Drained union is disjoint, complete, and equal "
    "to the batch classification (shared oracle).",
)
def streaming_intake_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay documents in 2 doc_id-ordered chunks; return clean UNION dlq -- equality
    with the shared oracle proves both completeness and disjointness
    (any row routed twice would double, any dropped row would miss)."""
    from rlink_rs_spark.streaming.dlq import (
        read_clean,
        read_dlq,
        streaming_dlq_sink,
    )
    from rlink_rs_spark.streaming.sources import file_stream

    src = file_stream(
        spark, sf_dir, "documents", max_files_per_trigger=1, chunks=2,
        order_col="doc_id",
    )
    work_dir = scratch_dir("rlink_dlq_")
    q = streaming_dlq_sink(
        src.select("doc_id", "lang", "source", "n_chars"),
        work_dir=work_dir,
    )
    drain(q, what="streaming_intake_dlq")
    return read_clean(spark, work_dir).unionByName(read_dlq(spark, work_dir))


@register(
    "streaming_decontamination",
    _DECON_ORACLE,  # shared: the eval side stands, the corpus side streams
    "STREAMING contamination screen: the eval-set shingle postings stand "
    "(eval suites are KBs) while corpus documents arrive as a stream -- "
    "each micro-batch shingles ITS OWN docs, broadcast-joins the standing "
    "eval postings, and appends its complete (corpus, eval, shared) "
    "pairs as an epoch delta (docs are epoch-disjoint, so pair counts "
    "finish within their epoch: O(batch) per epoch, corpus never "
    "re-shingles). The drained union equals the batch check (shared "
    "oracle) -- contamination is caught AT INGEST, not in a later sweep.",
)
def streaming_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the corpus side in 2 chunks through the generic delta sink
    (streaming/deltas.py); the eval index is built once before the
    stream starts and broadcast per epoch."""
    from rlink_rs_spark.streaming.deltas import delta_sink, read_deltas
    from rlink_rs_spark.streaming.sources import file_stream

    docs = load_table(spark, sf_dir, "documents")
    is_eval = F.pmod(F.col("doc_id"), F.lit(_EVAL_MOD)) == _EVAL_RES
    eval_sh = (
        with_shingles(docs.where(is_eval), k=_DECON_K)
        .select(F.col("doc_id").alias("eval_id"), "shingle")
    )

    def screen(batch_df: DataFrame) -> DataFrame:
        corp_sh = with_shingles(
            batch_df.where(F.pmod(F.col("doc_id"), F.lit(_EVAL_MOD)) != _EVAL_RES),
            k=_DECON_K,
        ).select(F.col("doc_id").alias("corpus_id"), "shingle")
        return (
            corp_sh.join(F.broadcast(eval_sh), "shingle")
            .groupBy("corpus_id", "eval_id")
            .agg(F.count("*").cast("bigint").alias("shared_ngrams"))
            .where(F.col("shared_ngrams") >= _DECON_MIN_SHARED)
        )

    src = file_stream(
        spark, sf_dir, "documents", max_files_per_trigger=1, chunks=2,
        order_col="doc_id",
    )
    state_dir = scratch_dir("rlink_decon_")
    q = delta_sink(
        src.select("doc_id", "text"),
        transform=screen,
        state_dir=state_dir,
    )
    drain(q, what="streaming_decontamination")
    return read_deltas(
        spark, state_dir, "corpus_id bigint, eval_id bigint, shared_ngrams bigint"
    )


@register(
    "streaming_pack_sequences",
    _PACK_ORACLE,  # shared: carried-total + within-batch prefix = global cumsum
    "STREAMING sequence packing: documents arrive in doc_id order and "
    "each micro-batch assigns its docs to training-context bins from ONE "
    "carried running token total per language (state O(#langs), constant "
    "in stream length) plus the same distributed within-batch prefix sum "
    "the batch twin uses -- so bins fill across epoch boundaries exactly "
    "as the batch pack fills them, and the drained (lang, bin) aggregate "
    "hash-matches the shared oracle.",
)
def streaming_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay documents in 2 doc_id-ordered chunks through the carrier
    sink (streaming/packing.py): deltas first, per-lang totals last as
    the epoch's commit record."""
    from rlink_rs_spark.streaming.packing import (
        read_packed_bins,
        streaming_pack_sink,
    )
    from rlink_rs_spark.streaming.sources import file_stream

    src = file_stream(
        spark, sf_dir, "documents", max_files_per_trigger=1, chunks=2,
        order_col="doc_id",
    )
    work_dir = scratch_dir("rlink_pack_")
    q = streaming_pack_sink(
        src.select("doc_id", "lang", "text"),
        work_dir=work_dir,
        ctx_len=_CTX_LEN,
    )
    drain(q, what="streaming_pack_sequences")
    return read_packed_bins(spark, work_dir)
