"""Text-analysis queries over `documents`: language ID, quality scoring,
token counting, fingerprinting. SQL-expression twins in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rlink_rs_spark.operators.text import (
    LANG_MARKERS,
    STOPWORDS,
    _in_list_sql,
    argmax_case_sql,
    marker_count_sql,
    quality_score_sql,
)
from rlink_rs_spark.queries.base import register
from rlink_rs_spark.session import scratch_dir
from rlink_rs_spark.tables import load_table
from rlink_rs_spark.streaming.runner import drain

_TOK_DUCK = "string_split(text, ' ')"


@register(
    "text_stats_tokens",
    f"""
    SELECT doc_id,
           len({_TOK_DUCK}) AS n_tokens,
           length(text) AS n_chars_actual,
           len(list_filter({_TOK_DUCK}, t -> t IN ({_in_list_sql(STOPWORDS)}))) AS stopword_cnt,
           len(list_filter({_TOK_DUCK}, t -> length(t) >= 6)) AS long_token_cnt
    FROM documents
    """,
    "Token counting + basic text stats (whitespace tokens, stopword and "
    "long-token counts) -- the map-side profile pass of a data pipeline.",
)
def text_stats_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = F.split("text", " ")
    stop_in = _in_list_sql(STOPWORDS)
    return docs.select(
        "doc_id",
        F.size(tok).alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        F.expr(f"size(filter(split(text, ' '), t -> t IN ({stop_in})))").alias("stopword_cnt"),
        F.expr("size(filter(split(text, ' '), t -> length(t) >= 6))").alias("long_token_cnt"),
    )


@register(
    "lang_id_heuristic",
    f"""
    WITH counted AS (
      SELECT doc_id, lang,
             {", ".join(f"{marker_count_sql(_TOK_DUCK, lang)} AS c_{lang}" for lang in LANG_MARKERS)}
      FROM documents
    )
    SELECT doc_id, lang AS lang_label, {argmax_case_sql()} AS lang_pred
    FROM counted
    """,
    "Language ID by stopword-marker argmax with fixed precedence (n-gram "
    "heuristic family). Marker counts are projected once per language, then "
    "a cheap CASE picks the argmax (repeating the count expressions inside "
    "the CASE defeated common-subexpression elimination).",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        *[
            F.expr(
                marker_count_sql("split(text, ' ')", lang).replace(
                    "len(list_filter(", "size(filter("
                )
            ).alias(f"c_{lang}")
            for lang in LANG_MARKERS
        ],
    )
    return counted.select(
        "doc_id", "lang_label", F.expr(argmax_case_sql()).alias("lang_pred")
    )


@register(
    "quality_score_docs",
    f"""
    WITH counted AS (
      SELECT doc_id, len({_TOK_DUCK}) AS nt, length(text) AS nc,
             len(list_filter({_TOK_DUCK}, t -> t IN ({_in_list_sql(STOPWORDS)}))) AS sc
      FROM documents
    )
    SELECT doc_id, {quality_score_sql('nt', 'nc', 'sc')} AS quality
    FROM counted
    """,
    "Quality scoring: banded length / mean-word-length / stopword-ratio "
    "heuristic in [0,1], rounded once at the end. Inputs projected once "
    "(cheap CASE bands over columns, not repeated token scans).",
)
def quality_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stop_in = _in_list_sql(STOPWORDS)
    counted = docs.select(
        "doc_id",
        F.expr("size(split(text, ' '))").alias("nt"),
        F.length("text").alias("nc"),
        F.expr(f"size(filter(split(text, ' '), t -> t IN ({stop_in})))").alias("sc"),
    )
    return counted.select("doc_id", F.expr(quality_score_sql("nt", "nc", "sc")).alias("quality"))


# BPE-ish subword pattern: letter runs, single digits, single punctuation --
# the GPT-2 pre-tokenizer family restricted to ASCII classes so Java regex
# (Spark) and RE2 (DuckDB) agree exactly.
_BPE_PAT = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


@register(
    "token_count_bpe",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_PAT}')) AS n_bpe_tokens,
           len(string_split(text, ' ')) AS n_ws_tokens,
           CAST(ROUND(length(text) * 1.0 / NULLIF(len(regexp_extract_all(text, '{_BPE_PAT}')), 0), 4) AS DOUBLE) AS chars_per_token
    FROM documents
    """,
    "BPE-ish token counting: regex pre-tokenizer (letter runs / digits / "
    "punctuation) next to the whitespace count, plus chars-per-token -- the "
    "token-budget estimator of a training-data pipeline. Map-side only.",
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(F.expr(f"regexp_extract_all(text, '{_BPE_PAT}', 0)"))
    return docs.select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.round(F.length("text") * 1.0 / F.nullif(n_bpe, F.lit(0)), 4)
        .cast("double")
        .alias("chars_per_token"),
    )


# 60-bit-safe polynomial rolling hash over whitespace tokens: fold
# acc = (acc * 31 + h(token)) mod 2^31-1. Token hashes are the
# engine-neutral 32-bit md5 slice (hex chars 9-16), the fold is exact
# BIGINT arithmetic (max intermediate ~2^36), so both engines produce
# identical fingerprints.
_RH_MOD = 2_147_483_647
_RH_HASH32_SPARK = "CAST(conv(substring(md5(t), 9, 8), 16, 10) AS BIGINT)"
_RH_HASH32_DUCK = "('0x' || substr(md5(t), 9, 8))::BIGINT"


@register(
    "rolling_hash_fingerprint",
    f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
                          list_transform(string_split(text, ' '), t -> {_RH_HASH32_DUCK})),
             (acc, h) -> (acc * 31 + h) % {_RH_MOD}) AS rolling_hash
    FROM documents
    """,
    "Order-sensitive document fingerprint: polynomial rolling hash over the "
    "token stream (vs doc_fingerprint's order-insensitive-normalization "
    "md5). Pure fold inside codegen -- one pass, no shuffle.",
)
def rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fold = (
        f"aggregate(transform(split(text, ' '), t -> {_RH_HASH32_SPARK}), "
        f"CAST(0 AS BIGINT), (acc, h) -> (acc * 31 + h) % {_RH_MOD})"
    )
    return docs.select("doc_id", F.expr(fold).alias("rolling_hash"))


@register(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(lower(trim(text))) AS fingerprint,
           ('0x' || substr(md5(lower(trim(text))), 9, 8))::BIGINT AS shard_bucket
    FROM documents
    """,
    "Document fingerprinting: md5 over normalized text plus a 32-bit "
    "shard bucket (rolling-hash family stand-in; md5 keeps both engines "
    "bit-identical).",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    return docs.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("fingerprint"),
        F.conv(F.substring(F.md5(norm.cast("binary")), 9, 8), 16, 10).cast("long").alias("shard_bucket"),
    )


@register(
    "hash_sample_docs",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT % 100 < 10
    """,
    "Reproducible 10% sample by content-independent hash bucket (md5 of the "
    "id, salt 'sample:') -- the training-data sampling primitive: fully "
    "deterministic across runs, engines, partitionings, and cluster sizes, "
    "unlike seeded sample()/sampleBy() whose draw depends on partition "
    "layout. Map-side filter, no shuffle.",
)
def hash_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))), 9, 8),
        16,
        10,
    ).cast("long") % 100
    return docs.where(bucket < 10).select("doc_id", "lang")


@register(
    "train_test_split",
    """
    WITH assigned AS (
      SELECT lang,
             CASE WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT % 100 < 90 THEN 'train'
                  WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT % 100 < 95 THEN 'valid'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT lang, split, COUNT(*) AS cnt FROM assigned GROUP BY lang, split
    """,
    "Deterministic 90/5/5 train/valid/test split by salted hash bucket, "
    "counted per language stratum -- reproducible dataset splits are a "
    "pipeline correctness requirement (a re-run must never move a document "
    "across splits). Same hash in both engines.",
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 9, 8),
        16,
        10,
    ).cast("long") % 100
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test")
    )
    return docs.select("lang", split.alias("split")).groupBy("lang", "split").agg(
        F.count("*").alias("cnt")
    )


@register(
    "vocab_top_terms",
    """
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (SELECT token, COUNT(*) AS cnt FROM toks WHERE token <> '' GROUP BY token)
    SELECT token, cnt FROM counts ORDER BY cnt DESC, token ASC LIMIT 100
    """,
    "Vocabulary building: global token frequencies, top 100 by count with "
    "deterministic tie-break -- the tokenizer-training prerequisite. "
    "Explode is map-side, the count combines partially before one shuffle "
    "over distinct tokens, and the final top-k is TakeOrdered (per-"
    "partition heaps merged on the driver, never a global sort of the "
    "vocabulary).",
)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(100)
    )


@register(
    "redact_numbers_props",
    """
    SELECT event_id,
           regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS redacted,
           props <> regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS changed
    FROM events
    """,
    "PII-style redaction pass: replace every digit run in the payload with "
    "a placeholder (the scrubbing shape for emails/phones/ids in a real "
    "corpus -- same regexp_replace dataflow, different patterns). Pure "
    "map-side JVM regex, no shuffle; Spark replaces globally by default, "
    "the oracle passes the 'g' flag for identical semantics.",
)
def redact_numbers_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    redacted = F.regexp_replace("props", "[0-9]+", "<NUM>")
    return events.select(
        "event_id",
        redacted.alias("redacted"),
        (F.col("props") != redacted).alias("changed"),
    )


@register(
    "stratified_sample_docs",
    """
    WITH rates(lang, pct) AS (VALUES ('en', 60), ('zh', 30)),
    assigned AS (
      SELECT d.doc_id, d.lang,
             ('0x' || substr(md5('strat:' || CAST(d.doc_id AS VARCHAR)), 9, 8))::BIGINT % 100 AS bucket,
             COALESCE(r.pct, 10) AS pct
      FROM documents d LEFT JOIN rates r ON d.lang = r.lang
    )
    SELECT doc_id, lang FROM assigned WHERE bucket < pct
    """,
    "Stratified sampling with per-stratum rates (en 60%, zh 30%, default "
    "10%) -- the data-mixing primitive for training corpora: rates live in "
    "a broadcast dimension (at 100 TB a config table, not a literal CASE), "
    "the fact side takes a map-side hash-bucket filter with zero shuffle, "
    "and the draw is reproducible across runs, engines, and partitionings "
    "(salted md5 of the id, like hash_sample_docs).",
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rates = spark.createDataFrame([("en", 60), ("zh", 30)], "lang string, pct int")
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))), 9, 8),
        16,
        10,
    ).cast("long") % 100
    return (
        docs.join(F.broadcast(rates), "lang", "left")
        .withColumn("pct", F.coalesce("pct", F.lit(10)))
        .where(bucket < F.col("pct"))
        .select("doc_id", "lang")
    )


@register(
    "multimodal_binary_features",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_hash,
           substr(text, 1, 16) AS header_preview
    FROM documents
    """,
    "Multimodal plumbing over an opaque binary column (text bytes standing "
    "in for image/audio payloads): byte length, content hash, header "
    "preview. The decode/feature-extract stage lives in "
    "operators/multimodal.py as a mapInPandas stub.",
)
def multimodal_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    blob = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(blob).alias("n_bytes"),
        F.md5(blob).alias("content_hash"),
        F.substring("text", 1, 16).alias("header_preview"),
    )


# The stub decoder is md5-expansion (operators/multimodal._fake_decode), so
# DuckDB can mirror it bit-for-bit: byte i of md5(payload || ':0') over 256
# -- k/256 is exact in float32 (power-of-2 denominator), so the FLOAT
# component column hash-matches across engines.
_MM_FEAT_ORACLE = """
WITH digests AS (
  SELECT doc_id AS media_id,
         CAST(octet_length(encode(text)) AS INT) AS n_bytes,
         md5(text) AS content_hash,
         text IS NOT NULL AS decode_ok,
         md5(text || ':0') AS d0
  FROM documents
  WHERE text IS NOT NULL  -- posexplode of a NULL feature drops the row
)
SELECT media_id, n_bytes, content_hash, decode_ok,
       CAST(i AS INT) AS dim_idx,
       CAST(CAST(('0x' || substr(d0, 2 * i + 1, 2)) AS INT) / 256.0 AS FLOAT)
         AS component
FROM digests, unnest(generate_series(0, 15)) AS t(i)
"""


@register(
    "multimodal_extract_features",
    _MM_FEAT_ORACLE,
    "The REAL multimodal decode+embed path (operators/multimodal."
    "extract_features): opaque binary payloads cross the Arrow boundary "
    "once through mapInPandas, the (stubbed, deterministic) decoder "
    "emits a 16-dim feature vector per payload, and the vector is "
    "exploded to scalar (media_id, dim_idx, component) rows. n_bytes "
    "and content_hash stay JVM-side (computed before the Python hop).",
)
def multimodal_extract_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB shape: payloads stream through the Python stage one Arrow
    batch at a time (peak memory = one batch, never one partition), no
    shuffle anywhere -- decode parallelizes per input split exactly like
    a real encoder forward pass. Only the decode crosses the boundary;
    everything computable JVM-side is."""
    from rlink_rs_spark.operators.multimodal import (
        documents_as_media,
        extract_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(documents_as_media(docs), dim=16)
    return feats.select(
        "media_id",
        "n_bytes",
        "content_hash",
        "decode_ok",
        F.posexplode("feature").alias("dim_idx", "component"),
    )


_MM_FRAME_ORACLE = """
SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx,
       CAST(f * 1000 AS INT) AS offset_ms
FROM (SELECT doc_id,
             GREATEST(1, CAST(FLOOR((n_chars * 40) / 1000.0) AS INT)) AS nf
      FROM documents),
     unnest(generate_series(0, nf - 1)) AS t(f)
"""


@register(
    "multimodal_frame_sample",
    _MM_FRAME_ORACLE,
    "Video frame-sampling plumbing (operators/multimodal.frame_sample): "
    "one output row per sampled timestamp from the typed metadata's "
    "duration (fixture: 40 ms per character), entirely JVM-side "
    "(sequence + explode) -- a real decoder attaches frame payloads at "
    "these offsets; the row fan-out and offsets are the Spark-side "
    "contract either way.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.operators.multimodal import frame_sample

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(None).cast("binary").alias("payload"),
        F.struct(
            F.lit("video").alias("media_type"),
            F.lit("video/mp4").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (F.col("n_chars") * 40).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    return frame_sample(media, every_ms=1000)


_MM_RESIZE_ORACLE = """
SELECT doc_id AS media_id, md5(text) AS content_md5,
       CAST(224 AS INT) AS width, CAST(224 AS INT) AS height,
       text IS NOT NULL AS resized
FROM documents
"""


@register(
    "multimodal_resize_pipeline",
    _MM_RESIZE_ORACLE,
    "Image-resize plumbing (operators/multimodal.resize): payloads pass "
    "through the Arrow-batched resize stage with meta.width/height "
    "rewritten to the 224x224 target; the pixel transform is the "
    "documented stub seam (payload unchanged, proven by the content "
    "digest), everything around it -- schema, struct rewrite, batch "
    "shape -- is the real path a PIL/opencv decoder plugs into.",
)
def multimodal_resize_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.operators.multimodal import documents_as_media, resize

    docs = load_table(spark, sf_dir, "documents")
    out = resize(documents_as_media(docs), target_width=224, target_height=224)
    return out.select(
        "media_id",
        F.md5("payload").alias("content_md5"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        "resized",
    )


_PIPE_QUALITY_MIN = 0.5

_PIPE_ORACLE = f"""
WITH staged AS (
  SELECT doc_id, lang,
         md5(lower(trim(text))) AS fp,
         len({_TOK_DUCK}) AS nt,
         length(text) AS nc,
         len(list_filter({_TOK_DUCK}, t -> t IN ({{stop_in}}))) AS sc,
         len(regexp_extract_all(text, '{_BPE_PAT}')) AS n_bpe
  FROM documents
),
kept AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM staged
  ) WHERE rn = 1
),
scored AS (
  SELECT *, {{quality}} AS quality FROM kept
),
split_assigned AS (
  SELECT lang, n_bpe,
         ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT % 100 AS bucket
  FROM scored WHERE quality >= {_PIPE_QUALITY_MIN}
)
SELECT lang,
       CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'valid' ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens
FROM split_assigned
GROUP BY lang, split
""".format(
    stop_in=_in_list_sql(STOPWORDS),
    quality=quality_score_sql("nt", "nc", "sc"),
)


@register(
    "corpus_prep_pipeline",
    _PIPE_ORACLE,
    "End-to-end corpus preparation in ONE dataflow: exact dedup (md5 "
    "fingerprint, min-id winner) -> quality filter (banded heuristic >= "
    f"{_PIPE_QUALITY_MIN}) -> deterministic 90/5/5 split assignment -> "
    "per-(lang, split) manifest with doc and BPE-token totals. The "
    "composition a training-data pipeline actually runs, showing the "
    "pieces compose in one plan: all per-doc metrics in a single map-side "
    "projection, dedup as ONE map-side-combined min(struct) shuffle (never "
    "a per-key sort window), split assignment map-side, final 10-group agg.",
)
def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stop_in = _in_list_sql(STOPWORDS)
    norm = F.lower(F.trim(F.col("text")))
    staged = docs.select(
        "doc_id",
        "lang",
        F.md5(norm.cast("binary")).alias("fp"),
        F.size(F.split("text", " ")).alias("nt"),
        F.length("text").alias("nc"),
        F.expr(f"size(filter(split(text, ' '), t -> t IN ({stop_in})))").alias("sc"),
        F.size(F.expr(f"regexp_extract_all(text, '{_BPE_PAT}', 0)")).alias("n_bpe"),
    )
    # exact dedup keeping the min-doc_id row and its metrics in one agg:
    # min(struct) compares doc_id first (unique), so the winner is
    # deterministic and the shuffle gets a map-side partial combine
    kept = (
        staged.groupBy("fp")
        .agg(F.min(F.struct("doc_id", "lang", "nt", "nc", "sc", "n_bpe")).alias("m"))
        .select("m.doc_id", "m.lang", "m.nt", "m.nc", "m.sc", "m.n_bpe")
    )
    scored = kept.withColumn("quality", F.expr(quality_score_sql("nt", "nc", "sc")))
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 9, 8),
        16,
        10,
    ).cast("long") % 100
    split = F.when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test")
    return (
        scored.where(F.col("quality") >= _PIPE_QUALITY_MIN)
        .select("lang", split.alias("split"), "n_bpe")
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_bpe").alias("total_bpe_tokens"))
    )


_BPE_MERGES = 4


def _bpe_training_parts(n_merges: int) -> list[str]:
    """CTE chain deriving the learned merge rules b1..bN (shared by the
    training oracle and the tokenize-apply oracle): per iteration, pair
    counts from the previous symbol arrays, the argmax pair as a 1-row
    CTE, and the merge applied via the shared left-to-right
    non-overlapping replace on the separator-ANCHORED symbol string
    (`SEP sym SEP` per symbol, double SEP between symbols) so the pattern
    `SEP l SEP SEP r SEP` matches only whole symbols -- identical to
    train_bpe_merges' representation."""
    parts = [
        "w AS (\n"
        "  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq\n"
        "  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)\n"
        "  WHERE word <> '' GROUP BY word\n)",
        "a0 AS (\n"
        "  SELECT freq, list_transform(range(1, length(word)+1), i -> substr(word, i, 1)) AS a\n"
        "  FROM w\n)",
    ]
    for t in range(1, n_merges + 1):
        prev = f"a{t - 1}"
        parts.append(
            f"p{t} AS (\n"
            f"  SELECT a[i] AS l, a[i+1] AS r, CAST(SUM(freq) AS BIGINT) AS cnt\n"
            f"  FROM {prev}, unnest(range(1, len(a))) AS t{t}(i)\n"
            f"  WHERE len(a) >= 2 GROUP BY a[i], a[i+1]\n)"
        )
        parts.append(
            f"b{t} AS (SELECT l, r, cnt FROM p{t} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)"
        )
        if t < n_merges:
            parts.append(
                f"a{t} AS (\n"
                f"  SELECT freq, string_split(\n"
                f"    substr(s2, 2, length(s2) - 2), chr(31) || chr(31)) AS a\n"
                f"  FROM (SELECT freq, replace(\n"
                f"      chr(31) || array_to_string(a, chr(31) || chr(31)) || chr(31),\n"
                f"      chr(31) || (SELECT l FROM b{t}) || chr(31) || chr(31)\n"
                f"              || (SELECT r FROM b{t}) || chr(31),\n"
                f"      chr(31) || (SELECT l FROM b{t}) || (SELECT r FROM b{t})\n"
                f"              || chr(31)) AS s2\n"
                f"    FROM {prev})\n)"
            )
    return parts


def _bpe_oracle(n_merges: int) -> str:
    """Unrolled-iteration DuckDB mirror of train_bpe_merges (the same
    technique as the IVF k-means oracle)."""
    parts = _bpe_training_parts(n_merges)
    selects = "\nUNION ALL\n".join(
        f"SELECT {t} AS iteration, l AS left_sym, r AS right_sym, cnt AS pair_count FROM b{t}"
        for t in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + selects


def _bpe_apply_oracle(n_merges: int) -> str:
    """Tokenize-apply oracle: derive the merge rules with the SAME training
    CTE chain, then apply them to every word of every document (anchored
    replace chain in rule order) and count resulting symbols per doc."""
    parts = _bpe_training_parts(n_merges)
    rep = (
        "chr(31) || array_to_string(list_transform(range(1, length(w)+1), "
        "i -> substr(w, i, 1)), chr(31) || chr(31)) || chr(31)"
    )
    for t in range(1, n_merges + 1):
        rep = (
            f"replace({rep},\n"
            f"  chr(31) || (SELECT l FROM b{t}) || chr(31) || chr(31)"
            f" || (SELECT r FROM b{t}) || chr(31),\n"
            f"  chr(31) || (SELECT l FROM b{t}) || (SELECT r FROM b{t}) || chr(31))"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
wds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
app AS (SELECT doc_id, {rep} AS s FROM wds WHERE w <> ''),
cnt AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(len(string_split(substr(s, 2, length(s) - 2),
                                   chr(31) || chr(31)))) AS BIGINT) AS n_bpe_tokens
  FROM app GROUP BY doc_id
)
SELECT doc_id, n_words, n_bpe_tokens,
       CAST(n_bpe_tokens AS DOUBLE) / n_words AS bpe_per_word
FROM cnt
"""
    )


@register(
    "bpe_train_merges",
    _bpe_oracle(_BPE_MERGES),
    "Distributed BPE tokenizer training: learn the first "
    f"{_BPE_MERGES} merge rules from the corpus. Trains on the distinct-"
    "word frequency table (vocabulary-sized, corpus-size-independent after "
    "one scan -- the classic BPE formulation); per iteration one map-side-"
    "combined pair-count shuffle + a 1-row argmax + a map-side merge "
    "replace. Oracle mirrors every iteration as unrolled CTEs.",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.operators.text import train_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    return train_bpe_merges(docs, n_merges=_BPE_MERGES)


@register(
    "bpe_tokenize_corpus",
    _bpe_apply_oracle(_BPE_MERGES),
    "Tokenize the whole corpus with the TRAINED BPE merge table (the "
    "deployment face of bpe_train_merges): per word, apply each learned "
    "rule in training order via the separator-anchored whole-symbol "
    "replace, count resulting symbols per document. The merge table is a "
    "KB-sized artifact embedded as literals in ONE map-side expression, "
    "so tokenization is a zero-shuffle projection at any corpus size; "
    "training cost is vocabulary-bounded and amortizes across runs. "
    "Oracle re-derives the rules with the same unrolled CTE chain and "
    "applies them per word.",
)
def bpe_tokenize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.operators.text import apply_bpe_token_counts, train_bpe_merges

    from rlink_rs_spark.operators.repartition import fan_out

    docs = load_table(spark, sf_dir, "documents")
    rules = train_bpe_merges(docs, n_merges=_BPE_MERGES).orderBy("iteration").collect()
    # the per-word anchored-replace chain is CPU-bound map work; spread the
    # one-row-group fixture scan first (no-op on multi-file layouts, r15)
    return apply_bpe_token_counts(
        fan_out(docs), [(r.left_sym, r.right_sym) for r in rules]
    )


@register(
    "source_mix_report",
    f"""
    WITH counted AS (
      SELECT source, lang, len({_TOK_DUCK}) AS nt, length(text) AS nc,
             len(list_filter({_TOK_DUCK}, t -> t IN ({_in_list_sql(STOPWORDS)}))) AS sc
      FROM documents
    ),
    scored AS (
      SELECT source, lang, nt,
             CAST(ROUND({quality_score_sql('nt', 'nc', 'sc')} * 1000000) AS BIGINT) AS q
      FROM counted
    ),
    per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(SUM(nt) AS BIGINT) AS total_tokens,
             SUM(q) AS qsum
      FROM scored GROUP BY source
    ),
    tot AS (SELECT SUM(n_docs) AS total_docs FROM per)
    SELECT source, n_docs, n_langs, total_tokens,
           CAST(qsum AS DOUBLE) / (1000000.0 * n_docs) AS mean_quality,
           CAST(n_docs AS DOUBLE) / total_docs AS corpus_share
    FROM per, tot
    """,
    "Corpus-composition report per source (the RefinedWeb/Dolma-style "
    "mix audit every pretraining pipeline publishes): document and token "
    "counts, language spread, mean quality score, and share of corpus. "
    "Mean quality sums ROUNDED-to-1e-6 integer scores (order-independent) "
    "before ONE IEEE divide, so engines agree bit-for-bit -- a raw double "
    "mean would depend on reduction order. Scale: one map-side-combined "
    "aggregation over map-side-scored rows plus a 1-row total broadcast.",
)
def source_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stop_in = _in_list_sql(STOPWORDS)
    counted = docs.select(
        "source",
        "lang",
        F.expr("size(split(text, ' '))").alias("nt"),
        F.length("text").alias("nc"),
        F.expr(f"size(filter(split(text, ' '), t -> t IN ({stop_in})))").alias("sc"),
    )
    scored = counted.select(
        "source",
        "lang",
        "nt",
        F.round(F.expr(quality_score_sql("nt", "nc", "sc")) * 1000000)
        .cast("long")
        .alias("q"),
    )
    per = scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum("nt").alias("total_tokens"),
        F.sum("q").alias("qsum"),
    )
    tot = per.agg(F.sum("n_docs").alias("total_docs"))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_langs",
        "total_tokens",
        (F.col("qsum").cast("double") / (F.lit(1000000.0) * F.col("n_docs"))).alias(
            "mean_quality"
        ),
        (F.col("n_docs").cast("double") / F.col("total_docs")).alias("corpus_share"),
    )


# --- text cleaning / normalization -------------------------------------------

# 1:1 char map: curly quotes -> straight, en/em dash -> '-', ellipsis -> '.',
# NBSP -> space  (applied before control-strip and whitespace-collapse)
_XLT_FROM = "“”‘’–—… "
_XLT_TO = "\"\"''--. "
# control chars EXCLUDING \t\n\r (those are whitespace, collapsed next --
# stripping them first would glue adjacent words together)
_CTRL_CLASS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"
_WS_CLASS = "[ \t\n\r]+"


def _clean_sql(col: str, g: str) -> str:
    """The DuckDB half of the normalization chain; ``g`` is the
    global-replace flag DuckDB needs. The Spark half is built with the
    PySpark function API (_clean_col) because Spark SQL single-quoted
    literals swallow the backslash of ``\\x``-escapes, silently turning the
    control-char class into ``[x08...]``."""
    x = f"translate({col}, '{_XLT_FROM}', '{_XLT_TO}')"
    x = f"regexp_replace({x}, '{_CTRL_CLASS}', ''{g})"
    x = f"regexp_replace({x}, '{_WS_CLASS}', ' '{g})"
    return f"trim({x})"


def _clean_col(col: str) -> F.Column:
    """Spark twin of _clean_sql: patterns go through the Python API, so the
    Java regex engine receives the \\x escapes intact."""
    x = F.translate(F.col(col), _XLT_FROM, _XLT_TO)
    x = F.regexp_replace(x, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    x = F.regexp_replace(x, "[ \\t\\n\\r]+", " ")
    return F.trim(x)


@register(
    "clean_normalize_docs",
    f"""
    WITH cleaned AS (
      SELECT doc_id, text, {_clean_sql("text", ", 'g'")} AS clean FROM documents
    )
    SELECT doc_id,
           md5(clean) AS clean_hash,
           length(text) AS n_chars_before,
           length(clean) AS n_chars_after,
           (clean <> text) AS changed
    FROM cleaned
    """,
    "Text cleaning/normalization, the first stage of every corpus pipeline: "
    "unicode punctuation folded to ASCII (curly quotes, dashes, ellipsis, "
    "NBSP), non-whitespace control chars stripped, whitespace runs collapsed "
    "to one space, ends trimmed. Pure map-side expression chain (zero "
    "exchanges, whole-stage codegen); emits the cleaned-content hash + "
    "before/after stats rather than megabytes of text.",
)
def clean_normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-before-dedup matters operationally: exact dedup keys on
    md5(text), so two docs differing only by whitespace or quote style are
    distinct pre-clean and identical post-clean. At 100 TB this is a pure
    narrow stage fused into the scan."""
    docs = load_table(spark, sf_dir, "documents")
    clean = _clean_col("text")
    return docs.select(
        "doc_id",
        F.md5(clean).alias("clean_hash"),
        F.length("text").alias("n_chars_before"),
        F.length(clean).alias("n_chars_after"),
        (clean != F.col("text")).alias("changed"),
    )


# --- weighted reservoir sample ----------------------------------------------

_WS_TOP_K = 20

# Efraimidis–Spirakis A-ES key pow(u, 1/w): u derived from the salted
# 32-bit md5 slice (hex chars 9-16) of the doc id (deterministic across runs/engines/partitionings,
# like the other sampling primitives), w = n_chars. Rounded to integer
# nano-units before ranking so cross-engine POW ulp drift cannot reorder.
_WS_KEY = (
    "CAST(ROUND(1000000000.0 * POW((CAST({h} AS DOUBLE) + 1.0) / 4294967296.0, "
    "1.0 / CAST(n_chars AS DOUBLE))) AS BIGINT)"
)
_WS_H_SPARK = "CAST(conv(substring(md5(concat('wsample:', CAST(doc_id AS STRING))), 9, 8), 16, 10) AS BIGINT)"
_WS_H_DUCK = "('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT"

_WS_ORACLE = f"""
WITH keyed AS (
  SELECT lang, doc_id, n_chars, {_WS_KEY.format(h=_WS_H_DUCK)} AS key_n
  FROM documents
)
SELECT lang, rank, doc_id, n_chars, key_n / 1000000000.0 AS key
FROM (SELECT lang, doc_id, n_chars, key_n,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY key_n DESC, doc_id) AS INT) AS rank
      FROM keyed)
WHERE rank <= {_WS_TOP_K}
"""


@register(
    "weighted_sample_docs",
    _WS_ORACLE,
    "Weighted sampling without replacement (Efraimidis–Spirakis A-ES): "
    "per-language top-20 docs by pow(u, 1/n_chars) with u from a salted "
    "deterministic hash -- longer docs proportionally likelier, fully "
    "reproducible.",
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed weighted-reservoir shape: the A-ES key makes
    'sample k docs with probability proportional to weight' a plain top-k
    by key, which distributes as map-side key computation + a per-group
    rank. Spark >=3.5 rewrites the rank filter into WindowGroupLimit
    (per-partition top-k before the exchange), so the shuffle carries at
    most K rows per group per task -- the same property the reference's
    TakeOrdered-based top-k relies on. Deterministic u (salted md5 of the
    id) keeps the draw identical across engines, runs, and cluster
    layouts, unlike seeded rand()."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "lang",
        "doc_id",
        "n_chars",
        F.expr(_WS_KEY.format(h=_WS_H_SPARK)).alias("key_n"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("key_n").desc(), F.col("doc_id"))
    return (
        keyed.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _WS_TOP_K)
        .select(
            "lang",
            "rank",
            "doc_id",
            "n_chars",
            (F.col("key_n") / F.lit(1000000000.0)).alias("key"),
        )
    )


# --- PMI collocations --------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOP_K = 30
_PMI_SCALE = 1_000_000

# PMI over BIGINT counts (pair count nab, unigram counts na/nb, totals
# B = bigrams, T = tokens): one shared expression, integer micro-nats.
_PMI_EXPR = (
    f"CAST(ROUND({_PMI_SCALE}.0 * LN("
    "(CAST(nab AS DOUBLE) / CAST(bt AS DOUBLE)) / "
    "((CAST(na AS DOUBLE) / CAST(tt AS DOUBLE)) * (CAST(nb AS DOUBLE) / CAST(tt AS DOUBLE)))"
    ")) AS BIGINT)"
)

_PMI_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS l
  FROM documents
),
pairs AS (
  SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS p FROM toks
),
bi AS (
  SELECT p[1] AS a, p[2] AS b, CAST(COUNT(*) AS BIGINT) AS nab
  FROM pairs GROUP BY 1, 2
),
uni AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(l) AS term FROM toks) GROUP BY term
),
tot AS (
  SELECT CAST((SELECT SUM(n) FROM uni) AS BIGINT) AS tt,
         CAST((SELECT SUM(nab) FROM bi) AS BIGINT) AS bt
),
scored AS (
  SELECT bi.a, bi.b, bi.nab, {_PMI_EXPR} AS pmi_n
  FROM bi
  JOIN uni ua ON ua.term = bi.a
  JOIN uni ub ON ub.term = bi.b
  CROSS JOIN tot,
  LATERAL (SELECT ua.n AS na, ub.n AS nb) _
  WHERE bi.nab >= {_PMI_MIN_COUNT}
)
SELECT a, b, nab, pmi_n / {_PMI_SCALE}.0 AS pmi, rank
FROM (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY pmi_n DESC, a, b) AS INT) AS rank
      FROM scored)
WHERE rank <= {_PMI_TOP_K}
"""


@register(
    "pmi_collocations",
    _PMI_ORACLE,
    "Collocation mining: top-30 adjacent word pairs by pointwise mutual "
    "information (min pair count 5) -- the word2phrase-style phrase "
    "detector, with integer micro-nat PMI.",
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase mining by PMI, the standard first pass for multi-word token
    vocabularies. One corpus pass builds BOTH count tables (the token
    array is computed once per doc, pairs via a zip of two slices --
    map-side only); bigram and unigram aggregates are each one
    map-side-combinable exchange; unigram counts and the 1-row totals
    broadcast onto the bigram table (the corpus-side table never
    re-shuffles). Rank window runs over the filtered bigram table only.
    At 100 TB the nab >= {min_count} filter happens before the joins,
    shrinking the scored table by orders of magnitude."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.expr("filter(split(lower(text), '[^a-z]+'), x -> x != '')").alias("l")
    ).cache()
    # size(l) >= 2 guard (ADVICE r6): a doc with no [a-z] tokens makes
    # slice(l, 1, size(l) - 1) a negative-length slice, a runtime error in
    # Spark (DuckDB returns []). Such docs contribute no bigrams either way,
    # so the filter is semantics-preserving and keeps `uni` over all docs.
    pairs = toks.where(F.size("l") >= 2).select(
        F.explode(
            F.arrays_zip(
                F.expr("slice(l, 1, size(l) - 1)"), F.expr("slice(l, 2, size(l) - 1)")
            )
        ).alias("p")
    ).select(F.col("p.0").alias("a"), F.col("p.1").alias("b"))
    bi = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).cast("bigint").alias("nab"))
    uni = (
        toks.select(F.explode("l").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = uni.agg(F.sum("n").cast("bigint").alias("tt")).crossJoin(
        bi.agg(F.sum("nab").cast("bigint").alias("bt"))
    )
    # NO broadcast hint on the unigram joins (VERDICT r8 #1): uni is
    # vocabulary-sized -- unbounded on real web data -- so forcing it into
    # a broadcast stops scaling long before 100 TB. Unhinted, AQE picks
    # broadcast while uni fits under the threshold and a co-partitioned
    # shuffle join on the term key once it doesn't; the bigram side is
    # already min-count-filtered before either join. Only the 1-row totals
    # stay an explicit broadcast cross.
    scored = (
        bi.where(F.col("nab") >= _PMI_MIN_COUNT)
        .join(uni.select(F.col("term").alias("a"), F.col("n").alias("na")), "a")
        .join(uni.select(F.col("term").alias("b"), F.col("n").alias("nb")), "b")
        .crossJoin(F.broadcast(tot))
        .withColumn("pmi_n", F.expr(_PMI_EXPR))
    )
    w = Window.orderBy(F.col("pmi_n").desc(), F.col("a"), F.col("b"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _PMI_TOP_K)
        .select("a", "b", "nab", (F.col("pmi_n") / float(_PMI_SCALE)).alias("pmi"), "rank")
    )


# --- TF-IDF characteristic terms ---------------------------------------------

_TI_TOP_K = 10
_TI_SCALE = 1_000_000

# Classic per-document idf ln(N_docs / df_docs), rounded to integer
# micro-nats inside the per-term table; per-lang score = tf * that integer
# (products only in the (lang, term) vocab table -- SCALING.md rule).
_TI_SCORE = "CAST(tf AS BIGINT) * CAST(ROUND({s}.0 * LN(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))) AS BIGINT)".format(s=_TI_SCALE)

_TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, term
  FROM (SELECT doc_id, lang, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        FROM documents)
  WHERE term <> ''
),
tf AS (SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
dfc AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY term),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.lang, tf.term, tf.tf, {_TI_SCORE} AS score_n
  FROM tf JOIN dfc USING (term) CROSS JOIN nd
)
SELECT lang, rank, term, tf, score_n / {_TI_SCALE}.0 AS tfidf
FROM (SELECT lang, term, tf, score_n,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY score_n DESC, term) AS INT) AS rank
      FROM scored)
WHERE rank <= {_TI_TOP_K}
"""


@register(
    "tfidf_lang_terms",
    _TFIDF_ORACLE,
    "Corpus summarization: top-10 characteristic terms per language by "
    "TF-IDF (classic per-document idf = ln(N_docs/df), integer "
    "micro-nats) -- high language-local frequency weighted against "
    "corpus-wide commonness.",
)
def tfidf_lang_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The what-distinguishes-this-slice report (language here; source or
    domain in production). SINGLE-LINEAGE plan with no vocabulary-sized
    broadcast (VERDICT r8 #1): a doc has exactly one lang, so the per-term
    document frequency is the SUM over langs of per-(lang, term) doc
    counts -- a window over the vocab table (<= |langs| rows per term)
    instead of a countDistinct + broadcast-back join whose build side
    grows with corpus vocabulary. One map-side-combinable pre-aggregation
    to (term, doc_id, lang) rows absorbs stopword repetition at the scan;
    everything after runs on vocab-sized tables, and the corpus is
    tokenized exactly once with no cache. The rank window runs per lang,
    where Spark's WindowGroupLimit caps the shuffle at K rows per group
    per task."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
    ).where(F.col("term") != "")
    # (term, doc_id) is unique per row here (lang is functionally
    # determined by doc_id), so downstream COUNT(*) per (lang, term)
    # counts DISTINCT documents
    per_doc = toks.groupBy("term", "doc_id", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf_doc")
    )
    per_lang = per_doc.groupBy("lang", "term").agg(
        F.sum("tf_doc").cast("bigint").alias("tf"),
        F.count(F.lit(1)).cast("bigint").alias("df_lang"),
    )
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    scored = (
        per_lang.withColumn(
            "df", F.sum("df_lang").over(Window.partitionBy("term")).cast("bigint")
        )
        .crossJoin(F.broadcast(nd))
        .withColumn("score_n", F.expr(_TI_SCORE))
    )
    w = Window.partitionBy("lang").orderBy(F.col("score_n").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _TI_TOP_K)
        .select("lang", "rank", "term", "tf", (F.col("score_n") / float(_TI_SCALE)).alias("tfidf"))
    )


@register(
    "streaming_weighted_reservoir",
    _WS_ORACLE,  # shared with the batch twin: A-ES top-k composes exactly
    "STREAMING twin of weighted_sample_docs: the per-language A-ES "
    "reservoir (top-20 by pow(u, 1/n_chars)) maintained across micro-"
    "batches with K-rows-per-language state -- CONSTANT in stream length "
    "-- and per-epoch idempotent commits. Deterministic salted-md5 keys "
    "make the drained reservoir row-identical to the batch draw, so it "
    "shares that oracle.",
)
def streaming_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling as a STREAM: top-K composes (top-K(prefix) union
    batch -> top-K), so the reservoir IS the state and arrival order is
    irrelevant -- the property that makes A-ES the streaming-native
    sampler (vs seeded rand(), which changes under repartitioning).
    Replayed in 2 chunks; exactly-once via overwrite-per-epoch state."""
    from rlink_rs_spark.streaming.sampling import (
        read_reservoir,
        streaming_weighted_reservoir_sink,
    )
    from rlink_rs_spark.streaming.sources import file_stream

    src = file_stream(
        spark, sf_dir, "documents", max_files_per_trigger=1, chunks=2, order_col="doc_id"
    )
    work_dir = scratch_dir("rlink_reservoir_")
    q = streaming_weighted_reservoir_sink(
        src.select("lang", "doc_id", "n_chars"),
        key_expr=_WS_KEY.format(h=_WS_H_SPARK),
        work_dir=work_dir,
        top_k=_WS_TOP_K,
    )
    drain(q, what="streaming_weighted_reservoir")
    return read_reservoir(spark, work_dir, top_k=_WS_TOP_K)


@register(
    "lang_id_confusion",
    f"""
    WITH pred AS (
      SELECT doc_id, lang_label, lang_pred
      FROM (WITH counted AS (
              SELECT doc_id, lang,
                     {", ".join(f"{marker_count_sql(_TOK_DUCK, lang)} AS c_{lang}" for lang in LANG_MARKERS)}
              FROM documents
            )
            SELECT doc_id, lang AS lang_label, {argmax_case_sql()} AS lang_pred
            FROM counted)
    )
    SELECT lang_label, lang_pred, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE) /
           CAST(SUM(COUNT(*)) OVER (PARTITION BY lang_label) AS DOUBLE) AS frac_of_label
    FROM pred GROUP BY lang_label, lang_pred
    """,
    "Classifier-eval harness: confusion matrix of the lang-ID heuristic "
    "against the fixture's language labels, with per-label fractions -- "
    "the precision/recall report a pipeline runs before trusting a "
    "filter's routing decisions. One combinable aggregate; the window "
    "normalizer runs over the <= |langs|^2 confusion cells, not the corpus.",
    bench=False,  # re-runs the lang_id_heuristic plan already timed
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition over the registered lang_id_heuristic: groupBy the
    (label, prediction) pair, then normalize within label over the tiny
    cell table. At 100 TB the only corpus-sized work is the marker-count
    projection the underlying query already does map-side."""
    pred = lang_id_heuristic(spark, sf_dir)
    cells = pred.groupBy("lang_label", "lang_pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.partitionBy("lang_label")
    return cells.select(
        "lang_label",
        "lang_pred",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w).cast("double")).alias(
            "frac_of_label"
        ),
    )


# ---------------------------------------------------------------------------
# REAL multimodal decode (round 14): dependency-free formats exercise the
# decode seam for real -- P6 PPM (binary RGB) and RIFF/WAVE PCM16 parse
# with numpy alone. Payloads are synthesized from a CLOSED-FORM pixel/
# sample function of (media_id, position), so the DuckDB oracle verifies
# the real decoder bit-exactly without ever decoding anything itself.

_PPM_W, _PPM_H = 24, 16

_PPM_ORACLE = f"""
WITH ids AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id % 10 = 0
), px AS (
  SELECT i.media_id, y.y, x.x, c.c,
         (i.media_id * 7 + ((y.y * {_PPM_W} + x.x) * 3 + c.c) * 13) % 256 AS v
  FROM ids i
  CROSS JOIN range({_PPM_H}) y(y)
  CROSS JOIN range({_PPM_W}) x(x)
  CROSS JOIN range(3) c(c)
)
SELECT media_id, {_PPM_W} AS width, {_PPM_H} AS height,
       CAST(SUM(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN c = 2 THEN v END) AS BIGINT) AS sum_b,
       CAST(SUM(CASE WHEN y % 2 = 0 AND x % 2 = 0 AND c = 0 THEN v END) AS BIGINT) AS rs_sum_r,
       CAST(SUM(CASE WHEN y % 2 = 0 AND x % 2 = 0 AND c = 1 THEN v END) AS BIGINT) AS rs_sum_g,
       CAST(SUM(CASE WHEN y % 2 = 0 AND x % 2 = 0 AND c = 2 THEN v END) AS BIGINT) AS rs_sum_b
FROM px GROUP BY media_id
"""


_PNG_W, _PNG_H = 20, 14

_PNG_ORACLE = f"""
WITH ids AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id % 10 = 5
), px AS (
  SELECT i.media_id, y.y, x.x, c.c,
         (i.media_id * 11 + ((y.y * {_PNG_W} + x.x) * 3 + c.c) * 17) % 256 AS v
  FROM ids i
  CROSS JOIN range({_PNG_H}) y(y)
  CROSS JOIN range({_PNG_W}) x(x)
  CROSS JOIN range(3) c(c)
)
SELECT media_id, {_PNG_W} AS width, {_PNG_H} AS height,
       CAST(SUM(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN c = 2 THEN v END) AS BIGINT) AS sum_b,
       CAST(SUM(CASE WHEN y % 2 = 0 AND x % 2 = 0 AND c = 0 THEN v END) AS BIGINT) AS rs_sum_r,
       CAST(SUM(CASE WHEN y % 2 = 0 AND x % 2 = 0 AND c = 1 THEN v END) AS BIGINT) AS rs_sum_g,
       CAST(SUM(CASE WHEN y % 2 = 0 AND x % 2 = 0 AND c = 2 THEN v END) AS BIGINT) AS rs_sum_b
FROM px GROUP BY media_id
"""


@register(
    "multimodal_png_roundtrip",
    _PNG_ORACLE,
    "REAL COMPRESSED-image decode through the multimodal seam, "
    "dependency-free: closed-form rasters are encoded as real PNGs "
    "(operators/multimodal.encode_png: IHDR/IDAT/IEND, CRC32, zlib "
    "deflate) and decoded by a real spec parser (decode_png: chunk walk "
    "with CRC verification, inflate, all FIVE scanline unfilters -- any "
    "conforming encoder's output decodes, pytest-pinned per filter), "
    "then resize_nearest halves them and per-channel integer sums of "
    "both rasters are emitted. The oracle recomputes the closed form "
    "relationally -- it never decodes -- so a hash match proves the "
    "encode->deflate->bytes->inflate->unfilter->resize chain is "
    "bit-exact. PNG being lossless is what makes a compressed format "
    "oracle-able; the PIL/ffmpeg seam now gates only lossy formats "
    "(JPEG/MP3/MP4).",
)
def multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from rlink_rs_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_png,
        encode_png,
        resize_nearest,
    )

    w, h = _PNG_W, _PNG_H
    ids = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 5)
        .select(F.col("doc_id").alias("media_id"))
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = np.arange(h * w * 3, dtype=np.int64)
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                px = ((int(mid) * 11 + p * 17) % 256).astype(np.uint8).reshape(h, w, 3)
                rows.append(
                    {
                        "media_id": int(mid),
                        "payload": encode_png(px),
                        "meta": {
                            "media_type": "image",
                            "mime": "image/png",
                            "width": w,
                            "height": h,
                            "duration_ms": None,
                        },
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload", "meta"])

    out_schema = T.StructType(
        [T.StructField("media_id", T.LongType(), False)]
        + [T.StructField(c, T.IntegerType(), False) for c in ("width", "height")]
        + [
            T.StructField(c, T.LongType(), False)
            for c in ("sum_r", "sum_g", "sum_b", "rs_sum_r", "rs_sum_g", "rs_sum_b")
        ]
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = decode_png(bytes(payload))  # REAL inflate + unfilter
                small = resize_nearest(px, px.shape[1] // 2, px.shape[0] // 2)
                sums = px.astype(np.int64).sum(axis=(0, 1))
                rs = small.astype(np.int64).sum(axis=(0, 1))
                rows.append(
                    {
                        "media_id": int(mid),
                        "width": px.shape[1],
                        "height": px.shape[0],
                        "sum_r": int(sums[0]),
                        "sum_g": int(sums[1]),
                        "sum_b": int(sums[2]),
                        "rs_sum_r": int(rs[0]),
                        "rs_sum_g": int(rs[1]),
                        "rs_sum_b": int(rs[2]),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    media = ids.mapInPandas(synth, MEDIA_SCHEMA)
    return media.mapInPandas(stats, out_schema)


@register(
    "multimodal_ppm_roundtrip",
    _PPM_ORACLE,
    "REAL image decode through the multimodal seam: synthesize binary P6 "
    "PPM payloads from a closed-form pixel function, then a real numpy "
    "parser (operators/multimodal.decode_ppm: header tokens, comments, "
    "raster view) decodes them, resize_nearest halves them, and per-channel "
    "integer sums of BOTH rasters are emitted. The oracle recomputes the "
    "closed form relationally -- it never decodes -- so a hash match proves "
    "the encode->bytes->decode->resize chain is bit-exact. The PIL/ffmpeg "
    "seam remains only for COMPRESSED formats.",
)
def multimodal_ppm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from rlink_rs_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_ppm,
        encode_ppm,
        resize_nearest,
    )

    w, h = _PPM_W, _PPM_H
    ids = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = np.arange(h * w * 3, dtype=np.int64)
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                px = ((int(mid) * 7 + p * 13) % 256).astype(np.uint8).reshape(h, w, 3)
                rows.append(
                    {
                        "media_id": int(mid),
                        "payload": encode_ppm(px),
                        "meta": {
                            "media_type": "image",
                            "mime": "image/x-portable-pixmap",
                            "width": w,
                            "height": h,
                            "duration_ms": None,
                        },
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload", "meta"])

    out_schema = T.StructType(
        [T.StructField("media_id", T.LongType(), False)]
        + [T.StructField(c, T.IntegerType(), False) for c in ("width", "height")]
        + [
            T.StructField(c, T.LongType(), False)
            for c in ("sum_r", "sum_g", "sum_b", "rs_sum_r", "rs_sum_g", "rs_sum_b")
        ]
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = decode_ppm(bytes(payload))  # REAL parse of the bytes
                small = resize_nearest(px, px.shape[1] // 2, px.shape[0] // 2)
                sums = px.astype(np.int64).sum(axis=(0, 1))
                rs = small.astype(np.int64).sum(axis=(0, 1))
                rows.append(
                    {
                        "media_id": int(mid),
                        "width": px.shape[1],
                        "height": px.shape[0],
                        "sum_r": int(sums[0]),
                        "sum_g": int(sums[1]),
                        "sum_b": int(sums[2]),
                        "rs_sum_r": int(rs[0]),
                        "rs_sum_g": int(rs[1]),
                        "rs_sum_b": int(rs[2]),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    media = ids.mapInPandas(synth, MEDIA_SCHEMA)
    return media.mapInPandas(stats, out_schema)


_WAV_N, _WAV_RATE = 1600, 16000

_WAV_ORACLE = f"""
WITH ids AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id % 10 = 3
), s AS (
  SELECT i.media_id, t.i,
         ((i.media_id * 31 + t.i * 17) % 65536) - 32768 AS v
  FROM ids i CROSS JOIN range({_WAV_N}) t(i)
), l AS (
  SELECT *, LAG(v) OVER (PARTITION BY media_id ORDER BY i) AS pv FROM s
)
SELECT media_id,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST({_WAV_N * 1000 // _WAV_RATE} AS BIGINT) AS duration_ms,
       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
       CAST(COUNT(*) FILTER (WHERE pv IS NOT NULL AND (v >= 0) != (pv >= 0))
            AS BIGINT) AS zero_crossings
FROM l GROUP BY media_id
"""


@register(
    "multimodal_wav_features",
    _WAV_ORACLE,
    "REAL audio decode through the multimodal seam: synthesize RIFF/WAVE "
    "mono PCM16 payloads from a closed-form sample function, then a real "
    "chunk-walking parser (operators/multimodal.decode_wav_pcm16: fmt "
    "chunk, word alignment, int16 view) decodes them and emits n_samples, "
    "decode-derived duration, integer sum(|s|), and zero-crossing counts. "
    "Oracle = the closed form via LAG; a hash match proves the real "
    "decoder, not the generator, produced the features.",
)
def multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from rlink_rs_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    ids = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 3)
        .select(F.col("doc_id").alias("media_id"))
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        i = np.arange(_WAV_N, dtype=np.int64)
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                s = (((int(mid) * 31 + i * 17) % 65536) - 32768).astype(np.int16)
                rows.append(
                    {
                        "media_id": int(mid),
                        "payload": encode_wav_pcm16(s, rate=_WAV_RATE),
                        "meta": {
                            "media_type": "audio",
                            "mime": "audio/wav",
                            "width": None,
                            "height": None,
                            "duration_ms": _WAV_N * 1000 // _WAV_RATE,
                        },
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload", "meta"])

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_samples", T.LongType(), False),
            T.StructField("duration_ms", T.LongType(), False),
            T.StructField("sum_abs", T.LongType(), False),
            T.StructField("zero_crossings", T.LongType(), False),
        ]
    )

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                s, rate = decode_wav_pcm16(bytes(payload))  # REAL parse
                sgn = s >= 0
                rows.append(
                    {
                        "media_id": int(mid),
                        "n_samples": len(s),
                        "duration_ms": len(s) * 1000 // rate,
                        "sum_abs": int(np.abs(s.astype(np.int64)).sum()),
                        "zero_crossings": int((sgn[1:] != sgn[:-1]).sum()),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    media = ids.mapInPandas(synth, MEDIA_SCHEMA)
    return media.mapInPandas(feats, out_schema)
