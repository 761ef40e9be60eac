"""Character n-gram language-model training + perplexity scoring, the
CCNet-style quality filter (Wenzek et al., "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data"): train a small LM on a trusted
partition of the corpus, score every document by per-character negative
log-likelihood, and bucket into head / middle / tail terciles.

Spark-first design
------------------
The LM here is a smoothed character-bigram model, chosen because it is the
smallest model that exercises the full distributed shape of the real thing
(KenLM 5-gram in CCNet):

* **Training** is one groupBy over the exploded bigrams of the trusted
  partition — map-side combinable, one exchange, and the result (the LUT)
  is at most ``V^2`` rows (V = 28: ``a-z``, space, and ``_`` for everything
  else after normalization). At 100 TB the LUT is still tiny.
* **Scoring** joins the exploded corpus bigrams against the broadcast LUT —
  the corpus itself never shuffles for the lookup; the only wide exchange
  is the per-doc partial aggregate (sum/count, combinable).
* **Bucketing** uses the distributed exact NTILE (operators/ranking.py,
  round 7): a parallel range exchange of the doc scores plus a closed-form
  tile from the exact global rank — bit-identical to NTILE(3) over the same
  total order at every scale, with no single-partition WindowExec.

Determinism contract (the oracle hash-matches): every per-bigram log-prob
is rounded to integer micro-nats *inside the tiny LUT* before any join or
sum, so the reassociative SUM is over exact BIGINTs; the only float ops in
the result are one negation and one division of identical integers, which
are bit-deterministic in IEEE 754 across both engines.

Reference parity: the reference has no LM filter; this is part of the
LLM-data-pipeline extension surface (brief: "quality scoring"), extending
rlink_rs_spark.operators.text.quality_score_sql's heuristic ratios with a
learned model.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rlink_rs_spark import artifacts

# Normalized alphabet: 26 letters + space + '_' (the OOV catch-all).
LM_ALPHABET_SIZE = 28
LM_SCALE = 1_000_000  # micro-nats

# Fallback log-prob for a bigram whose *prefix* never appeared in training:
# uniform 1/V. Inlined as the same integer literal in both engines so no
# cross-engine log() is involved for this constant.
LM_UNK_LP = int(round(math.log(1.0 / LM_ALPHABET_SIZE) * LM_SCALE))


def normalize_expr(text_col: str = "text") -> Column:
    """Lowercase and collapse everything outside [a-z ] to '_' (one '_' per
    character, so positions and lengths are preserved exactly — the oracle
    relies on this)."""
    return F.regexp_replace(F.lower(F.col(text_col)), "[^a-z ]", "_")


NORMALIZE_SQL = "regexp_replace(lower({col}), '[^a-z ]', '_', 'g')"


def bigram_rows(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Explode each document into (doc_id, lang, bg, pre) rows, one per
    overlapping character bigram of the normalized text. Documents shorter
    than 2 characters produce no rows (and therefore no score) — identical
    drop semantics in the DuckDB oracle's unnest(generate_series(...)).

    Map-side only: no exchange is introduced here."""
    norm = docs.select("doc_id", "lang", normalize_expr(text_col).alias("norm"))
    return (
        norm.select(
            "doc_id",
            "lang",
            "norm",
            F.explode(
                F.expr("CASE WHEN length(norm) >= 2 THEN sequence(1, length(norm) - 1) "
                       "ELSE CAST(array() AS array<int>) END")
            ).alias("i"),
        )
        .select(
            "doc_id",
            "lang",
            F.expr("substring(norm, i, 2)").alias("bg"),
            F.expr("substring(norm, i, 1)").alias("pre"),
        )
    )


def train_bigram_lut(train_bigrams: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Add-one-smoothed conditional bigram log-probs from the trusted
    partition's bigram rows.

    Returns (lut, pre_lut):
      lut:     bg -> lp   (micro-nats, BIGINT)  for bigrams seen in training
      pre_lut: pre -> lp  (micro-nats, BIGINT)  smoothed mass for an unseen
               bigram whose prefix character was seen

    One exchange (the groupBy); both outputs are <= V^2 rows — broadcast
    material at any corpus scale."""
    cnt = train_bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
    pre_cnt = cnt.groupBy(F.substring("bg", 1, 1).alias("pre")).agg(
        F.sum("c").alias("pc")
    )
    lut = (
        cnt.join(pre_cnt, F.substring(cnt["bg"], 1, 1) == pre_cnt["pre"])
        .select(
            "bg",
            F.expr(
                f"CAST(ROUND(LN((c + 1.0) / (pc + {LM_ALPHABET_SIZE}.0)) * {LM_SCALE}) AS BIGINT)"
            ).alias("lp"),
        )
    )
    pre_lut = pre_cnt.select(
        "pre",
        F.expr(
            f"CAST(ROUND(LN(1.0 / (pc + {LM_ALPHABET_SIZE}.0)) * {LM_SCALE}) AS BIGINT)"
        ).alias("lp"),
    )
    return lut, pre_lut


def score_documents(
    corpus_bigrams: DataFrame, lut: DataFrame, pre_lut: DataFrame
) -> DataFrame:
    """Per-document negative log-likelihood per character, via two broadcast
    left joins (seen bigram -> seen prefix -> uniform fallback) and one
    combinable per-doc aggregate. Returns
    (doc_id, lang, n_bigrams, nll_per_char)."""
    lut = F.broadcast(lut.withColumnRenamed("lp", "lp_bg"))
    pre_lut = F.broadcast(pre_lut.withColumnRenamed("lp", "lp_pre"))
    scored = (
        corpus_bigrams.join(lut, "bg", "left")
        .join(pre_lut, "pre", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.coalesce("lp_bg", "lp_pre", F.lit(LM_UNK_LP))).alias("sum_lp"),
        )
    )
    return scored.select(
        "doc_id",
        "lang",
        "n_bigrams",
        ((-F.col("sum_lp")) / (F.col("n_bigrams") * float(LM_SCALE))).alias(
            "nll_per_char"
        ),
    )


def load_or_train_lm_lut(
    spark,
    train_bigrams: DataFrame,
    fingerprint: str,
) -> tuple[DataFrame, DataFrame]:
    """Train-once / score-many for the bigram LM: persist (lut, pre_lut)
    as parquet artifacts keyed by a content fingerprint of the training
    corpus -- the same contract as the IVF codebook and LSH band index
    (rlink_rs_spark/artifacts.py). The LUT is a pure function of the
    training content (integer micro-nat rounding, no RNG), so reload is
    bit-safe."""
    def entry(name: str, i: int) -> DataFrame:
        key = f"{name}_{fingerprint}"
        return artifacts.parquet(spark, "lm_lut", key, lambda: train_bigram_lut(train_bigrams)[i])

    return entry("lm_lut", 0), entry("lm_prelut", 1)


def score_stream_columns(
    lut_pairs: list[tuple[str, int]],
    pre_pairs: list[tuple[str, int]],
    norm_col: str = "norm",
) -> tuple[Column, Column]:
    """(n_bigrams, sum_lp) columns that score a document in ONE map-side
    expression -- no explode, no join, no shuffle: the <=V^2-row LUT rides
    into the plan as a map literal and each position folds through
    F.aggregate. This is the STREAM-scoring shape: a stateless projection
    that any micro-batch (or plain select) applies with zero state, while
    integer micro-nat addition keeps the fold bit-identical to the batch
    twin's explode+join+SUM (BIGINT addition is exactly associative).

    Requires length(norm_col) >= 2 (filter first, matching bigram_rows'
    drop semantics for shorter docs)."""
    m_bg = F.create_map(*[F.lit(x) for kv in lut_pairs for x in kv])
    m_pre = F.create_map(*[F.lit(x) for kv in pre_pairs for x in kv])
    norm = F.col(norm_col)
    n_bigrams = (F.length(norm) - 1).cast("bigint")
    sum_lp = F.aggregate(
        F.sequence(F.lit(1), F.length(norm) - 1),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc
        + F.coalesce(
            F.element_at(m_bg, norm.substr(i, F.lit(2))),
            F.element_at(m_pre, norm.substr(i, F.lit(1))),
            F.lit(LM_UNK_LP).cast("bigint"),
        ),
    )
    return n_bigrams, sum_lp
