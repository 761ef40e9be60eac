"""Deterministic statistical aggregates and histograms (engine extras;
absent in the reference, SURVEY §2.5/§2.9).

Naive stddev/variance differ bit-wise across engines (Welford vs two-pass
vs naive summation orders), so these are built from EXACT integer-cents
power sums -- SUM(cents) and SUM(cents^2) are order-independent BIGINT
arithmetic -- followed by one identical double-precision expression in both
engines. Every value hashes bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rlink_rs_spark.queries.base import register
from rlink_rs_spark.tables import load_table
from rlink_rs_spark.streaming.runner import drain

# shared double-precision tail (identical text in Spark SQL and DuckDB):
# inputs sc = SUM(cents) :: BIGINT, sq = SUM(cents^2) :: BIGINT, n :: BIGINT.
# CASTs force DOUBLE arithmetic -- a bare `sq / 10000.0` is DECIMAL division
# in Spark (ANSI literal typing) and silently rounds at decimal scale.
_SC = "CAST(sc AS DOUBLE) / 100.0"
_SQ = "CAST(sq AS DOUBLE) / 10000.0"
_MEAN = f"({_SC}) / n"
# n = 1 would divide by zero (DIVIDE_BY_ZERO under Spark ANSI mode, inf in
# DuckDB) -- singleton groups yield NULL variance/stddev in both engines.
_VAR = f"CASE WHEN n > 1 THEN (({_SQ}) - (({_SC}) * ({_SC})) / n) / (n - 1) ELSE NULL END"


@register(
    "stats_agg",
    f"""
    WITH sums AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sc,
             SUM(CAST(ROUND(value * 100) AS BIGINT) * CAST(ROUND(value * 100) AS BIGINT)) AS sq
      FROM events GROUP BY event_type
    )
    SELECT event_type, n, {_SC} AS sum_value,
           {_MEAN} AS mean_value,
           {_VAR} AS var_value,
           SQRT({_VAR}) AS std_value
    FROM sums
    """,
    "Mean/variance/stddev per key from exact integer power sums (one "
    "map-side-combined shuffle); bit-deterministic across engines and "
    "cluster runs, unlike the built-in Welford-path stddev.",
)
def stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    sums = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("sc"),
        F.sum(cents * cents).alias("sq"),
    )
    return sums.select(
        "event_type",
        "n",
        F.expr(_SC).alias("sum_value"),
        F.expr(_MEAN).alias("mean_value"),
        F.expr(_VAR).alias("var_value"),
        F.expr(f"SQRT({_VAR})").alias("std_value"),
    )


@register(
    "weekday_agg",
    """
    SELECT CAST((epoch_ms(ts) // 86400000 + 4) % 7 AS BIGINT) AS weekday,
           COUNT(*) AS cnt,
           SUM(CAST(ROUND(value * 100) AS BIGINT))/100.0 AS sum_value
    FROM events GROUP BY 1
    """,
    "Temporal bucketing by day-of-week via pure epoch arithmetic "
    "((days since epoch + 4) % 7, 0 = Sunday: epoch day 0 is a Thursday, "
    "so +4 lands Sunday on 0) -- engine-neutral where the "
    "built-in dayofweek()s disagree on week origin. Map-side, one shuffle "
    "over 7 groups.",
)
def weekday_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    weekday = ((F.unix_millis("ts") / F.lit(86400000)).cast("long") + 4) % 7
    return events.groupBy(weekday.cast("long").alias("weekday")).agg(
        F.count("*").alias("cnt"),
        (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("sum_value"),
    )


@register(
    "exact_median",
    """
    WITH ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type, value AS median_value
    FROM ranked WHERE rn = (n + 1) // 2
    """,
    "Exact lower-median per key via rank (percentile_disc family, "
    "deterministic event_id tie-break) -- the exact twin of the histogram "
    "percentile's bucketed answer. r7: distributed per-group rank, so a "
    "hot key no longer funnels through one task (the histogram remains "
    "the cheaper sketch when approximation is acceptable).",
)
def exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same rewire as percentile_bands: event_type has ~5 values, so the
    keyed row_number window was one task per group; with_group_rank
    range-partitions on (event_type, value, event_id) instead. Ranks are
    bit-identical -- the oracle is untouched."""
    from rlink_rs_spark.operators.ranking import with_group_rank

    events = load_table(spark, sf_dir, "events")
    gr = with_group_rank(
        events.select("event_type", "value", "event_id"),
        ["event_type"],
        [F.col("value"), F.col("event_id")],
        rank_col="rn",
    )
    counts = gr.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        gr.join(F.broadcast(counts), "event_type")
        .where(F.col("rn") == ((F.col("n") + 1) / 2).cast("long"))
        .select("event_type", F.col("value").alias("median_value"))
    )


# KMV (k-minimum-values) sketch parameters: keep the K smallest 60-bit
# md5-derived hashes per group; estimate = (K-1) * 2^60 / kth_smallest
# (Bar-Yossef et al. 2002 / Beyer et al. "On Synopses for Distinct-Value
# Estimation"), EXACT whenever the group has fewer than K distinct values.
# rel. std. error ~ 1/sqrt(K-2) = 3.1%. Unlike approx_count_distinct's
# HLL++ (whose register estimate is engine-specific), every op here --
# md5, hex->int, row_number, one IEEE double divide -- is bit-identical
# in Spark and DuckDB, so the oracle gate can value-hash the sketch.
_KMV_K = 1024
_TWO60 = 1 << 60

_KMV_ORACLE = f"""
    WITH dist AS (
      SELECT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, CAST(SUM(c) AS BIGINT) AS cnt FROM dist GROUP BY 1
    ), ranked AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM dist
    ), kmv AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_small, MAX(h) AS kth
      FROM ranked WHERE rn <= {_KMV_K} GROUP BY event_type
    )
    SELECT k.event_type,
           CASE WHEN n_small < {_KMV_K} THEN n_small
                ELSE CAST(FLOOR(CAST({_KMV_K - 1} AS DOUBLE) * CAST({_TWO60} AS DOUBLE)
                                / CAST(kth AS DOUBLE)) AS BIGINT)
           END AS approx_users,
           t.cnt AS cnt
    FROM kmv k JOIN tot t ON k.event_type = t.event_type
    """


@register(
    "approx_distinct_users",
    _KMV_ORACLE,
    "Approximate distinct users per event_type via a KMV (k-minimum-"
    f"values) sketch, K={_KMV_K}: fixed-size per group, mergeable by "
    "union-then-keep-K-smallest (the two-level window below IS that "
    "merge), exact below K distinct values, ~3% rel. error above. "
    "Deterministic md5-derived 60-bit hashes and integer/IEEE-double "
    "arithmetic only, so -- unlike HLL++ registers -- the estimate is "
    "engine-independent and the DuckDB oracle hash-matches it. 100 TB "
    "path: stage 1 prunes each (group, salt) shard to its K smallest "
    "distinct hashes, so no sort partition ever exceeds K rows per shard "
    "and the final per-group sort sees at most 64*K rows.",
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.operators.aggregations import kmv_distinct_sketch

    events = load_table(spark, sf_dir, "events")
    return kmv_distinct_sketch(events, "event_type", "user_id", k=_KMV_K).select(
        "event_type", F.col("approx_distinct").alias("approx_users"), "cnt"
    )


@register(
    "streaming_kmv_distinct",
    _KMV_ORACLE,  # shared with the batch twin: the KMV merge is exact
    "STREAMING twin of approx_distinct_users: the per-group KMV sketch "
    f"(K={_KMV_K} smallest distinct 60-bit hashes + one running row count) "
    "maintained across micro-batches. The sketch merge is EXACT -- "
    "discarded hashes are provably larger than the kth smallest, which "
    "only decreases -- so the drained estimate is row-identical to the "
    "batch sketch over the same rows and shares its DuckDB oracle. State "
    "is O(groups * K) rows, constant in stream length; per-epoch "
    "overwrite commits give exactly-once across restarts.",
)
def streaming_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count sketching as a STREAM (streaming/sketches.py): per
    micro-batch one map-side-combined groupBy over the batch, a distinct
    union with the <= K kept hashes, and one rank window over at most
    |groups| * (K + batch) rows. The standing corpus is never rescanned."""
    import tempfile

    from rlink_rs_spark.streaming.sketches import (
        read_kmv_estimate,
        streaming_kmv_sink,
    )
    from rlink_rs_spark.streaming.sources import file_stream

    src = file_stream(
        spark, sf_dir, "events", max_files_per_trigger=1, chunks=2, order_col="event_id"
    )
    work_dir = tempfile.mkdtemp(prefix="rlink_kmv_")
    q = streaming_kmv_sink(
        src.select("event_type", "user_id"),
        group_col="event_type",
        value_col="user_id",
        work_dir=work_dir,
        checkpoint=tempfile.mkdtemp(prefix="rlink_kmv_ck_"),
        k=_KMV_K,
    )
    drain(q, what="streaming_kmv_distinct")
    return read_kmv_estimate(spark, work_dir, k=_KMV_K)


@register(
    "value_histogram",
    """
    SELECT event_type, CAST(FLOOR(value / 100.0) AS BIGINT) AS bucket,
           COUNT(*) AS cnt
    FROM events GROUP BY event_type, CAST(FLOOR(value / 100.0) AS BIGINT)
    """,
    "Fixed-width value histogram per key (width 100): bucket assignment is "
    "map-side, counts combine before one shuffle -- the profiling histogram "
    "shape at any scale (cf. the percentile scale histogram, which uses "
    "the reference's leveldb boundaries instead).",
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 100.0).cast("long")
    return events.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count("*").alias("cnt")
    )


# --- equi-depth histogram ----------------------------------------------------

_EDH_BUCKETS = 10

_EDH_ORACLE = f"""
WITH cents AS (
  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS xc, l_orderkey, l_linenumber
  FROM lineitem
),
assigned AS (
  SELECT xc, NTILE({_EDH_BUCKETS}) OVER (ORDER BY xc, l_orderkey, l_linenumber) AS bucket
  FROM cents
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       MIN(xc)/100.0 AS lo, MAX(xc)/100.0 AS hi,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(COUNT(DISTINCT xc) AS BIGINT) AS ndv
FROM assigned GROUP BY bucket
"""


@register(
    "equi_depth_histogram",
    _EDH_ORACLE,
    "Equi-depth (equi-height) histogram of l_extendedprice in 10 buckets: "
    "per-bucket bounds, row count, and distinct-value count -- the "
    "optimizer statistics ANALYZE collects for selectivity estimation.",
)
def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram construction, the column-statistics operator
    behind cost-based selectivity estimation (and the bucket planner for
    range-partitioned writes). Bucket assignment comes from the distributed
    exact NTILE (operators/ranking.py): a parallel range exchange of the
    fact table -- the largest of the three r6 global-sort findings, now
    with no single-partition WindowExec -- with the total order fixed by
    the (value, orderkey, linenumber) tie-break, so the assignment stays
    bit-identical to the oracle's NTILE at every scale; the per-bucket
    rollup is combinable either way."""
    from rlink_rs_spark.operators.ranking import ntile_expr, with_global_rank

    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias("xc"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = with_global_rank(
        li, [F.col("xc"), F.col("l_orderkey"), F.col("l_linenumber")]
    )
    return (
        ranked.withColumn("bucket", F.expr(ntile_expr("_grank", "_gtotal", _EDH_BUCKETS)))
        .groupBy("bucket")
        .agg(
            (F.min("xc") / 100.0).alias("lo"),
            (F.max("xc") / 100.0).alias("hi"),
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("xc").alias("ndv"),
        )
    )


# --- exact percentile bands --------------------------------------------------

# PERCENTILE_DISC semantics by explicit rank selection (the exact_median
# shape generalized): value at rank ceil(p * n), (value, event_id) total
# order so both engines pick the identical row.
_PB_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       MAX(CASE WHEN rn = CAST(CEIL(0.50 * n) AS BIGINT) THEN value END) AS p50,
       MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT) THEN value END) AS p95,
       MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN value END) AS p99,
       CAST(MAX(n) AS BIGINT) AS n
FROM ranked
GROUP BY event_type
"""


@register(
    "percentile_bands",
    _PB_ORACLE,
    "Exact p50/p95/p99 value bands per event type (PERCENTILE_DISC at "
    "rank ceil(p*n), deterministic tie-break) -- the latency-band / SLO "
    "report shape, one pass.",
)
def percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three percentiles from ONE distributed exact rank and one
    pivot-style aggregate (no per-percentile passes). r7: the keyed
    row_number window became `with_group_rank` (operators/ranking.py) --
    event_type has ~5 values, so a PARTITION BY event_type window funnels
    20 TB per group through one task at 100 TB; the group rank instead
    range-partitions on (event_type, value, event_id), where a giant group
    simply spans several partitions. Ranks are bit-identical, so the
    oracle is untouched; the per-group count rides on a broadcast
    |groups|-row aggregate."""
    from rlink_rs_spark.operators.ranking import with_group_rank

    ev = load_table(spark, sf_dir, "events")
    gr = with_group_rank(
        ev.select("event_type", "value", "event_id"),
        ["event_type"],
        [F.col("value"), F.col("event_id")],
        rank_col="rn",
    )
    counts = gr.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = gr.join(F.broadcast(counts), "event_type").select(
        "event_type", "value", "rn", "n"
    )
    def at(p: float):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("bigint"),
                F.col("value"),
            )
        )
    return ranked.groupBy("event_type").agg(
        at(0.50).alias("p50"),
        at(0.95).alias("p95"),
        at(0.99).alias("p99"),
        F.max("n").cast("bigint").alias("n"),
    )


# Count-min sketch (Cormode & Muthukrishnan 2005): d=4 rows x w=256
# counters; counter (r, h_r(key)) accumulates every occurrence, estimate =
# min over rows -- always >= the true count, with collision excess bounded
# by ~ N/w per row. md5-derived row hashes make the sketch a pure function
# of content: deterministic, mergeable by counter addition, and exactly
# reproducible in SQL.
_CMS_D, _CMS_W = 4, 256
_CMS_TOP = 10

def _cms_bucket(engine_hex_to_int: str) -> str:
    """Bucket expression per (row r, key): 48-bit md5 slice of 'r#key'
    mod w. `engine_hex_to_int` formats the hex->BIGINT cast."""
    return engine_hex_to_int


_CMS_B_DUCK = (
    f"CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || '#' || CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) % {_CMS_W}"
)
_CMS_B_SPARK = (
    f"CAST(conv(substr(md5(CAST(r AS STRING) || '#' || CAST(user_id AS STRING)), 1, 12), 16, 10) AS BIGINT) % {_CMS_W}"
)

_CMS_ORACLE = f"""
WITH counters AS (
  SELECT r.r, {_CMS_B_DUCK} AS b, CAST(COUNT(*) AS BIGINT) AS c
  FROM events CROSS JOIN range({_CMS_D}) r(r)
  GROUP BY 1, 2
),
exact AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
  FROM events GROUP BY user_id
),
top AS (
  SELECT user_id, exact_cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, user_id) AS INT) AS rank
  FROM exact QUALIFY rank <= {_CMS_TOP}
),
probed AS (
  SELECT t.user_id, t.exact_cnt, t.rank, r.r,
         CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || '#' || CAST(t.user_id AS VARCHAR)), 1, 12)) AS BIGINT) % {_CMS_W} AS b
  FROM top t CROSS JOIN range({_CMS_D}) r(r)
)
SELECT p.user_id, p.rank, p.exact_cnt, MIN(c.c) AS cms_estimate
FROM probed p JOIN counters c ON c.r = p.r AND c.b = p.b
GROUP BY p.user_id, p.rank, p.exact_cnt
"""


@register(
    "cms_heavy_hitters",
    _CMS_ORACLE,
    f"Count-min sketch frequency estimation (d={_CMS_D} rows x w={_CMS_W} "
    "counters): the corpus folds into a FIXED-SIZE counter table in one "
    "map-side-combined pass (each row contributes d counter increments); "
    "estimates = min over rows of the probed counters, always >= exact "
    "with ~N/w expected collision excess. md5-derived hashes make the "
    "sketch content-deterministic and exactly SQL-reproducible -- the "
    "frequency complement of the KMV distinct sketch, and like it "
    "MERGEABLE (counter addition), so shards/streams combine without "
    "rescanning. Probes here are the exact top-10 users so the result "
    "also witnesses the overestimate bound per key.",
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two combinable aggregates over the corpus (counters + exact counts,
    each one shuffle); everything after runs on <= d*w + top-k rows."""
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    rows = spark.range(_CMS_D).select(F.col("id").cast("int").alias("r"))
    counters = (
        events.crossJoin(F.broadcast(rows))
        .groupBy("r", F.expr(_CMS_B_SPARK).alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    exact = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_cnt")
    )
    # top-k via orderBy+limit (compiles to distributed TakeOrderedAndProject
    # -- never a single-partition window over all users); the rank window
    # then runs on the k-row result only
    topk = exact.orderBy(F.col("exact_cnt").desc(), "user_id").limit(_CMS_TOP)
    w = Window.orderBy(F.col("exact_cnt").desc(), "user_id")
    top = topk.withColumn("rank", F.row_number().over(w).cast("int"))
    probed = top.crossJoin(F.broadcast(rows)).withColumn("b", F.expr(_CMS_B_SPARK))
    return (
        probed.join(counters, ["r", "b"])
        .groupBy("user_id", "rank", "exact_cnt")
        .agg(F.min("c").alias("cms_estimate"))
    )


_CMS_COUNTERS_ORACLE = f"""
SELECT r.r, {_CMS_B_DUCK} AS b, CAST(COUNT(*) AS BIGINT) AS c
FROM events CROSS JOIN range({_CMS_D}) r(r)
GROUP BY 1, 2
"""


@register(
    "streaming_cms_counters",
    _CMS_COUNTERS_ORACLE,
    "STREAMING count-min sketch: the fixed d x w counter table maintained "
    "as epoch state -- the CMS merge is counter ADDITION (exactly "
    "associative BIGINT sums), so the drained sketch is bit-equal to the "
    "batch fold over the same rows and hash-matches the batch counters "
    "SQL. With streaming_kmv_distinct this makes both sketch families "
    "(frequency + distinct) streamable with constant state and shared "
    "batch oracles; per-epoch overwrite commits give exactly-once.",
)
def streaming_cms_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per micro-batch: one map-side-combined fold of the BATCH into d x w
    counters, then a <= d*w-row merge with the carried table."""
    import tempfile

    from rlink_rs_spark.streaming.sketches import read_cms_counters, streaming_cms_sink
    from rlink_rs_spark.streaming.sources import file_stream

    src = file_stream(
        spark, sf_dir, "events", max_files_per_trigger=1, chunks=2, order_col="event_id"
    )
    work_dir = tempfile.mkdtemp(prefix="rlink_cms_")
    q = streaming_cms_sink(
        src.select("user_id"),
        bucket_expr=_CMS_B_SPARK,
        d=_CMS_D,
        work_dir=work_dir,
        checkpoint=tempfile.mkdtemp(prefix="rlink_cms_ck_"),
    )
    drain(q, what="streaming_cms_counters")
    return read_cms_counters(spark, work_dir)


# --- custom UDAF surface (Arrow grouped aggregate) ---------------------------


def _make_median_udaf():
    """Thin alias: the factory lives in functions/udafs.py, a module
    WITHOUT ``from __future__ import annotations`` so pandas_udf sees real
    pd.Series annotations instead of strings (ADVICE r12)."""
    from rlink_rs_spark.functions.udafs import make_median_udaf

    return make_median_udaf()

_UDAF_MEDIAN_ORACLE = """
WITH c AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY event_type, day) AS n
  FROM c
)
SELECT event_type, day, CAST(n AS BIGINT) AS cnt,
       cents AS median_cents, cents / 100.0 AS median_value
FROM r WHERE rn = (n - 1) // 2 + 1
"""


@register(
    "udaf_median_daily",
    _UDAF_MEDIAN_ORACLE,
    "Custom UDAF surface: exact lower-median of integer cents per "
    "(event_type, day) pane through a pandas_udf GROUPED_AGG -- the Arrow-"
    "batched analogue of the reference's SchemaReduceFunction (a user "
    "aggregate evaluated over an in-memory keyed pane, core/function.rs "
    "sum/max/min reduce family). The pane-in-memory contract matches the "
    "reference's mem-only window state: groups here are (type, day) panes "
    "whose size is bounded by a day of one key's events; for unbounded "
    "groups the rank-based exact_median / equi_depth machinery "
    "(operators/ranking.py) is the scale path. Integer median = a value "
    "from the data, so the oracle hash-matches bit-for-bit (no float "
    "quantile interpolation seam).",
)
def udaf_median_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    median_cents_udaf, pane_count_udaf = _make_median_udaf()

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return ev.groupBy("event_type", "day").agg(
        pane_count_udaf("cents").alias("cnt"),
        median_cents_udaf("cents").alias("median_cents"),
        (median_cents_udaf("cents") / 100.0).alias("median_value"),
    )
