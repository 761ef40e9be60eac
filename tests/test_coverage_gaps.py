"""Exercises for the previously implemented-but-untested surfaces:
rate source, console sink, kafka writer options, round-robin repartition,
and the Pipeline transform path (plan equality vs the direct form)."""

from __future__ import annotations

import os
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from rlink_rs_spark.tables import load_table


def test_rate_stream_produces_rows(spark):
    """RandInputFormat analogue (rand_input_format.rs:18-52): the unbounded
    generator must emit the declared (ts, name, value) schema with values in
    range."""
    from rlink_rs_spark.streaming.sources import rate_stream

    src = rate_stream(spark, rows_per_second=500)
    assert [f.name for f in src.schema.fields] == ["ts", "name", "value"]
    name = f"rate_{int(time.time())}"
    q = (
        src.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="rlink_ck_rate_"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and spark.table(name).count() < 10:
            time.sleep(0.5)
        rows = spark.table(name).collect()
    finally:
        q.stop()
    assert len(rows) >= 10
    assert all(r.name in {"key-0", "key-1", "key-2"} for r in rows)
    assert all(0 <= r.value < 100 for r in rows)


def test_console_sink_runs(spark, sf_dir):
    """print_sink analogue: a bounded replay through the console sink must
    run to completion (output goes to executor stdout)."""
    from rlink_rs_spark.sources.sinks import console_sink
    from rlink_rs_spark.streaming.sources import file_stream

    src = file_stream(spark, sf_dir, "events").select("event_id", "event_type", "value")
    q = console_sink(src, checkpoint=tempfile.mkdtemp(prefix="rlink_ck_console_"), num_rows=5)
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not q.recentProgress:
            time.sleep(0.5)
        assert q.recentProgress, "console sink processed no batch"
        assert q.exception() is None
    finally:
        q.stop()


def test_kafka_sink_writer_construction(spark, sf_dir):
    """KafkaOutputFormat analogue: the writeStream builder must accept the
    option set and the envelope shape (key/value) without a broker."""
    from rlink_rs_spark.sources.sinks import kafka_sink_options
    from rlink_rs_spark.streaming.sources import file_stream

    opts = kafka_sink_options("out-topic", "broker:9092")
    assert opts == {"kafka.bootstrap.servers": "broker:9092", "topic": "out-topic"}
    src = file_stream(spark, sf_dir, "events")
    envelope = src.select(
        F.col("user_id").cast("string").alias("key"),
        F.to_json(F.struct("event_id", "value")).alias("value"),
    )
    writer = envelope.writeStream.format("kafka")
    for k, v in opts.items():
        writer = writer.option(k, v)
    # construction succeeds; .start() requires the kafka jar + broker
    assert writer is not None


def test_round_robin_repartition(spark, sf_dir):
    from rlink_rs_spark.operators.repartition import key_partition, round_robin

    events = load_table(spark, sf_dir, "events")
    rr = round_robin(events, 7)
    assert rr.rdd.getNumPartitions() == 7
    assert "RoundRobinPartitioning(7)" in rr._jdf.queryExecution().executedPlan().toString()
    kp = key_partition(events, 5, "user_id")
    assert kp.rdd.getNumPartitions() == 5
    # every row of one key lands in one partition
    parts = (
        kp.select("user_id", F.spark_partition_id().alias("pid"))
        .groupBy("user_id")
        .agg(F.countDistinct("pid").alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    assert parts == 1


def test_file_format_roundtrips(spark, sf_dir, tmp_path):
    """CSV and JSON source/sink coverage (absent in the reference -- free
    via Spark, SURVEY §2.1): batch round-trip preserves values, and the
    JSON directory replays as a stream with the same schema."""
    from rlink_rs_spark.streaming.runner import run_to_memory

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    n = events.count()

    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    events.write.option("header", "true").csv(csv_dir)
    events.write.json(json_dir)

    csv_back = spark.read.option("header", "true").schema(events.schema).csv(csv_dir)
    json_back = spark.read.schema(events.schema).json(json_dir)
    assert csv_back.count() == n and json_back.count() == n
    assert {r.event_id for r in csv_back.select("event_id").collect()} == set(range(n))
    got = {(r.event_id, r.value) for r in json_back.collect()}
    want = {(r.event_id, r.value) for r in events.collect()}
    assert got == want

    streamed = run_to_memory(
        spark.readStream.schema(events.schema).json(json_dir).where(F.col("value") > 0)
    )
    assert streamed.count() == events.where(F.col("value") > 0).count()


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitioned layout: a filter on the partition column must
    prune at the scan (PartitionFilters), reading only matching directories
    -- the data-lake layout that makes 100 TB selective scans cheap."""
    out = str(tmp_path / "by_type")
    events = load_table(spark, sf_dir, "events")
    events.write.partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).where(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "isnotnull(event_type" in plan or "event_type" in plan.split("PartitionFilters")[1][:200]
    assert back.count() == events.where(F.col("event_type") == "click").count()


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Bucketed tables co-locate join keys at write time: the join plan has
    no shuffle exchange on either side -- the SCALING.md pre-partitioning
    claim made executable."""
    import uuid

    # warehouse dir is a static conf; managed tables land in the session's
    # default spark-warehouse and are dropped (data removed) in finally
    suffix = uuid.uuid4().hex[:8]
    ta, tb = f"ev_bucketed_{suffix}", f"cust_bucketed_{suffix}"
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    events.write.bucketBy(8, "user_id").sortBy("user_id").saveAsTable(ta)
    customer.withColumnRenamed("c_custkey", "user_id").write.bucketBy(8, "user_id").saveAsTable(tb)
    saved_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table(ta).join(spark.table(tb), "user_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        n = j.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved_threshold)
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # bucketing removed both shuffles
    assert n > 0


def test_aqe_splits_skewed_join(spark):
    """The SCALING.md skew claim made executable: a hot-key join under AQE
    (thresholds lowered to make fixture-sized skew visible) gets its skewed
    partition split -- 'skew=true' in the final adaptive SortMergeJoin --
    with correct results."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        hot = spark.range(200_000).select((F.col("id") * 0).alias("k"), F.col("id").alias("v"))
        cold = spark.range(20_000).select((F.col("id") % 100 + 1).alias("k"), F.col("id").alias("v"))
        right = spark.range(101).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
        j = hot.union(cold).join(right, "k")
        rows = j.collect()  # materialize THIS QueryExecution so AQE finalizes it
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert len(rows) == 220_000
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """The 100 TB semi-join pushdown path made executable: when a selective
    dimension filter feeds a shuffle join, Catalyst's runtime-filter rule
    injects a bloom filter on the fact side (BloomFilterMightContain in
    the final plan), pruning fact rows BEFORE the shuffle. Thresholds are
    lowered to make fixture-sized tables eligible; at real scale the
    defaults (10MB creation side / 10GB application side) gate it."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert rows and rows[0]["count"] > 0
    assert "bloom_filter_agg" in plan or "BloomFilterMightContain" in plan or "might_contain" in plan


def test_plan_hygiene_no_unplanned_cartesians(spark, sf_dir):
    """Every batch registry query must be free of CartesianProduct /
    BroadcastNestedLoopJoin except the documented by-design baselines
    (see tools/plan_audit.py, which also writes PLANS.md)."""
    from tools.plan_audit import audit_batch

    rows, violations = audit_batch(spark, sf_dir)
    assert violations == [], f"unplanned cartesian/NLJ in: {violations}"
    assert len(rows) >= 35  # the batch surface stays audited


def test_python_datasource_splits_and_stream(spark):
    """The custom Python DataSource must honor the split contract (one
    task per partitions() entry) and its streaming face must advance
    offsets in contiguous, replayable micro-batches."""
    from rlink_rs_spark.sources.python_datasource import register_synthetic_source

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rowsPerPartition", 25)
        .option("numPartitions", 4)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4  # splits = partitions() entries
    assert df.count() == 100
    assert {r.part for r in df.select("part").distinct().collect()} == {0, 1, 2, 3}

    import uuid

    src = spark.readStream.format("synthetic_events").option("batchRows", 40).load()
    name = f"synth_{uuid.uuid4().hex[:8]}"
    q = (
        src.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 90
    while time.time() < deadline and len(q.recentProgress) < 3:
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)
    ids = sorted(r.event_id for r in spark.table(name).collect())
    assert len(ids) >= 80 and len(ids) % 40 == 0
    assert ids == list(range(len(ids)))  # contiguous: offsets never skip or repeat


def test_approx_distinct_error_bound_and_partition_invariance(spark, sf_dir):
    """KMV estimate must sit within 6% of the exact distinct count (exact
    below K by construction), and be identical under a different partition
    layout (min-K of a hash set is order-independent -- a reproducibility
    requirement HLL++ register layouts can't give across engines)."""
    from rlink_rs_spark.operators.aggregations import kmv_distinct_sketch
    from rlink_rs_spark.queries import REGISTRY

    approx = {
        r.event_type: r.approx_users
        for r in REGISTRY["approx_distinct_users"].fn(spark, sf_dir).collect()
    }
    events = load_table(spark, sf_dir, "events")
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(1, 0.06 * n), (k, approx[k], n)

    shuffled = {
        r.event_type: r.approx_distinct
        for r in kmv_distinct_sketch(
            events.repartition(17, "user_id"), "event_type", "user_id"
        ).collect()
    }
    assert shuffled == approx


def test_kmv_sketch_estimator_path_above_k(spark):
    """Above K distinct values the KMV estimator must engage (not clamp to
    K) and land within 2/sqrt(K) of truth; deterministic md5 hashing makes
    this a fixed, non-flaky assertion."""
    from rlink_rs_spark.operators.aggregations import kmv_distinct_sketch

    n, k = 5000, 256
    df = spark.range(n * 3).select(
        F.lit("g").alias("g"), (F.col("id") % n).alias("v")
    )
    row = kmv_distinct_sketch(df, "g", "v", k=k).collect()[0]
    assert row.cnt == n * 3
    assert row.approx_distinct > k
    assert abs(row.approx_distinct - n) <= 2.0 / (k ** 0.5) * n, row.approx_distinct


def test_stats_var_null_on_singleton_group(spark):
    """A group with exactly one row must yield NULL variance/stddev, not a
    DIVIDE_BY_ZERO crash under ANSI mode (n - 1 == 0)."""
    from rlink_rs_spark.queries.stats import _MEAN, _SC, _VAR

    sums = spark.createDataFrame(
        [("solo", 1, 500, 2500), ("pair", 2, 700, 245000)],
        "event_type string, n long, sc long, sq long",
    )
    rows = {
        r.event_type: r
        for r in sums.select(
            "event_type",
            F.expr(_MEAN).alias("mean_value"),
            F.expr(_VAR).alias("var_value"),
            F.expr(f"SQRT({_VAR})").alias("std_value"),
        ).collect()
    }
    assert rows["solo"].mean_value == 5.0
    assert rows["solo"].var_value is None
    assert rows["solo"].std_value is None
    assert rows["pair"].var_value is not None


def test_plans_md_covers_full_batch_registry():
    """The committed PLANS.md artifact must have exactly one row per
    registry query -- batch (lazy executedPlan) AND streaming (executed
    micro-batch plans, VERDICT r10 #5). A stale audit (query added but
    PLANS.md not regenerated) fails here, not silently."""
    import re

    from rlink_rs_spark.queries import REGISTRY

    expected = set(REGISTRY)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md")) as f:
        text = f.read()
    in_plans = set(re.findall(r"^\| (\w+) \|", text, flags=re.M)) - {"query"}
    assert in_plans == expected, (
        f"PLANS.md stale: missing={sorted(expected - in_plans)} "
        f"extra={sorted(in_plans - expected)} -- rerun python tools/plan_audit.py"
    )


def test_python_udtf_flatmap_surface(spark):
    """The reference's FlatMapFunction is a 1->N row transform with schema
    change (core/function.rs:186-195); Python UDTFs are the Spark-4 native
    surface for arbitrary such logic when select/explode can't express it."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, pos: int")
    class Tokenize:
        def eval(self, text: str):
            for i, w in enumerate((text or "").split()):
                yield w, i

    spark.udtf.register("tokenize", Tokenize)
    out = spark.sql(
        "SELECT t.word, t.pos FROM VALUES ('a b c'), ('d') AS v(s), "
        "LATERAL tokenize(v.s) t"
    ).collect()
    assert [(r.word, r.pos) for r in out] == [("a", 0), ("b", 1), ("c", 2), ("d", 0)]


def test_pipeline_union_step(spark, sf_dir):
    """Pipeline.union (the CoProcess co-partitioned merge step) matches the
    direct unionByName + agg result."""
    from rlink_rs_spark.operators.aggregations import count, sum_
    from rlink_rs_spark.plans.pipeline import Pipeline

    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select("user_id", "value")
    purchases = events.where(F.col("event_type") == "purchase").select("user_id", "value")
    p = Pipeline().union(purchases).key_by("user_id").reduce(sum_("value", "sv"), count())
    got = {tuple(r) for r in p.build(clicks).collect()}
    want = {
        tuple(r)
        for r in clicks.unionByName(purchases)
        .groupBy("user_id")
        .agg(
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("sv"),
            F.count("*").alias("count"),
        )
        .collect()
    }
    assert got == want and got


def test_pipeline_transform_plan_matches_direct(spark, sf_dir):
    """The Pipeline-built transform chain must compile to the same optimized
    plan as the hand-written DataFrame form -- the builder adds zero
    overhead on top of Catalyst."""
    from rlink_rs_spark.queries import REGISTRY

    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    direct = (
        events.filter((F.col("value") > 100.0) & (F.col("event_type") != "error"))
        .withColumn("doubled", F.expr("CAST(value * 2 AS DOUBLE)"))
        .join(F.broadcast(customer), on=F.col("user_id") == F.col("c_custkey"), how="inner")
        .groupBy("c_mktsegment")
        .agg(
            (F.sum(F.round(F.col("doubled") * 100).cast("long")) / 100.0).alias("sum_doubled"),
            F.count("*").alias("count"),
        )
        .select(F.col("c_mktsegment").alias("segment"), "sum_doubled", F.col("count").alias("cnt"))
    )
    via_pipeline = REGISTRY["pipeline_enriched_agg"].fn(spark, sf_dir)
    p_plan = via_pipeline._jdf.queryExecution().optimizedPlan().toString()
    d_plan = direct._jdf.queryExecution().optimizedPlan().toString()
    import re

    def canon(s: str) -> str:
        return re.sub(r"#\d+L?", "#x", s)

    assert canon(p_plan) == canon(d_plan)


def test_driver_window_priority_is_exactly_50_registered_names():
    """The driver's correctness gate hashes the first 50 registry entries;
    the rotation list must be exactly 50 distinct names, every one
    registered, with the flagship (the entry() smoke query) first --
    a short or stale list silently hands gate slots to arbitrary queries."""
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries import _DRIVER_WINDOW_PRIORITY as prio

    assert len(prio) == 50
    assert len(set(prio)) == 50
    unknown = [n for n in prio if n not in REGISTRY]
    assert not unknown, f"priority names not in REGISTRY: {unknown}"
    assert prio[0] == "flagship_sliding_window_agg"
    assert list(REGISTRY)[:50] == prio


def test_not_benched_queries_have_documented_reasons():
    """Every bench=False registry entry must carry a visible reason in the
    bench artifact (BENCH JSON `not_benched`), and the documented set must
    not drift from the registry."""
    from bench import NOT_BENCHED
    from rlink_rs_spark.queries import REGISTRY

    unbenched = {n for n, q in REGISTRY.items() if not q.bench}
    assert unbenched == set(NOT_BENCHED)
    assert all(reason.strip() for reason in NOT_BENCHED.values())


def test_pagerank_conserves_mass_and_ranks_positive(spark, sf_dir):
    """PageRank invariants: every rank positive, total mass ~1 (damping
    leaks only via rounding, bounded by nodes * 1e-9), and the declarative
    unrolled plan touches the fact tables exactly once (the edge list is
    checkpointed, not re-derived per iteration)."""
    from rlink_rs_spark.queries import REGISTRY

    rows = REGISTRY["pagerank_trade_graph"].fn(spark, sf_dir).collect()
    assert rows and all(r.rank > 0 for r in rows)
    assert abs(sum(r.rank for r in rows) - 1.0) < 1e-6 * len(rows) + 0.01


def test_value_band_join_is_symmetric(spark, sf_dir):
    """|va - vb| <= eps is symmetric, so the total near-peer count must be
    even (every qualifying ordered pair appears in both directions)."""
    from rlink_rs_spark.queries import REGISTRY

    rows = REGISTRY["value_band_join"].fn(spark, sf_dir).collect()
    assert rows
    assert sum(r.near_peers for r in rows) % 2 == 0


def test_every_oracled_query_has_a_local_witness():
    """Meta-coverage guard: every registry query with an oracle must appear
    in at least one pytest oracle-parity list OR the driver's 50-row
    window -- so window rotation can never silently leave a query with no
    active correctness witness."""
    from rlink_rs_spark.queries import REGISTRY, _DRIVER_WINDOW_PRIORITY
    from tests.test_llm_ops import ORACLED as llm
    from tests.test_relational import RELATIONAL as rel
    from tests.test_tpch import TPCH as tpch
    from tests.test_windowed import WINDOWED as win

    covered = set(llm) | set(rel) | set(tpch) | set(win) | set(_DRIVER_WINDOW_PRIORITY)
    # streaming queries run through their own suite (tests/test_streaming.py
    # replays them for real); they are witnessed there plus the window
    streaming = {n for n in REGISTRY if n.startswith("streaming_") or n.startswith("stream_")}
    missing = [
        n for n, q in REGISTRY.items()
        if q.oracle is not None and n not in covered and n not in streaming
    ]
    assert not missing, f"oracled queries with no active witness: {missing}"


def test_bench_family_keys_are_pinned():
    """bench.py's per-family subtotals must partition the benched registry
    into exactly the known query modules -- a new module must be added here
    consciously so family-level bench history stays comparable."""
    import bench

    from rlink_rs_spark.queries import REGISTRY

    fams = {bench.query_family(n) for n, q in REGISTRY.items() if q.bench}
    assert fams == {
        "windowed",
        "relational",
        "streams",
        "dedup",
        "similarity",
        "text",
        "stats",
        "tpch",
        "pipeline_ops",
        "graph",
        "lm",
        "analytics",
        "search",
    }


def test_cms_counters_merge_and_overestimate_bound(spark, sf_dir):
    """CMS properties: (a) counters built on two disjoint halves and summed
    equal the whole-corpus counters (mergeability -- the shard/stream
    combine path); (b) every estimate >= its exact count (one-sided
    error)."""
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.stats import _CMS_B_SPARK, _CMS_D

    events = load_table(spark, sf_dir, "events")
    rows = spark.range(_CMS_D).select(F.col("id").cast("int").alias("r"))

    def counters(df):
        return (
            df.crossJoin(F.broadcast(rows))
            .groupBy("r", F.expr(_CMS_B_SPARK).alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
        )

    whole = {(r.r, r.b): r.c for r in counters(events).collect()}
    h1 = counters(events.where(F.col("event_id") % 2 == 0))
    h2 = counters(events.where(F.col("event_id") % 2 == 1))
    merged = {}
    for r in h1.unionByName(h2).groupBy("r", "b").agg(F.sum("c").alias("c")).collect():
        merged[(r.r, r.b)] = r.c
    assert merged == whole

    for r in REGISTRY["cms_heavy_hitters"].fn(spark, sf_dir).collect():
        assert r.cms_estimate >= r.exact_cnt


def test_committed_sf1_witness_is_clean():
    """Scale-regression gate (VERDICT r8 #4): the committed 10x witness
    must have zero queries above 2x linear -- the absolute bar
    tools/make_sf1_witness.py also enforces (plus a 1.5x-degradation
    check against the previous witness) at refresh time. A refresh that
    trips the gate exits nonzero and must not be committed."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH_sf1.json")
    with open(path) as f:
        witness = json.load(f)
    assert witness["queries_over_2x_linear"] == []
    # Same constant-dominated floor as the tool: a sub-2s sf1 row measures
    # harness overhead, not the plan, so its ratio carries no scale signal.
    over = {
        name: row["vs_linear"]
        for name, row in witness["queries"].items()
        if row["vs_linear"] > 2.0 and row["sf1_sec"] >= 2.0
    }
    assert not over, f"committed witness has super-linear rows: {over}"


def test_oracle_gated_fixtures_keep_static_lsh_banding():
    """ADVICE r9: embedding_cosine_near_dup intentionally diverges from
    its static 4x6-banded SQL oracle once the corpus outgrows the
    occupancy-scaled banding threshold, guarded at runtime only by a
    warning. This machine-checks the standing assumption instead: every
    fixture the oracle gate can run against (sf0.001 local iteration,
    sf0.01 the driver's scale) must still resolve to the static params --
    if the driver's fixtures ever regrow past the threshold, this fails
    with a clear scale-path signal rather than a confusing hash
    mismatch in the correctness gate."""
    import os

    import pyarrow.parquet as pq

    from rlink_rs_spark.operators.similarity import scaled_lsh_params
    from rlink_rs_spark.queries.similarity import _ND_BANDS, _ND_PPB

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        path = os.path.join(sf_dir, "embeddings.parquet")
        if not os.path.exists(path):
            continue
        n_vec = pq.ParquetFile(path).metadata.num_rows
        got = scaled_lsh_params(n_vec, base_bands=_ND_BANDS, base_ppb=_ND_PPB)
        assert got == (_ND_BANDS, _ND_PPB), (
            f"{sf_dir}: {n_vec} vectors scale banding to {got}; the "
            "registered static oracle is no longer exact at an "
            "oracle-gated scale -- register a scale-aware oracle or "
            "exemption before the driver hits this"
        )


def test_bench_prewarm_covers_artifact_builders():
    """bench.py's ARTIFACT_PREWARM must stay resolvable (every name
    registered and benched) and must cover every committed artifact cache
    family -- a renamed query or a new load_or_* cache added without a
    prewarm entry would silently put one-time training costs back into
    whichever timed query first touches the cold artifact."""
    from bench import ARTIFACT_PREWARM

    from rlink_rs_spark.queries import REGISTRY

    assert ARTIFACT_PREWARM
    for name in ARTIFACT_PREWARM:
        assert name in REGISTRY, name
        assert REGISTRY[name].bench, f"{name} is bench=False; prewarm noops"
    # every family the package builds through the store (the literal family
    # of each artifacts.parquet(spark, "<family>", ...) call and of each
    # os.path.join(artifacts.ROOT, "<family>", ...) path it commits) is
    # mapped by a comment of the ARTIFACT_PREWARM list
    import ast
    import inspect

    def literal_family(call: ast.Call) -> str | None:
        fn = ast.unparse(call.func)
        if fn == "artifacts.parquet" or (
            fn == "os.path.join" and call.args and ast.unparse(call.args[0]) == "artifacts.ROOT"
        ):
            arg = call.args[1] if len(call.args) > 1 else None
            return arg.value if isinstance(arg, ast.Constant) else None
        return None

    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "rlink_rs_spark")
    families = set()
    for d, _, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(d, f)) as fh:
                    tree = ast.parse(fh.read())
                families |= {
                    literal_family(n) for n in ast.walk(tree) if isinstance(n, ast.Call)
                } - {None}
    assert {"lm_lut", "ivf_inverted", "cdc_snapshots", "daily_rollup"} <= families, families
    src = inspect.getsource(__import__("bench"))
    prewarm = src[src.index("ARTIFACT_PREWARM = ["):]
    prewarm = prewarm[: prewarm.index("]")]
    for fam in families:
        assert fam in prewarm, f"artifact family {fam} not mapped in ARTIFACT_PREWARM"


def test_bench_chunking_is_deterministic_and_total():
    """Hash chunking must partition the benched registry (every benched
    query in exactly one chunk) and be independent of registry order --
    the property that makes per-query timings comparable across rounds."""
    from bench import bench_chunks

    from rlink_rs_spark.queries import REGISTRY

    names = [n for n, q in REGISTRY.items() if q.bench]
    chunks = bench_chunks(names, 16)
    flat = [n for c in chunks for n in c]
    assert sorted(flat) == sorted(names)
    # order-independence: a reshuffled registry yields identical chunks
    assert bench_chunks(list(reversed(names)), 16) == chunks


def test_fan_out_uses_file_metadata_and_noops_on_parallel_layouts(spark, tmp_path):
    """fan_out's guard (VERDICT r9 minor): the scan-parallelism probe must
    come from file metadata for file sources (no per-call RDD-conversion
    analysis pass on a 100 TB table), fan a one-file/one-row-group layout
    up to cluster parallelism, and NO-OP (return the same DataFrame) on a
    layout whose file count already saturates the floor."""
    from rlink_rs_spark.operators.repartition import fan_out

    few = str(tmp_path / "few")
    spark.range(1000).coalesce(1).write.mode("overwrite").parquet(few)
    df1 = spark.read.parquet(few)
    fanned = fan_out(df1)
    assert fanned is not df1
    assert fanned.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    many = str(tmp_path / "many")
    n = spark.sparkContext.defaultParallelism
    spark.range(100000).repartition(n).write.mode("overwrite").parquet(many)
    df2 = spark.read.parquet(many)
    assert fan_out(df2) is df2  # metadata probe alone proves it parallel

    # row-group bound (r11): byte splits over a ONE-row-group file do not
    # parallelize a parquet scan -- with maxPartitionBytes shrunk so the
    # split arithmetic alone would claim plenty of splits, the footer cap
    # must still route the single-row-group file to a repartition
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_oc = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        df3 = spark.read.parquet(few)  # one file, one row group, >>4KB
        fanned3 = fan_out(df3)
        assert fanned3 is not df3
        assert fanned3.rdd.getNumPartitions() == n
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_oc)


def test_gemm_assign_matches_chain_assignment(spark, sf_dir, monkeypatch):
    """The GEMM scale path for cell assignment (r10 100x probe fix: exact
    argmax is O(n*cells*dims) and was semantic_dedup's 2.22x-vs-linear
    term) must agree with the exact assign path, whose scores are the
    chain's bits (checked here against the kernel's chain mirror, so the
    two sides are different scorers): identical (vid, cell_id) on real
    data (no exact score ties) and ccos within float-reassociation
    distance; and a large-codebook k-means train must produce the same
    codebook through either per-iteration assignment (centroid sums are
    exact integer arithmetic given equal assignments)."""
    import numpy as np

    from rlink_rs_spark.operators import similarity as sim_ops
    from rlink_rs_spark.operators import vector_kernel as vk
    from rlink_rs_spark.queries.similarity import _DIMS, _ivf_artifacts

    emb, codebook, _ = _ivf_artifacts(spark, sf_dir)
    exact = {
        r.vid: (r.cell_id, r.ccos)
        for r in sim_ops.ivf_assign(emb, codebook, _DIMS).collect()
    }
    gemm = {
        r.vid: (r.cell_id, r.ccos)
        for r in sim_ops.gemm_assign(emb, codebook).collect()
    }
    assert set(exact) == set(gemm)
    assert all(exact[v][0] == gemm[v][0] for v in exact)  # same argmax cell
    assert max(abs(exact[v][1] - gemm[v][1]) for v in exact) < 1e-9

    vecs = {r.vec_id: r.embedding for r in emb.collect()}
    cents = {r.cell_id: r.cv for r in codebook.collect()}
    ids = sorted(exact)
    chain = vk.cosine(
        np.array([vecs[v] for v in ids], dtype=np.float64),
        np.array([cents[exact[v][0]] for v in ids], dtype=np.float64),
    )
    assert [exact[v][1] for v in ids] == chain.tolist()

    # large-codebook train: gemm iterations vs exact iterations, same result
    n_cells = sim_ops.GEMM_ASSIGN_MIN_CELLS + 8
    cb_gemm = {
        r.cell_id: tuple(r.cv)
        for r in sim_ops.train_ivf_codebook(emb, _DIMS, n_cells=n_cells, iters=1).collect()
    }
    monkeypatch.setattr(sim_ops, "GEMM_ASSIGN_MIN_CELLS", 1 << 30)  # force exact
    cb_exact = {
        r.cell_id: tuple(r.cv)
        for r in sim_ops.train_ivf_codebook(emb, _DIMS, n_cells=n_cells, iters=1).collect()
    }
    assert cb_gemm == cb_exact


def test_docs_registry_count_matches_live_registry():
    """README's stated registry size must equal len(REGISTRY) and its
    stated oracled count must equal the live oracled count -- docs can't
    drift from the code (VERDICT r11 #8). Update README.md's queries/
    line when adding or removing a registered query."""
    import re

    from rlink_rs_spark.queries import REGISTRY

    readme = open("README.md").read()
    m = re.search(r"the registry: (\d+) queries \((\d+) DuckDB-oracled", readme)
    assert m, "README.md no longer states the registry count in the pinned format"
    stated_total, stated_oracled = int(m.group(1)), int(m.group(2))
    live_total = len(REGISTRY)
    live_oracled = sum(1 for q in REGISTRY.values() if q.oracle is not None)
    assert (stated_total, stated_oracled) == (live_total, live_oracled), (
        f"README claims {stated_total}/{stated_oracled} but registry has "
        f"{live_total}/{live_oracled} -- update README.md"
    )


def test_decode_ppm_rejects_truncated_and_malformed_headers():
    """ADVICE r14: the header token scan must be bounded -- a truncated P6
    header (b'P6\\n24 16') used to spin forever because b''.isspace() is
    False. Every malformed shape fails fast with ValueError now."""
    import numpy as np

    from rlink_rs_spark.operators.multimodal import decode_ppm, encode_ppm

    for bad in (
        b"P6\n24 16",            # header cut mid-token, no trailing ws
        b"P6\n24 16 ",           # 3 tokens then only whitespace
        b"P6",                   # magic only
        b"P6\n# comment only",   # comment runs to EOF
        b"P5\n2 2\n255\n" + b"\0" * 12,  # wrong magic
        b"P6\n2 2\n65535\n" + b"\0" * 24,  # non-8-bit maxval
    ):
        with pytest.raises(ValueError):
            decode_ppm(bad)
    # round-trip still exact, including a comment line in the header
    px = (np.arange(2 * 3 * 3) % 251).astype(np.uint8).reshape(2, 3, 3)
    assert np.array_equal(decode_ppm(encode_ppm(px)), px)
    commented = b"P6\n# a comment\n3 2\n255\n" + px.tobytes()
    assert np.array_equal(decode_ppm(commented), px)


def test_decode_png_all_filters_and_malformed():
    """The PNG decoder must handle ANY conforming encoder's output, not
    just our filter-0 encoder: a raster is reference-FILTERED line by
    line with every spec filter type (None/Sub/Up/Average/Paeth),
    assembled into a valid PNG, and the decoder must invert all five.
    Roundtrip of our own encoder is bit-exact; malformed payloads
    (bad signature, truncated chunk, corrupted CRC, non-RGB header)
    fail fast with ValueError."""
    import struct
    import zlib

    import numpy as np

    from rlink_rs_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(px)), px)

    h, w, bpp = 7, 5, 3
    stride = w * bpp
    img = rng.integers(0, 256, (h, stride), dtype=np.int64)
    raw, prev = b"", np.zeros(stride, dtype=np.int64)
    for y in range(h):
        cur = img[y]
        f = y % 5
        if f == 0:
            filt = cur
        elif f == 1:  # Sub
            filt = cur.copy()
            filt[bpp:] = (cur[bpp:] - cur[:-bpp]) % 256
        elif f == 2:  # Up
            filt = (cur - prev) % 256
        elif f == 3:  # Average
            filt = np.empty(stride, dtype=np.int64)
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                filt[x] = (cur[x] - ((left + prev[x]) >> 1)) % 256
        else:  # Paeth
            filt = np.empty(stride, dtype=np.int64)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                filt[x] = (cur[x] - pred) % 256
        raw += bytes([f]) + bytes(filt.astype(np.uint8))
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(png), img.astype(np.uint8).reshape(h, w, bpp))

    gray_ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # grayscale
    bad_color = _PNG_SIG + _png_chunk(b"IHDR", gray_ihdr)
    for bad in (
        b"nope",
        png[:40],  # truncated mid-chunk
        png[:50] + bytes([png[50] ^ 0xFF]) + png[51:],  # corrupted byte -> CRC
        bad_color,
    ):
        with pytest.raises(ValueError):
            decode_png(bad)


def test_strip_heartbeats_keeps_null_keyed_groups(spark):
    """ADVICE r14: strip_heartbeats must be null-safe -- a plain `!=`
    evaluates to NULL for NULL-keyed rows and silently drops real groups
    along with the sentinels."""
    from rlink_rs_spark.streaming.watermarks import HEARTBEAT_KEY, strip_heartbeats

    df = spark.createDataFrame(
        [("a", 1), (None, 2), (HEARTBEAT_KEY, 3)], "k string, v int"
    )
    kept = {(r.k, r.v) for r in strip_heartbeats(df, "k").collect()}
    assert kept == {("a", 1), (None, 2)}
