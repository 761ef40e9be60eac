"""Row transforms, connect analogues, and relational extras vs the oracle
(FIXTURES.md scenario 7 + SURVEY §2.2/§2.4/§2.9 coverage)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rlink_rs_spark.tables import load_table

from tests.helpers import run_query_vs_oracle

RELATIONAL = [
    "funnel_conversion",
    "cohort_retention",
    "anomaly_zscore_events",
    "flat_map_filter_transform",
    "union_connect",
    "broadcast_enrichment_join",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_star_join_volume",
    "top_k_per_group",
    # r12 additions (also driver-window members this round)
    "csv_source_roundtrip",
    "json_source_roundtrip",
    "udaf_median_daily",
    "set_ops_users",
    "distinct_agg",
    "sessionization",
    "salted_hot_key_agg",
    "asof_join_latest_click",
    "cube_agg",
    "pivot_agg",
    "profile_columns",
    "python_datasource_scan",
    "stats_agg",
    "weekday_agg",
    "exact_median",
    "value_histogram",
    "zorder_layout_stats",
    "timeseries_gap_fill",
    "scd2_priority_dimension",
    "grouping_sets_agg",
    "attribution_last_touch",
    "equi_depth_histogram",
    "merge_upsert_snapshot",
    "cdc_time_travel",
    "cdc_schema_evolution",
    # displaced from the driver window by the wave-3 rotation (r3-driver-green)
    "event_transition_matrix",
    "semi_anti_join_cohorts",
    "pipeline_enriched_agg",
    "kafka_envelope_roundtrip",
    "kafka_loopback_seek",
    "rollup_agg",
    "hourly_autocorr_lag1",
    "percentile_bands",
    "key_skew_report",
    # new in r7 (also in the driver window)
    "open_orders_range_join",
    # new in r8, not in the window
    "fuzzy_name_linkage",
    "time_to_next_purchase",
    "incremental_daily_rollup",
    "temporal_dimension_join",
    "cms_heavy_hitters",
    # displaced from the driver window by the r9 rotation (r8-driver-green)
    "daily_trend_ols",
    # new in r9, not in the window
    "constraint_check_report",
    "cdc_version_diff",
    # new in r10
    "cdc_optimize_compaction",
    # displaced from the driver window by the r10 rotation (r9-driver-green)
    "udtf_word_positions",
    "table_checksum_diff",
]


@pytest.mark.parametrize("name", RELATIONAL)
def test_relational_matches_oracle(spark, duck, sf_dir, name):
    run_query_vs_oracle(spark, duck, sf_dir, name)


def test_q3_falls_back_to_smj_without_broadcast(spark, sf_dir):
    """The SCALING.md claim made executable: with auto-broadcast disabled
    (standing in for dims too big to broadcast at 100 TB), the fact-spine
    join degrades gracefully to SortMergeJoin and results are unchanged.
    The explicitly-hinted broadcast of the filtered customer dim survives."""
    from rlink_rs_spark.queries import REGISTRY

    fn = REGISTRY["q3_shipping_priority"].fn
    want = [tuple(r) for r in fn(spark, sf_dir).collect()]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        got = [tuple(r) for r in df.collect()]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan  # the spine join, no longer broadcast
    assert "BroadcastHashJoin" in plan  # the hinted dim broadcast survives
    assert got == want


def test_asof_join_semantics(spark):
    """Backward as-of: equal timestamps match (inclusive), no prior right
    row yields nulls, and the LATEST prior right row wins."""
    from rlink_rs_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 100, 10.0), (1, 200, 20.0), (2, 50, 5.0)],
        "k long, lts long, lval double",
    )
    right = spark.createDataFrame(
        [(1, 100, 1.0), (1, 150, 2.0), (1, 300, 3.0), (3, 10, 9.0)],
        "k long, rts long, rval double",
    )
    out = {
        (r.k, r.lts): r.rval
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts", right_cols=["rval"]
        ).collect()
    }
    assert out == {
        (1, 100): 1.0,  # equal ts matches (inclusive)
        (1, 200): 2.0,  # latest prior (150) wins over 100; 300 is future
        (2, 50): None,  # no right rows for key 2
    }


def test_asof_join_matched_row_is_atomic(spark):
    """All right_cols must come from the SAME matched right row, and a NULL
    inside that row must survive -- per-column forward fill would stitch the
    older row's non-null value in (the DuckDB/pandas ASOF divergence)."""
    from rlink_rs_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 200, 0.0)], "k long, lts long, lval double")
    # older right row fully populated; the matched (latest) row has a NULL b
    right = spark.createDataFrame(
        [(1, 100, 1.0, 10.0), (1, 150, 2.0, None)],
        "k long, rts long, a double, b double",
    )
    row = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts", right_cols=["a", "b"]
    ).collect()[0]
    assert row.a == 2.0  # from the ts=150 matched row
    assert row.b is None  # NOT back-filled from the ts=100 row


def test_broadcast_join_plan_is_broadcast(spark, sf_dir):
    # the enrichment join must not shuffle the fact side
    from rlink_rs_spark.queries import REGISTRY

    plan = REGISTRY["broadcast_enrichment_join"].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q1_filter_pushdown(spark, sf_dir):
    from rlink_rs_spark.queries import REGISTRY

    plan = REGISTRY["q1_pricing_summary"].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_zorder_files_bound_both_dimensions(spark, sf_dir):
    """The data-skipping guarantee: a 4-bit z prefix fixes the top 2 bits
    of BOTH 8-bit dimensions, so every output file's min/max stats span at
    most 2^6 values in user AND time -- whereas any single-column sort
    leaves the secondary dimension spanning its full range. Also checks
    completeness (file row counts sum to the table) and prefix validity."""
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.relational import _Z_BITS, _Z_FILES_BITS
    from rlink_rs_spark.tables import load_table

    rows = REGISTRY["zorder_layout_stats"].fn(spark, sf_dir).collect()
    span = 1 << (_Z_BITS - _Z_FILES_BITS // 2)  # 2 prefix bits per dimension
    assert sum(r.n_rows for r in rows) == load_table(spark, sf_dir, "events").count()
    for r in rows:
        assert 0 <= r.file_id < (1 << _Z_FILES_BITS)
        assert r.max_u - r.min_u < span, r
        assert r.max_t - r.min_t < span, r


def test_funnel_stages_monotone_and_ordered(spark, sf_dir):
    """Funnel invariant: stage user counts are non-increasing (each stage
    conditions on completing the previous one), and conversions are in
    (0, 1]."""
    from rlink_rs_spark.queries import REGISTRY

    rows = sorted(
        REGISTRY["funnel_conversion"].fn(spark, sf_dir).collect(),
        key=lambda r: r.stage_order,
    )
    assert [r.stage for r in rows] == ["view", "click_after_view", "purchase_after_click"]
    users = [r.users for r in rows]
    assert users == sorted(users, reverse=True)
    assert all(0 < r.conv_from_prev <= 1 for r in rows)


def test_cohort_retention_week_zero_full(spark, sf_dir):
    """Retention invariants: week 0 of every cohort is 1.0 (the signup
    itself is activity in the cohort week), retention never exceeds 1,
    active_users <= cohort_size."""
    from rlink_rs_spark.queries import REGISTRY

    rows = REGISTRY["cohort_retention"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.retention <= 1.0
        assert r.active_users <= r.cohort_size
    week0 = [r for r in rows if r.week_offset == 0]
    assert week0 and all(r.retention == 1.0 for r in week0)


def test_anomaly_zscore_rate_and_nulls(spark, sf_dir):
    """Anomaly invariants: flags only where a z-score exists, |z| > 2 iff
    flagged, and the flag rate is small (a trailing window on well-behaved
    synthetic values should flag a few percent, not half the stream)."""
    from rlink_rs_spark.queries import REGISTRY

    rows = REGISTRY["anomaly_zscore_events"].fn(spark, sf_dir).collect()
    n_anom = 0
    for r in rows:
        if r.is_anomaly:
            n_anom += 1
            assert r.zscore is not None and abs(r.zscore) > 2.0
        elif r.zscore is not None:
            assert abs(r.zscore) <= 2.0
    assert 0 < n_anom < 0.2 * len(rows)


def test_gap_fill_spine_dense_and_locf(spark, sf_dir):
    """Gap-fill invariants: per user the hour spine is dense (contiguous
    hour indexes, no holes), first row is an observation (never a gap),
    and every gap row carries exactly the previous non-gap value."""
    from collections import defaultdict

    from rlink_rs_spark.queries import REGISTRY

    rows = REGISTRY["timeseries_gap_fill"].fn(spark, sf_dir).collect()
    by_u = defaultdict(list)
    for r in rows:
        by_u[r.user_id].append(r)
    assert by_u
    for u, rs in by_u.items():
        rs.sort(key=lambda r: r.hour_idx)
        idxs = [r.hour_idx for r in rs]
        assert idxs == list(range(idxs[0], idxs[-1] + 1)), f"holes in spine for user {u}"
        assert not rs[0].is_gap
        last_obs = None
        for r in rs:
            if r.is_gap:
                assert r.value_cents == last_obs
            else:
                last_obs = r.value_cents


def test_scd2_intervals_partition_history(spark, sf_dir):
    """SCD2 invariants: per customer, versions are contiguous from 1,
    intervals are non-overlapping and adjacent (each valid_to equals the
    next valid_from), exactly one current row closed by the high-date
    sentinel, and consecutive versions always change priority."""
    from collections import defaultdict

    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.relational import _SCD2_HIGH_MS

    rows = REGISTRY["scd2_priority_dimension"].fn(spark, sf_dir).collect()
    by_c = defaultdict(list)
    for r in rows:
        by_c[r.o_custkey].append(r)
    assert by_c
    for c, rs in by_c.items():
        rs.sort(key=lambda r: r.version)
        assert [r.version for r in rs] == list(range(1, len(rs) + 1))
        assert sum(1 for r in rs if r.is_current) == 1
        assert rs[-1].is_current and rs[-1].valid_to_ms == _SCD2_HIGH_MS
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to_ms == b.valid_from_ms
            assert a.priority != b.priority


def test_grouping_sets_consistency(spark, sf_dir):
    """The four granularities must agree: per-type totals equal the sum of
    that type's (type, weekday) cells, and the grand total equals the sum
    of per-type rows (count and exact-cents sum alike)."""
    from rlink_rs_spark.queries import REGISTRY

    rows = REGISTRY["grouping_sets_agg"].fn(spark, sf_dir).collect()
    cells = {(r.event_type, r.weekday): r for r in rows if r.gid == 0}
    by_type = {r.event_type: r for r in rows if r.gid == 1}
    grand = [r for r in rows if r.gid == 3]
    assert len(grand) == 1
    for t, tr in by_type.items():
        sub = [c for (ct, _), c in cells.items() if ct == t]
        assert sum(c.cnt for c in sub) == tr.cnt
        assert abs(sum(c.sum_value for c in sub) - tr.sum_value) < 1e-6
    assert sum(r.cnt for r in by_type.values()) == grand[0].cnt


def test_attribution_conserves_purchases(spark, sf_dir):
    """Attribution must conserve mass: channel purchase counts and revenue
    sum exactly to the corpus-wide purchase totals, and channels are only
    non-purchase event types plus 'direct'."""
    from rlink_rs_spark.queries import REGISTRY

    rows = REGISTRY["attribution_last_touch"].fn(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    tot = ev.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.expr("CAST(ROUND(value*100) AS BIGINT)")) / 100.0).alias("rev"),
    ).collect()[0]
    assert sum(r.n_purchases for r in rows) == tot.n
    assert abs(sum(r.revenue for r in rows) - tot.rev) < 1e-6
    types = {
        r.event_type
        for r in load_table(spark, sf_dir, "events").select("event_type").distinct().collect()
    }
    assert {r.channel for r in rows} <= (types - {"purchase"}) | {"direct"}


def test_equi_depth_buckets_balanced_and_ordered(spark, sf_dir):
    """Equi-depth invariants: bucket counts differ by at most 1, bounds
    are non-overlapping and ordered, and counts sum to the table size."""
    from rlink_rs_spark.queries import REGISTRY

    rows = sorted(
        REGISTRY["equi_depth_histogram"].fn(spark, sf_dir).collect(),
        key=lambda r: r.bucket,
    )
    assert [r.bucket for r in rows] == list(range(1, 11))
    counts = [r.cnt for r in rows]
    assert max(counts) - min(counts) <= 1
    n = load_table(spark, sf_dir, "lineitem").count()
    assert sum(counts) == n
    for a, b in zip(rows, rows[1:]):
        assert a.lo <= a.hi <= b.lo <= b.hi


def test_merge_upsert_semantics(spark, sf_dir):
    """MERGE invariants: deleted keys vanish, updated keys appear exactly
    once at version 1, untouched keys keep version 0, inserts land in the
    disjoint key range, and no key is duplicated."""
    from collections import Counter

    from rlink_rs_spark.queries import REGISTRY

    rows = REGISTRY["merge_upsert_snapshot"].fn(spark, sf_dir).collect()
    keys = Counter(r.doc_id for r in rows)
    assert max(keys.values()) == 1
    base_ids = {
        r.doc_id for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()
    }
    by_id = {r.doc_id: r for r in rows}
    for d in base_ids:
        if d % 13 == 0:
            assert d not in by_id
        elif d % 7 == 0:
            assert by_id[d].version == 1
        else:
            assert by_id[d].version == 0
        if d % 50 == 0:
            ins = by_id[d + 10000000]
            assert ins.version == 1 and ins.source == "backfill"


def test_autocorr_matches_numpy(spark, sf_dir):
    """Pearson lag-1 autocorrelation must equal numpy's corrcoef over the
    identical adjacent-hour pairs, and lie in [-1, 1]."""
    import numpy as np

    from rlink_rs_spark.queries import REGISTRY

    rows = REGISTRY["hourly_autocorr_lag1"].fn(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_millis(ts) div 3600000").alias("h"),
        F.expr("CAST(ROUND(value*100) AS BIGINT)").alias("xc"),
    ).groupBy("event_type", "h").agg(F.sum("xc").alias("xc")).collect()
    series = {}
    for r in ev:
        series.setdefault(r.event_type, {})[r.h] = r.xc
    for r in rows:
        hs = sorted(series[r.event_type])
        xy = [(series[r.event_type][a], series[r.event_type][b])
              for a, b in zip(hs, hs[1:]) if b == a + 1]
        assert r.n == len(xy)
        x, y = np.array([p[0] for p in xy], float), np.array([p[1] for p in xy], float)
        want = float(np.corrcoef(x, y)[0, 1])
        assert -1.0 <= r.autocorr_lag1 <= 1.0
        assert abs(r.autocorr_lag1 - want) < 1e-9


def test_percentile_bands_match_sorted_selection(spark, sf_dir):
    """Bands must equal direct selection from the sorted values at rank
    ceil(p*n), and be monotone p50 <= p95 <= p99."""
    import math
    from collections import defaultdict

    from rlink_rs_spark.queries import REGISTRY

    rows = REGISTRY["percentile_bands"].fn(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "event_id").collect()
    by_t = defaultdict(list)
    for r in ev:
        by_t[r.event_type].append((r.value, r.event_id))
    for r in rows:
        vals = [v for v, _ in sorted(by_t[r.event_type])]
        assert r.n == len(vals)
        for p, got in [(0.50, r.p50), (0.95, r.p95), (0.99, r.p99)]:
            assert got == vals[math.ceil(p * len(vals)) - 1]
        assert r.p50 <= r.p95 <= r.p99


def test_key_skew_report_consistent(spark, sf_dir):
    """Skew report invariants: ranks contiguous, counts non-increasing,
    shares and x_mean consistent with the totals, totals match the table."""
    from rlink_rs_spark.queries import REGISTRY

    rows = sorted(
        REGISTRY["key_skew_report"].fn(spark, sf_dir).collect(), key=lambda r: r.rank
    )
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    counts = [r.cnt for r in rows]
    assert counts == sorted(counts, reverse=True)
    ev = load_table(spark, sf_dir, "events")
    total = ev.count()
    n_keys = ev.select("user_id").distinct().count()
    for r in rows:
        assert r.total == total and r.n_keys == n_keys
        assert abs(r.share - r.cnt / total) < 1e-12
        assert abs(r.x_mean - r.cnt * n_keys / total) < 1e-9


def test_incremental_rollup_artifact_is_history_only_and_warm_path_exact(spark, sf_dir):
    """The persisted rollup must contain ONLY pre-delta days (the warm path
    never re-scans history), and a warm re-run must reproduce the
    full-table rollup exactly."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from rlink_rs_spark import artifacts
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.streaming.rollup import DAY_MS

    path = os.path.join(
        artifacts.ROOT, "daily_rollup", f"rollup_{artifacts.fingerprint(sf_dir, 'events')}"
    )
    shutil.rmtree(path, ignore_errors=True)

    cold = {tuple(r) for r in REGISTRY["incremental_daily_rollup"].fn(spark, sf_dir).collect()}
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    warm = {tuple(r) for r in REGISTRY["incremental_daily_rollup"].fn(spark, sf_dir).collect()}
    assert cold == warm and cold

    ev = load_table(spark, sf_dir, "events")
    max_day = ev.agg(
        F.max(F.expr(f"CAST(unix_millis(ts) div {DAY_MS} AS BIGINT)"))
    ).collect()[0][0]
    art_days = {r.day for r in spark.read.parquet(path).select("day").distinct().collect()}
    assert art_days and max(art_days) < max_day


def test_temporal_join_exactly_one_version_per_fact(spark, sf_dir):
    """Point-in-time correctness: contiguous SCD2 intervals must give every
    order exactly one version, and that version's validity must bracket
    the order date."""
    from rlink_rs_spark.queries import REGISTRY

    joined = REGISTRY["temporal_dimension_join"].fn(spark, sf_dir)
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert joined.count() == n_orders
    assert joined.select("o_orderkey").distinct().count() == n_orders


def test_constraint_report_flags_real_violations(spark, sf_dir):
    """Non-vacuity guard for the constraint suite: the fixture's key and
    referential constraints genuinely hold, while TPC-H-shaped account
    balances go negative -- so the report must contain BOTH verdicts
    (a suite that can only say 'passed' proves nothing)."""
    from rlink_rs_spark.queries import REGISTRY

    rows = {
        (r.table_name, r.constraint_name): (r.violations, r.passed)
        for r in REGISTRY["constraint_check_report"].fn(spark, sf_dir).collect()
    }
    assert len(rows) == 10
    assert rows[("orders", "unique_o_orderkey")] == (0, True)
    assert rows[("lineitem", "ref_l_orderkey_in_orders")] == (0, True)
    violations, passed = rows[("customer", "nonneg_c_acctbal")]
    assert violations > 0 and not passed
