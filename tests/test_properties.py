"""Property-based and edge-case hardening.

1. The vectorized alert fold vs a straightforward per-row reference fold
   (hypothesis: random cent sequences incl. negatives, random carried
   state, random batch splits -- stateful continuation must compose).
2. Cross-engine expression parity on adversarial strings: every pure-SQL
   text operator must produce identical results in Spark and DuckDB for
   empty/whitespace/unicode/punctuation inputs, not just the fixture.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import Phase, example, given, settings
from hypothesis import strategies as st

from rlink_rs_spark.streaming.stateful import fold_alert_cents


def _reference_fold(cents, total_cents, alerts, thr_cents):
    """Per-row reference: the semantics the vectorized fold must match."""
    emits = []
    for i, c in enumerate(cents):
        total_cents += c
        while total_cents >= (alerts + 1) * thr_cents:
            alerts += 1
            emits.append((i, alerts, total_cents))
        # a dip never decrements `alerts`
    return emits, total_cents, alerts


@settings(max_examples=200, deadline=None)
@given(
    cents=st.lists(st.integers(min_value=-50_000, max_value=50_000), min_size=1, max_size=60),
    total0=st.integers(min_value=-10_000, max_value=200_000),
    alerts0=st.integers(min_value=0, max_value=5),
    thr=st.integers(min_value=1, max_value=100_000),
)
def test_fold_alert_cents_matches_reference(cents, total0, alerts0, thr):
    # precondition the reference fold imposes on carried state: alerts
    # already covers the carried total (true by construction in the stream)
    alerts0 = max(alerts0, total0 // thr if total0 >= 0 else 0)
    got = fold_alert_cents(cents, total0, alerts0, thr)
    want = _reference_fold(cents, total0, alerts0, thr)
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    cents=st.lists(st.integers(min_value=-10_000, max_value=10_000), min_size=2, max_size=40),
    split=st.integers(min_value=1, max_value=39),
    thr=st.integers(min_value=1, max_value=20_000),
)
def test_fold_alert_cents_composes_across_batches(cents, split, thr):
    """Folding [A ++ B] equals folding A then B with carried state -- the
    micro-batch continuation property."""
    split = min(split, len(cents) - 1)
    one_emits, one_total, one_alerts = fold_alert_cents(cents, 0, 0, thr)
    a_emits, a_total, a_alerts = fold_alert_cents(cents[:split], 0, 0, thr)
    b_emits, b_total, b_alerts = fold_alert_cents(cents[split:], a_total, a_alerts, thr)
    combined = a_emits + [(i + split, s, c) for i, s, c in b_emits]
    assert combined == one_emits
    assert (b_total, b_alerts) == (one_total, one_alerts)


def _reference_pct(values, p, scale):
    """Direct implementation of the reference's histogram read
    (functions/percentile/mod.rs:80-122 accumulate, 171-210 get_result):
    bucket each value to the smallest boundary >= it (clamp to top), then
    walk buckets from the top until floor(n*(100-p)/100) (clamped to
    [1, n]) tail samples are covered; answer = that bucket's boundary."""
    import bisect

    counts = {}
    for v in values:
        i = bisect.bisect_left(scale, v)
        b = scale[min(i, len(scale) - 1)]
        counts[b] = counts.get(b, 0) + 1
    n = len(values)
    target = max(1, min(n, (n * (100 - p)) // 100))
    seen = 0
    for b in sorted(counts, reverse=True):
        seen += counts[b]
        if seen >= target:
            return float(b)
    return float(min(counts))


@settings(max_examples=100, deadline=None)
@given(
    values=st.lists(
        st.floats(min_value=0.01, max_value=2_000_000, allow_nan=False), min_size=1, max_size=80
    ),
    p=st.sampled_from([50, 90, 95, 99]),
)
def test_histogram_percentile_sql_matches_reference(values, p):
    """The shared Spark/DuckDB percentile SQL must implement exactly the
    reference's bucket + top-down-walk algorithm (validated through DuckDB;
    the identical SQL text is what the Spark side executes)."""
    from rlink_rs_spark.functions.percentile import (
        PERCENTILE_SCALE,
        histogram_percentile_oracle_sql,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE vals(g INTEGER, v DOUBLE)")
    con.executemany("INSERT INTO vals VALUES (1, ?)", [(v,) for v in values])
    sql = histogram_percentile_oracle_sql("SELECT g, v FROM vals", ["g"], "v", [p])
    got = con.sql(sql).fetchall()[0][1]
    want = _reference_pct(values, p, PERCENTILE_SCALE)
    assert got == want, f"p{p} over {len(values)} values: sql={got} ref={want}"


EDGE_STRINGS = [
    "",
    " ",
    "   ",
    "one",
    "one two",
    "a  b",  # double space -> empty token
    "the the the the the",
    "Hello, World! 42",
    "tab\tand\nnewline",
    "ünïcödé tökens ärë fìne",
    "trailing space ",
    " leading",
    "punct!!! ???",
    "1 2 3 4 5 6 7 8 9 10 11 12",
    "x" * 500,
    ("word " * 50).strip(),
]


@pytest.fixture(scope="module")
def edge_tables(spark):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(EDGE_STRINGS)], "doc_id long, text string"
    )
    df.createOrReplaceTempView("edge_documents")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", list(enumerate(EDGE_STRINGS))
    )
    return df, con


def _compare(spark_rows, duck_rows):
    s = sorted(tuple(r) for r in spark_rows)
    d = sorted(tuple(r) for r in duck_rows)
    assert s == d, f"engine divergence:\nspark={s[:5]}\nduck={d[:5]}"


def test_edge_strings_text_ops_parity(spark, edge_tables):
    """quality score, BPE tokens, rolling hash, fingerprint, and shingles
    must agree across engines on adversarial strings."""
    from rlink_rs_spark.operators.dedup import shingles_sql, with_shingles
    from rlink_rs_spark.queries.text import _BPE_PAT, _RH_HASH32_DUCK, _RH_MOD

    df, con = edge_tables

    # BPE-ish token count
    from pyspark.sql import functions as F

    s_rows = df.select(
        "doc_id", F.size(F.expr(f"regexp_extract_all(text, '{_BPE_PAT}', 0)")).alias("n")
    ).collect()
    d_rows = con.sql(
        f"SELECT doc_id, len(regexp_extract_all(text, '{_BPE_PAT}')) AS n FROM documents"
    ).fetchall()
    _compare(s_rows, d_rows)

    # rolling hash
    fold = (
        "aggregate(transform(split(text, ' '), "
        "t -> CAST(conv(substring(md5(t), 9, 8), 16, 10) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, h) -> (acc * 31 + h) % {_RH_MOD})"
    )
    s_rows = df.select("doc_id", F.expr(fold).alias("h")).collect()
    d_rows = con.sql(
        "SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split(text, ' '), t -> {_RH_HASH32_DUCK})), "
        f"(acc, h) -> (acc * 31 + h) % {_RH_MOD}) AS h FROM documents"
    ).fetchall()
    _compare(s_rows, d_rows)

    # md5 fingerprint of normalized text
    s_rows = df.select(
        "doc_id", F.md5(F.lower(F.trim("text")).cast("binary")).alias("f")
    ).collect()
    d_rows = con.sql("SELECT doc_id, md5(lower(trim(text))) AS f FROM documents").fetchall()
    _compare(s_rows, d_rows)

    # shingles (the ANSI short-doc regression surface)
    s_rows = with_shingles(df, k=3).collect()
    d_rows = con.sql(
        f"SELECT DISTINCT doc_id, unnest({shingles_sql(3)}) AS shingle FROM documents"
    ).fetchall()
    _compare(s_rows, d_rows)

    # digit-run redaction (Spark global default vs DuckDB 'g' flag)
    s_rows = df.select(
        "doc_id", F.regexp_replace("text", "[0-9]+", "<NUM>").alias("r")
    ).collect()
    d_rows = con.sql(
        "SELECT doc_id, regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS r FROM documents"
    ).fetchall()
    _compare(s_rows, d_rows)

    # vocabulary token counts (explode/unnest + empty-token filter parity)
    s_rows = (
        df.select(F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .count()
        .collect()
    )
    d_rows = con.sql(
        "SELECT token, COUNT(*) FROM (SELECT unnest(string_split(text, ' ')) AS token "
        "FROM documents) WHERE token <> '' GROUP BY token"
    ).fetchall()
    _compare(s_rows, d_rows)


def _ntile_reference(r: int, n: int, k: int) -> int:
    """SQL-standard NTILE computed CONSTRUCTIVELY (walk the tiles, assign
    contiguous rank ranges) -- deliberately a different algorithm from the
    closed form under test, so the comparison is not circular."""
    q, rem = divmod(n, k)
    start = 1
    for t in range(1, k + 1):
        size = q + 1 if t <= rem else q
        if size and start <= r <= start + size - 1:
            return t
        start += size
    raise AssertionError(f"rank {r} not covered by tiles (n={n}, k={k})")


def _ntile_closed_form_py(r: int, n: int, k: int) -> int:
    """Evaluate operators/ranking.ntile_expr's arithmetic in Python (div =
    integer division on BIGINTs -- same semantics for the positive operands
    used here)."""
    q = n // k
    rem = n % k
    big = rem * (q + 1)
    if r <= big:
        return (r + q) // (q + 1)
    return rem + (r - big + q - 1) // q


@given(n=st.integers(1, 100_000), k=st.integers(1, 64))
@settings(max_examples=300, deadline=None)
def test_ntile_closed_form_property(n, k):
    """Property check of the distributed-NTILE closed form against the
    SQL-standard tile-size definition: tiles partition 1..n contiguously,
    sizes differ by at most one, larger tiles first, and the closed form
    agrees at every boundary rank (first/last of each tile) plus the
    extremes -- the ranks where off-by-one arithmetic would show."""
    q, rem = divmod(n, k)
    # boundary ranks of every tile (bounded count: <= 2k + 4 probes)
    probes = {1, n}
    start = 1
    for t in range(1, k + 1):
        size = q + 1 if t <= rem else q
        if size == 0:
            break
        probes.add(start)
        probes.add(start + size - 1)
        start += size
    for r in probes:
        if 1 <= r <= n:
            assert _ntile_closed_form_py(r, n, k) == _ntile_reference(r, n, k)
    # tile sizes: contiguous, monotone, each q or q+1, larger first
    if n >= k:
        counts = {}
        step = max(1, n // (4 * k))
        prev = 0
        for r in range(1, n + 1, step):
            t = _ntile_closed_form_py(r, n, k)
            assert t >= prev  # monotone in rank
            prev = t


def test_edge_strings_chunking_parity(spark, edge_tables):
    """chunk_documents' generate-and-explode expressions must agree across
    engines on adversarial strings (empty text, empty tokens from double
    spaces, unicode, one-token docs): same chunk starts, lengths, and
    content hashes."""
    from pyspark.sql import functions as F

    from rlink_rs_spark.queries.pipeline_ops import _CHUNK_S, _CHUNK_W

    df, con = edge_tables
    toks = df.select("doc_id", F.expr("split(text, ' ')").alias("w"))
    starts = toks.select(
        "doc_id",
        "w",
        F.explode(F.expr(f"sequence(0, size(w) - 1, {_CHUNK_S})")).alias("st"),
    )
    chunk = F.expr(f"slice(w, st + 1, {_CHUNK_W})")
    s_rows = starts.select(
        "doc_id",
        F.col("st").cast("bigint"),
        F.size(chunk).cast("bigint").alias("n"),
        F.md5(F.array_join(chunk, " ")).alias("h"),
    ).collect()
    d_rows = con.sql(
        f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        starts AS (
          SELECT doc_id, w, unnest(generate_series(0, len(w) - 1, {_CHUNK_S})) AS st
          FROM toks)
        SELECT doc_id, CAST(st AS BIGINT),
               CAST(len(list_slice(w, st + 1, st + {_CHUNK_W})) AS BIGINT) AS n,
               md5(array_to_string(list_slice(w, st + 1, st + {_CHUNK_W}), ' ')) AS h
        FROM starts
        """
    ).fetchall()
    _compare(s_rows, d_rows)


@settings(max_examples=200, deadline=None)
@given(
    values=st.lists(st.integers(min_value=0, max_value=50), min_size=0, max_size=120),
    cuts=st.lists(st.integers(min_value=0, max_value=120), max_size=5),
    k=st.integers(min_value=1, max_value=16),
)
def test_kmv_merge_is_exact_property(values, cuts, k):
    """The algebra streaming_kmv_distinct relies on, pinned over random
    multisets and arbitrary chunkings: folding chunk-by-chunk (keep the K
    smallest distinct hashes + a running count) equals computing the
    sketch over the whole stream at once, for every split."""
    import hashlib

    def h(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    whole_hashes = sorted({h(v) for v in values})[:k]
    whole_count = len(values)

    bounds = sorted({c for c in cuts if c <= len(values)} | {0, len(values)})
    chunks = [values[a:b] for a, b in zip(bounds, bounds[1:])]
    kept: set[int] = set()
    count = 0
    for ch in chunks:
        kept = set(sorted(kept | {h(v) for v in ch})[:k])
        count += len(ch)
    assert sorted(kept) == whole_hashes
    assert count == whole_count


@settings(max_examples=60, deadline=None)
@given(
    commits=st.lists(
        st.tuples(
            st.integers(min_value=-1, max_value=12),          # epoch id
            st.sets(st.integers(min_value=0, max_value=7)),   # buckets written
            st.booleans(),                                    # committed (_COMMITTED)?
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    before_epoch=st.integers(min_value=0, max_value=14),
    retain=st.integers(min_value=0, max_value=4),
)
def test_cdc_bucket_resolution_and_gc_safety(tmp_path_factory, commits, before_epoch, retain):
    """Pure-filesystem property of the CDC snapshot protocol
    (streaming/cdc.py): _bucket_versions resolves each bucket to its
    newest COMMITTED epoch < N regardless of write/torn history, and a
    GC pass with any retention can never delete the version that a
    subsequent in-window resolution would return."""
    import os
    import shutil

    from rlink_rs_spark.streaming.cdc import (
        COMMIT_MARKER,
        _bucket_versions,
        _gc_superseded,
    )

    snap = str(tmp_path_factory.mktemp("snap"))
    try:
        for eid, buckets, committed in commits:
            edir = os.path.join(snap, f"batch_id={eid}")
            for b in buckets:
                os.makedirs(os.path.join(edir, f"bucket={b}"), exist_ok=True)
            os.makedirs(edir, exist_ok=True)
            if committed:
                open(os.path.join(edir, COMMIT_MARKER), "w").close()

        def expected(n):
            out = {}
            for eid, buckets, committed in sorted(commits, reverse=True):
                if committed and eid < n:
                    for b in buckets:
                        out.setdefault(
                            b, os.path.join(snap, f"batch_id={eid}", f"bucket={b}")
                        )
            return out

        assert _bucket_versions(snap, before_epoch) == expected(before_epoch)

        # GC as epoch `before_epoch` would run it, with retention
        _gc_superseded(snap, before_epoch - retain)
        # every in-retention-window resolution is unchanged
        for n in range(max(0, before_epoch - retain), before_epoch + 1):
            got = _bucket_versions(snap, n)
            want = expected(n)
            assert got == want, (n, got, want)
    finally:
        shutil.rmtree(snap, ignore_errors=True)


@settings(max_examples=80, deadline=None)
@given(
    history=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),                     # root
            st.integers(min_value=0, max_value=30),          # epoch id
            st.booleans(),                                   # committed (_SUCCESS)?
        ),
        max_size=24,
        unique_by=lambda t: (t[0], t[1]),
    ),
    before=st.one_of(st.none(), st.integers(min_value=0, max_value=32)),
    after=st.one_of(st.none(), st.integers(min_value=-1, max_value=30)),
)
def test_epoch_resolver_numeric_order_and_torn_dirs(tmp_path_factory, history, before, after):
    """streaming/epochs.py, pure filesystem: `committed` returns exactly the
    marked ids in (after, before) in NUMERIC order (ids up to 30, so a
    lexicographic listing -- batch_id=10 before batch_id=2 -- is caught),
    `latest(root, before=N)` is the newest id committed below N, and a
    torn dir (no marker) is never returned."""
    import os
    import shutil

    from rlink_rs_spark.streaming.epochs import committed, ids, latest, path

    work = str(tmp_path_factory.mktemp("epochs"))
    roots = {r: os.path.join(work, r) for r in ("a", "b")}
    try:
        for r, eid, is_committed in history:
            os.makedirs(path(roots[r], eid))
            if is_committed:
                open(os.path.join(path(roots[r], eid), "_SUCCESS"), "w").close()

        def marked(r, lo=None, hi=None):
            return {
                eid for root, eid, c in history
                if root == r and c and (lo is None or lo < eid) and (hi is None or eid < hi)
            }

        for r in roots:
            got = committed(roots[r], before=before, after=after)
            assert got == sorted(marked(r, after, before))
            assert ids(roots[r], before=before, after=after) == sorted(
                eid for root, eid, _ in history
                if root == r and (after is None or after < eid) and (before is None or eid < before)
            )
            assert latest(roots[r], before=before) == max(marked(r, hi=before), default=None)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_shingle_sets_match_grouped_collect_set(spark, edge_tables):
    """r16: the map-side per-doc shingle array builders must reproduce the
    grouped twins exactly -- shingle_sets == with_shingles+collect_set as
    sets per doc (modulo empty-array rows for shingle-less docs, which the
    grouped twin omits and inner-join consumers never see), and
    shingle_sizes == the grouped distinct count, BIGINT."""
    from pyspark.sql import functions as F

    from rlink_rs_spark.operators.dedup import shingle_sets, shingle_sizes, with_shingles

    df, _ = edge_tables
    for k in (2, 3):
        grouped = {
            r.doc_id: frozenset(r.sh)
            for r in with_shingles(df, k=k)
            .groupBy("doc_id")
            .agg(F.collect_set("shingle").alias("sh"))
            .collect()
        }
        direct = {r.doc_id: frozenset(r.sh) for r in shingle_sets(df, k=k).collect()}
        # direct has a row per doc; grouped omits shingle-less docs
        assert {d: s for d, s in direct.items() if s} == grouped
        assert all(not s for d, s in direct.items() if d not in grouped)

        sizes = {r.doc_id: r.n for r in shingle_sizes(df, k=k).collect()}
        want = {
            r.doc_id: r.n
            for r in with_shingles(df, k=k)
            .groupBy("doc_id")
            .agg(F.count_distinct("shingle").alias("n"))
            .collect()
        }
        assert {d: n for d, n in sizes.items() if n} == want
        row = shingle_sizes(df, k=k).schema["n"]
        assert row.dataType.typeName() == "long"


# few distinct tokens, so docs repeat shingles; multi-byte UTF-8; "" makes
# a double space (an empty token)
_HASH_TOKENS = ["a", "b", "é", "日本", "🙂", "Zß", "x1", ""]


@settings(max_examples=25, deadline=None)
@given(
    texts=st.lists(
        st.one_of(st.none(), st.lists(st.sampled_from(_HASH_TOKENS), max_size=9).map(" ".join)),
        min_size=1,
        max_size=8,
    )
)
@example(texts=["é 日本 🙂 a b", None, "", "a b", "a a a a a a", "Zß 日本 Zß 日本 Zß"])
def test_hash_kernel_bits_equal_oracle_text(spark, texts):
    """The md5 kernel's MinHash band table and SimHash column equal
    DuckDB's evaluation of the oracle text over the same rows, bit for
    bit -- including null and empty text and docs with fewer than k
    tokens, which have no shingles and so no row on either side."""
    from rlink_rs_spark.operators.dedup import minhash_bands, shingle_sets, simhash
    from rlink_rs_spark.queries.dedup import (
        _BAND_SELECTS_SQL,
        _MINHASH_AGGS_SQL,
        _SHINGLED_SQL,
        _SIMHASH_CTES,
    )

    import pandas as pd

    rows = list(enumerate(texts))
    # from pandas: the rows reach the JVM as Arrow, with no Python source
    # task per job; two partitions give the kernel several docs per batch
    # and more than one batch
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    sets = shingle_sets(spark.createDataFrame(pdf, "doc_id long, text string").coalesce(2))
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    shingled = f"WITH shingled AS ({_SHINGLED_SQL})"
    want_bands = con.sql(
        f"{shingled}, sigs AS (SELECT doc_id, {_MINHASH_AGGS_SQL} FROM shingled GROUP BY doc_id), "
        f"banded AS ({_BAND_SELECTS_SQL}) SELECT doc_id, band, sig FROM banded"
    ).fetchall()
    want_sims = con.sql(f"{shingled}, {_SIMHASH_CTES} SELECT doc_id, simhash FROM sims").fetchall()

    assert sorted(tuple(r) for r in minhash_bands(sets).collect()) == sorted(want_bands)
    assert sorted(tuple(r) for r in simhash(sets).collect()) == sorted(want_sims)


def test_bpe_local_training_matches_distributed(spark, sf_dir, monkeypatch):
    """r16: train_bpe_merges' driver-local iteration path (taken when the
    word-freq table fits _BPE_DRIVER_VOCAB_MAX) must produce the exact
    merge table of the distributed count+argmax loop -- same pair counts,
    same (cnt desc, l asc, r asc) tie-break, same anchored left-to-right
    replace fold."""
    from rlink_rs_spark.operators import text as T
    from rlink_rs_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    local = [tuple(r) for r in T.train_bpe_merges(docs, n_merges=4).collect()]
    monkeypatch.setattr(T, "_BPE_DRIVER_VOCAB_MAX", 0)  # force distributed
    dist = [tuple(r) for r in T.train_bpe_merges(docs, n_merges=4).collect()]
    assert local == dist and len(local) == 4


# -- the watermark model: the flagship window aggregate and the interval
# join, replayed from random file splits, against a pure-Python model ----

_T0_S = 1_700_000_000  # event times are seconds after this (a multiple of 20)
_WITHIN_S = 40  # the join's interval bound in these replays
# Times and delays are multiples of 5 s, so watermarks often land exactly on
# a window end or a join bound: the tests pin <= against <.
_EVENT = st.tuples(
    st.integers(0, 30).map(lambda k: 5 * k),  # ts, seconds after _T0_S
    st.sampled_from(["click", "purchase", "view"]),  # event_type: the flagship's key
    st.integers(1, 2),  # user_id: the join's key
    st.integers(-500, 5000),  # value in cents
)


@st.composite
def _replays(draw):
    """Events in arrival order, cut into 1..4 non-empty files: every order
    is possible, so files carry out-of-order and late rows."""
    events = draw(st.lists(_EVENT, min_size=1, max_size=12))
    cuts = draw(st.sets(st.integers(1, len(events) - 1), max_size=3)) if len(events) > 1 else set()
    bounds = [0, *sorted(cuts), len(events)]
    rows = [(i, _T0_S + t, kind, user, cents) for i, (t, kind, user, cents) in enumerate(events)]
    return [rows[a:b] for a, b in zip(bounds, bounds[1:])]


def _model_watermarks(files, sides, delay_s):
    """The watermark each batch evicts with, as streaming/watermarks.py
    documents Spark's rule, plus the final one a trailing no-data batch
    uses (None: still at its start). After a batch, every watermark node
    stands at the max event time it has seen minus the delay, and a node
    that has seen no row holds the global watermark at its start; the
    global watermark is the minimum over the nodes and never moves back; a
    batch sees only what its predecessors set."""
    seen, wm, out = {side: [] for side in sides}, None, []
    for rows in files:
        out.append(wm)
        for side, keep in sides.items():
            seen[side] += [r[1] for r in rows if keep(r)]
        if all(seen.values()):
            low = min(max(ts) for ts in seen.values()) - delay_s
            wm = low if wm is None else max(wm, low)
    return out + [wm]


def _late(wms, j, ts) -> bool:
    """Batch j drops a row (or a window's copy of it) whose event time is at
    or before the previous batch's watermark."""
    return j > 0 and wms[j - 1] is not None and ts <= wms[j - 1]


def _flagship_model(files, delay_s):
    """Rows the flagship emits in append mode and the window copies it drops."""
    wms = _model_watermarks(files, {"events": lambda r: True}, delay_s)
    windows, dropped = {}, 0
    for j, rows in enumerate(files):
        late = set()
        for _, ts, kind, _, cents in rows:
            first = ts // 20 * 20
            for start in (first - 40, first - 20, first):  # sliding 60s / 20s
                if _late(wms, j, start + 60):
                    late.add((start, kind))
                else:
                    windows.setdefault((start, kind), []).append(cents)
        dropped += len(late)  # counted per dropped (window, key) group
    final = wms[-1]
    out = sorted(
        (s * 1000, (s + 60) * 1000, kind, sum(c) / 100.0, max(c) / 100.0, min(c) / 100.0, len(c))
        for (s, kind), c in windows.items()
        if final is not None and s + 60 <= final
    )
    return out, dropped


def _join_model(files, delay_s):
    """Rows the inner interval join emits and the input rows it drops."""
    sides = {k: (lambda r, k=k: r[2] == k) for k in ("click", "purchase")}
    wms = _model_watermarks(files, sides, delay_s)
    kept, dropped = {"click": [], "purchase": []}, 0
    for j, rows in enumerate(files):
        for r in rows:
            if r[2] not in kept:
                continue
            if _late(wms, j, r[1]):
                dropped += 1
            else:
                kept[r[2]].append(r)
    out = sorted(
        (c[3], c[0], p[0], c[1] * 1000, p[1] * 1000, (p[1] - c[1]) * 1000)
        for c in kept["click"]
        for p in kept["purchase"]
        if c[3] == p[3] and c[1] <= p[1] <= c[1] + _WITHIN_S
    )
    return out, dropped


def _stage_replay(files) -> str:
    """One parquet file per batch under <dir>/staged, replayed in order, and
    all rows in <dir>/events.parquet, the schema fixture."""
    import os
    import tempfile
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("event_type", pa.string()),
        ("user_id", pa.int64()), ("value", pa.float64()),
    ])

    def table(rows):
        cols = list(zip(*rows)) or [[]] * 5
        return pa.table([
            pa.array(cols[0], pa.int64()),
            pa.array([t * 1_000_000 for t in cols[1]], pa.int64()).cast(pa.timestamp("us")),
            pa.array(cols[2], pa.string()),
            pa.array(cols[3], pa.int64()),
            pa.array([c / 100.0 for c in cols[4]], pa.float64()),
        ], schema=schema)

    root = tempfile.mkdtemp(prefix="rlink_wm_model_")
    pq.write_table(table([r for rows in files for r in rows]), os.path.join(root, "events.parquet"))
    staged = os.path.join(root, "staged")
    os.mkdir(staged)
    now = time.time()
    for i, rows in enumerate(files):
        p = os.path.join(staged, f"chunk_{i:05d}.parquet")
        pq.write_table(table(rows), p)
        os.utime(p, (now + i, now + i))  # replay order = file order
    return root


@pytest.mark.parametrize("stores", [1, 4])
# no shrink phase: each shrinking step would run both queries again
@settings(
    max_examples=4, deadline=None, derandomize=True,
    phases=[Phase.explicit, Phase.generate],
)
@given(files=_replays(), delay_s=st.integers(0, 8).map(lambda k: 5 * k))
@example(  # rows just inside and on the delay, a window end and the join bound
    files=[
        [(0, _T0_S + 100, "click", 1, 10), (1, _T0_S + 100, "purchase", 1, 20)],
        [(2, _T0_S, "view", 2, 30)],
        [(3, _T0_S + 90, "click", 1, 40), (4, _T0_S + 95, "purchase", 1, 50),
         (5, _T0_S + 60, "click", 1, 60), (6, _T0_S + 80, "purchase", 1, 70),
         (7, _T0_S + 130, "purchase", 1, 80)],
    ],
    delay_s=20,
)
def test_watermark_model(spark, stores, files, delay_s):
    """The flagship window aggregate (run_to_memory) and the inner interval
    join (run_to_parquet) over a replay cut into 1..4 files emit exactly
    the model's rows and drop exactly its late rows, at 1 and 4 state
    stores."""
    import os
    import shutil

    from rlink_rs_spark.queries.streams import click_purchase_join, flagship_window_agg
    from rlink_rs_spark.streaming import runner
    from rlink_rs_spark.streaming.metrics import ProgressCollector
    from rlink_rs_spark.streaming.sources import stream_from_staged

    root = _stage_replay(files)

    def src():
        return stream_from_staged(
            spark, os.path.join(root, "staged"), root, "events", max_files_per_trigger=1
        )

    prev, per_store = spark.conf.get("spark.sql.shuffle.partitions"), runner._BYTES_PER_STORE
    spark.conf.set("spark.sql.shuffle.partitions", str(stores))
    runner._BYTES_PER_STORE = 1 if stores > 1 else per_store  # tiny files: 1 store, else the ceiling
    try:
        agg, agg_log = flagship_window_agg(src(), delay_s), ProgressCollector()
        assert runner.state_partitions(agg) == stores
        got_agg = sorted(tuple(r) for r in runner.run_to_memory(agg, listener=agg_log).collect())
        join_log = ProgressCollector()
        joined = click_purchase_join(src(), src(), f"{delay_s} seconds", f"{_WITHIN_S} seconds")
        got_join = sorted(tuple(r) for r in runner.run_to_parquet(joined, listener=join_log).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        runner._BYTES_PER_STORE = per_store
        shutil.rmtree(root, ignore_errors=True)

    def dropped(log):
        return sum(p.get("droppedByWatermark", 0) for p in log.progress)

    assert (got_agg, dropped(agg_log)) == _flagship_model(files, delay_s)
    assert (got_join, dropped(join_log)) == _join_model(files, delay_s)
