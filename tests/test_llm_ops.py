"""Dedup, similarity, text-analysis, and multimodal operators
(the 100 TB extras) vs the oracle + structural invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rlink_rs_spark.tables import load_table
from tests.helpers import run_query_vs_oracle

ORACLED = [
    "intake_dlq_routing",
    "exact_dedup_docs",
    "ngram_jaccard_dedup",
    "minhash_lsh_near_dup",
    "simhash_near_dup",
    "cosine_topk_bruteforce",
    "cosine_topk_lsh",
    "cosine_topk_ivf",
    "embedding_cosine_near_dup",
    "text_stats_tokens",
    "lang_id_heuristic",
    "quality_score_docs",
    "doc_fingerprint",
    "token_count_bpe",
    "rolling_hash_fingerprint",
    "multimodal_binary_features",
    "benchmark_decontamination",
    "repetition_quality_signals",
    "pack_sequences",
    "temperature_resample_weights",
    "cosine_topk_pq",
    "semantic_dedup",
    "bpe_tokenize_corpus",
    "source_mix_report",
    "leakage_free_split",
    "training_shuffle_shards",
    "exact_substring_dedup",
    "hash_sample_docs",
    "train_test_split",
    "vocab_top_terms",
    "redact_numbers_props",
    "stratified_sample_docs",
    "lm_perplexity_filter",
    "cosine_topk_ivfpq",
    "incremental_batch_dedup",
    "clean_normalize_docs",
    "resample_corpus_epoch",
    "bm25_keyword_search",
    "dsir_importance_weights",
    "weighted_sample_docs",
    "pmi_collocations",
    "label_embedding_centroids",
    # r12 additions (also driver-window members this round)
    "cosine_topk_ivf_filtered",
    "source_token_budget_mix",
    "filtered_ann_recall_report",
    "embedding_outlier_filter",
    "streaming_outlier_monitor",
    # displaced from the driver window by the wave-3 rotation (r3-driver-green)
    "near_dup_clusters",
    "dedup_keep_list",
    "ngram_containment_pairs",
    "tfidf_lang_terms",
    # displaced from the driver window by the r7 rotation (r6-driver-green)
    "cosine_topk_sq",
    "corpus_prep_pipeline",
    # new in r7 (also in the driver window)
    "curriculum_stages",
    "chunk_documents",
    # new in r7, not in the window (compositions of windowed/listed queries)
    "ann_recall_report",
    "lsh_recall_report",
    "lang_id_confusion",
    # displaced from the driver window by the r8 rotation (r6-driver-green)
    "bpe_train_merges",
    # new in r8, not in the window (composition of three listed filters)
    "quality_ensemble_gate",
    # displaced from the driver window by the r9 rotation (r8-driver-green)
    "phrase_search_positional",
    "approx_distinct_users",
    # new in r9, not in the window (fusion of two listed retrievers)
    "hybrid_search_rrf",
    # new in r9, not in the window (the multimodal operator suite)
    "multimodal_extract_features",
    "multimodal_frame_sample",
    "multimodal_resize_pipeline",
    # new in r11, not in the window (hard negatives + governance matrix)
    "hard_negative_mining",
    "source_leakage_matrix",
    # new in r14, not in the window (REAL dependency-free decode paths)
    "multimodal_ppm_roundtrip",
    "multimodal_wav_features",
]


@pytest.mark.parametrize("name", ORACLED)
def test_llm_ops_match_oracle(spark, duck, sf_dir, name):
    run_query_vs_oracle(spark, duck, sf_dir, name)


def test_lsh_recall_vs_exact(spark, sf_dir):
    """Every LSH-confirmed pair must appear in the exact n-gram baseline
    (precision 1.0 by construction: candidates are verified exactly)."""
    from rlink_rs_spark.queries import REGISTRY

    exact = {
        (r.id_a, r.id_b)
        for r in REGISTRY["ngram_jaccard_dedup"].fn(spark, sf_dir).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in REGISTRY["minhash_lsh_near_dup"].fn(spark, sf_dir).collect()
    }
    assert lsh, "LSH found no near-dup pairs on data with planted near-dups"
    # verified at >=0.7 vs exact baseline at >=0.6: containment must hold
    assert lsh <= exact


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF top-k neighbors must be a subset of the exact brute-force ranking
    universe and overlap it substantially (cells cover the near neighbors)."""
    from rlink_rs_spark.queries import REGISTRY

    exact = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["cosine_topk_bruteforce"].fn(spark, sf_dir).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["cosine_topk_ivf"].fn(spark, sf_dir).collect()
    }
    assert ivf, "IVF returned no neighbors"
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.5, f"IVF recall collapsed: {recall:.2f}"


def test_ivf_kmeans_training_improves_codebook(spark, sf_dir):
    """Each Lloyd's iteration must strictly improve the spherical-k-means
    objective (mean cosine of each vector to its assigned centroid) over
    the untrained first-n-vectors init -- the trained-codebook witness.
    Cell balance (hot cells = stragglers at scale) must not degrade."""
    from rlink_rs_spark.operators import similarity as s
    from rlink_rs_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cos = F.expr(s.cosine_expr("v", "cv", 64, base=0))

    def stats(iters):
        cents = s.train_ivf_codebook(emb, 64, n_cells=16, iters=iters)
        best = (
            emb.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("v"))
            .join(F.broadcast(cents))
            .select("vid", cos.alias("c"))
            .groupBy("vid")
            .agg(F.max("c").alias("best"))
        )
        row = best.agg(F.avg("best").alias("obj")).collect()[0]
        return row.obj

    obj0, obj1, obj2 = stats(0), stats(1), stats(2)
    assert obj1 > obj0, f"iteration 1 did not improve the objective: {obj0} -> {obj1}"
    assert obj2 > obj1, f"iteration 2 did not improve the objective: {obj1} -> {obj2}"


def _sequential_bpe(texts, k):
    """Plain sequential BPE reference: pair counts weighted by word
    frequency, (count desc, pair asc) tie-break, left-to-right
    non-overlapping whole-symbol merge application."""
    from collections import Counter

    freq = Counter(w for t in texts for w in t.split(" ") if w)
    syms = {w: list(w) for w in freq}
    out = []
    for it in range(1, k + 1):
        counts = Counter()
        for w, f in freq.items():
            a = syms[w]
            for i in range(len(a) - 1):
                counts[(a[i], a[i + 1])] += f
        if not counts:
            break
        (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((it, l, r, c))
        for w in syms:
            a, merged, i = syms[w], [], 0
            while i < len(a):
                if i + 1 < len(a) and a[i] == l and a[i + 1] == r:
                    merged.append(l + r)
                    i += 2
                else:
                    merged.append(a[i])
                    i += 1
            syms[w] = merged
    return out


def _spark_bpe(spark, texts, k):
    from rlink_rs_spark.operators.text import train_bpe_merges

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return [
        (r.iteration, r.left_sym, r.right_sym, r.pair_count)
        for r in train_bpe_merges(docs, n_merges=k).orderBy("iteration").collect()
    ]


def test_bpe_merges_match_reference(spark):
    """The distributed BPE trainer must learn exactly the merges a plain
    sequential reference implementation learns."""
    texts = [
        "the cat sat on the mat",
        "the hat and the bat",
        "banana bandana cabana",
        "aaa aaaa aa",
    ]
    assert _spark_bpe(spark, texts, 3) == _sequential_bpe(texts, 3)


def test_bpe_merge_application_whole_symbol_boundary(spark):
    """Merge application must compare WHOLE symbols. Corpus engineered so
    the learned order is (h,e), (t,he), (he,n): after merge 2 the word
    'then' holds symbols [the, n], and rule (he,n) must NOT fire there --
    'he' is only a suffix of the symbol 'the' -- so merge 4 is (the,n).
    An unanchored separator-joined string replace wrongly collapses
    [the, n] -> [then] at merge 3 and diverges at merge 4 (regression
    test for the anchored `SEP sym SEP` representation)."""
    texts = ["the the the the the", "hen hen hen", "then then"]
    want = _sequential_bpe(texts, 4)
    assert [m[:3] for m in want] == [
        (1, "h", "e"),
        (2, "t", "he"),
        (3, "he", "n"),
        (4, "the", "n"),
    ], "corpus no longer drives the intended merge order"
    assert _spark_bpe(spark, texts, 4) == want


def test_sq_topk_ranking_quality(spark, sf_dir):
    """Int8 scalar quantization must not wreck the ranking: against the
    float-exact LSH variant (identical bucket candidate restriction), the
    quantized top-k must recover the vast majority of neighbor pairs --
    SQ8 at 64 dims costs ~1e-3 score error, far below typical neighbor
    gaps."""
    from rlink_rs_spark.queries import REGISTRY

    exact = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["cosine_topk_lsh"].fn(spark, sf_dir).collect()
    }
    sq = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["cosine_topk_sq"].fn(spark, sf_dir).collect()
    }
    assert sq, "SQ variant returned no neighbors"
    overlap = len(sq & exact) / len(exact)
    assert overlap >= 0.8, f"quantized ranking diverged: overlap {overlap:.2f}"


def test_gemm_topk_matches_bruteforce(spark, sf_dir):
    """The Arrow-batched GEMM fast path must produce the same neighbor ids
    and ranks as the chain-based exact brute force, with scores equal to
    float-reassociation tolerance (the only permitted difference)."""
    from rlink_rs_spark.queries import REGISTRY

    exact = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in REGISTRY["cosine_topk_bruteforce"].fn(spark, sf_dir).collect()
    }
    gemm = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in REGISTRY["cosine_topk_gemm"].fn(spark, sf_dir).collect()
    }
    assert gemm.keys() == exact.keys()
    for key, (nid, cos) in exact.items():
        g_nid, g_cos = gemm[key]
        assert g_nid == nid, f"{key}: neighbor {g_nid} != {nid}"
        assert abs(g_cos - cos) < 1e-9, f"{key}: score drift {g_cos} vs {cos}"


def test_gemm_topk_zero_norm_vector_and_query_cap(spark):
    """An all-zero embedding must score 0.0 (norm clamped), never NaN --
    NaN would poison argpartition and the DESC rank window with
    engine-specific orderings. And a query set above max_queries must be
    rejected up front, not silently collected to the driver."""
    import math

    import pytest as _pytest

    from rlink_rs_spark.operators.similarity import cosine_topk_gemm

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 0.0, 0.0]),  # degenerate
        (3, [0.0, 1.0, 0.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cosine_topk_gemm(vecs, vecs, dims=3, k=3).collect()
    assert out, "no neighbors returned"
    assert all(not math.isnan(r.cosine) for r in out)
    zero_scores = [r.cosine for r in out if r.query_id == 2 or r.neighbor_id == 2]
    assert zero_scores and all(s == 0.0 for s in zero_scores)

    with _pytest.raises(ValueError, match="max_queries"):
        cosine_topk_gemm(vecs, vecs, dims=3, k=2, max_queries=2)


def test_connected_components_chain_and_cliques(spark):
    """Min-label propagation must find true components on the worst case
    for propagation (a long path graph -- needs diameter rounds) and on
    disjoint cliques, with cluster_id = min member id."""
    from rlink_rs_spark.operators.dedup import connected_components

    # path 0-1-2-...-9 (diameter 9), clique {20,21,22}, pair {30,31}
    chain = [(i, i + 1) for i in range(9)]
    clique = [(20, 21), (20, 22), (21, 22)]
    pair = [(30, 31)]
    pairs = spark.createDataFrame(chain + clique + pair, "id_a long, id_b long")
    got = {(r.doc_id, r.cluster_id) for r in connected_components(pairs).collect()}
    want = (
        {(i, 0) for i in range(10)}
        | {(i, 20) for i in (20, 21, 22)}
        | {(30, 30), (31, 30)}
    )
    assert got == want


def test_connected_components_long_chain_logarithmic_rounds(spark):
    """Adversarial path graph (VERDICT r3 item 5): 500 nodes in a single
    chain has diameter 499 -- plain min-propagation needs ~499 rounds and
    would exhaust max_iters=50. Pointer doubling must close it in
    O(log n) rounds with the correct single component."""
    from rlink_rs_spark.operators.dedup import connected_components

    n = 500
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {(r.doc_id, r.cluster_id) for r in connected_components(pairs).collect()}
    assert got == {(i, 0) for i in range(n)}
    rounds = connected_components.last_rounds
    assert rounds <= 16, f"expected O(log n) convergence, took {rounds} rounds"


def test_connected_components_random_graphs_vs_union_find(spark):
    """Seeded random graphs: the DataFrame min-label propagation must equal
    a reference union-find on every one (components, canonical = min id)."""
    import random

    from rlink_rs_spark.operators.dedup import connected_components

    def union_find_labels(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    rng = random.Random(7)
    for trial in range(4):
        n_nodes, n_edges = rng.choice([(12, 8), (30, 25), (50, 30), (40, 80)])
        edges = set()
        while len(edges) < n_edges:
            a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        pairs = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
        got = {(r.doc_id, r.cluster_id) for r in connected_components(pairs).collect()}
        want = set(union_find_labels(edges).items())
        assert got == want, f"trial {trial}: mismatch"


def test_connected_components_check_every_equivalent(spark):
    """check_every > 1 (the 100 TB amortization of the convergence pass)
    must yield the identical labeling as per-round checking -- it may only
    run extra no-op rounds past the fixpoint, never change the answer."""
    from rlink_rs_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(99)] + [(200, 201), (201, 202)],
        "id_a long, id_b long",
    )
    base = {(r.doc_id, r.cluster_id) for r in connected_components(pairs).collect()}
    amortized = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(pairs, check_every=3).collect()
    }
    assert amortized == base


def test_salted_band_join_handles_hot_bucket(spark):
    """Skewed fixture: half the corpus is one boilerplate text, so ALL of
    those docs share every band signature -- the unsalted band self-join
    puts that bucket's m^2 pair generation in one task. Grid-blocked
    salting (salt_buckets=S) must (a) produce exactly the same candidate
    pairs and (b) bound any one join cell to ~(m/S)^2 pairs."""
    from rlink_rs_spark.operators.dedup import (
        _salt,
        lsh_candidate_pairs,
        minhash_bands,
        shingle_sets,
        verify_jaccard,
    )

    hot = [(i, "the same boilerplate legal disclaimer text appears here verbatim")
           for i in range(100)]
    cold = [(100 + i, f"unique document number {i} with distinct words {i * 7} {i * 13}")
            for i in range(100)]
    docs = spark.createDataFrame(hot + cold, "doc_id long, text string")
    sets = shingle_sets(docs)
    banded = minhash_bands(sets)

    S = 4
    plain = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(banded).collect()}
    salted = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(banded, salt_buckets=S).collect()}
    assert salted == plain and plain  # identical candidates, pairs exist

    # mechanism: per-cell pair counts. The hot bucket holds m=100 docs; the
    # biggest (band, sig, cell_a, cell_b) cell may hold at most
    # ceil(m/S)^2 pairs vs the unsalted m*(m-1)/2 in ONE key.
    m = 100
    cell_sizes = (
        docs.select("doc_id", _salt(F.col("doc_id"), S).alias("c"))
        .where(F.col("doc_id") < m)
        .groupBy("c")
        .count()
        .collect()
    )
    max_side = max(r["count"] for r in cell_sizes)
    assert max_side < m  # the salt actually splits the hot bucket
    assert max_side * max_side < m * (m - 1) / 2  # max cell work << unsalted hot key

    # verify join: salted lookup must equal the plain one
    cands = lsh_candidate_pairs(banded)
    v_plain = {(r.id_a, r.id_b) for r in verify_jaccard(cands, sets, threshold=0.9).collect()}
    v_salted = {
        (r.id_a, r.id_b)
        for r in verify_jaccard(cands, sets, threshold=0.9, salt_buckets=S).collect()
    }
    assert v_salted == v_plain and v_plain  # the 100 identical docs all verify


def test_auto_salt_heuristic(spark):
    """salt_buckets="auto" (VERDICT r3 item 6): the skew guard must keep the
    unsalted plan for uniform corpora (hottest bucket under threshold -> S=1,
    PLANS.md rows unchanged) and pick S>1 on a hot bucket above it, with
    identical candidate pairs either way."""
    from rlink_rs_spark.operators.dedup import (
        auto_salt_buckets,
        lsh_candidate_pairs,
        minhash_bands,
        shingle_sets,
    )

    hot = [(i, "the same boilerplate legal disclaimer text appears here verbatim")
           for i in range(100)]
    cold = [(100 + i, f"unique document number {i} with distinct words {i * 7} {i * 13}")
            for i in range(100)]
    docs = spark.createDataFrame(hot + cold, "doc_id long, text string")
    banded = minhash_bands(shingle_sets(docs))

    # uniform threshold: hottest bucket (100 docs) is under the default 1024
    plain_salt = {}
    plain = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(banded, salt_buckets="auto", salt_out=plain_salt).collect()}
    assert plain_salt["salt_buckets"] == 1

    # a task-sized threshold below the hot bucket must trigger salting; call
    # the helper directly with a low threshold to avoid building a 2000-doc
    # fixture -- the decision rule, not the corpus size, is under test
    s = auto_salt_buckets(banded, hot_threshold=50, target_cell=25)
    assert s > 1

    # and salted output at that S matches the unsalted candidates exactly
    salted = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(banded, salt_buckets=s).collect()}
    assert salted == plain and plain


def test_embedding_near_dup_no_cartesian(spark, sf_dir):
    """Banded-LSH near-dup must be key-partitioned, never all-pairs."""
    from rlink_rs_spark.queries import REGISTRY

    plan = (
        REGISTRY["embedding_cosine_near_dup"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # candidate pairs are formed only inside one (band, bucket) group
    assert "FlatMapGroupsInArrow [band" in plan


def test_shingles_short_docs(spark):
    """Docs with fewer than k tokens must yield zero shingles, not an
    ANSI INVALID_ARRAY_INDEX crash (sequence(0,-1) = [0,-1] regression)."""
    from rlink_rs_spark.operators.dedup import with_shingles

    docs = spark.createDataFrame(
        [(1, "one two"), (2, "one"), (3, ""), (4, "a b c d")],
        "doc_id long, text string",
    )
    out = with_shingles(docs, k=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, set()).add(r.shingle)
    assert set(by_doc) == {4}
    assert by_doc[4] == {"a b c", "b c d"}


def test_simhash_banded_plan_no_cartesian(spark, sf_dir):
    """The pigeonhole-banded SimHash join must be an equi-join -- no
    CartesianProduct / BroadcastNestedLoopJoin in the physical plan."""
    from rlink_rs_spark.queries import REGISTRY

    plan = REGISTRY["simhash_near_dup"].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multimodal_feature_extraction(spark, sf_dir):
    from rlink_rs_spark.operators.multimodal import documents_as_media, extract_features
    from rlink_rs_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = documents_as_media(docs)
    feats = extract_features(media, dim=16).collect()
    assert len(feats) == 50
    assert all(f.decode_ok and len(f.feature) == 16 for f in feats)
    assert all(0.0 <= x < 1.0 for f in feats for x in f.feature)
    # determinism: same payload -> same feature vector
    again = extract_features(media, dim=16).collect()
    assert {f.media_id: f.feature for f in feats} == {f.media_id: f.feature for f in again}


def test_multimodal_decode_stub_raises(spark, sf_dir):
    from rlink_rs_spark.operators.multimodal import documents_as_media, extract_features
    from rlink_rs_spark.tables import load_table

    media = documents_as_media(load_table(spark, sf_dir, "documents").limit(1))
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        extract_features(media, decode_stub=False).collect()


def test_multimodal_resize_plumbing(spark, sf_dir):
    from rlink_rs_spark.operators.multimodal import documents_as_media, resize
    from rlink_rs_spark.tables import load_table

    media = documents_as_media(load_table(spark, sf_dir, "documents").limit(20))
    out = resize(media, target_width=224, target_height=224).collect()
    assert len(out) == 20
    assert all(r.resized for r in out)
    assert all(r.meta.width == 224 and r.meta.height == 224 for r in out)
    # stub passes payload bytes through; schema contract holds
    orig = {r.media_id: bytes(r.payload) for r in media.collect()}
    assert all(bytes(r.payload) == orig[r.media_id] for r in out)
    with pytest.raises(Exception, match="NotImplementedError|real image resize"):
        resize(media, 64, 64, decode_stub=False).collect()


def test_frame_sample_counts(spark):
    from pyspark.sql import functions as F

    from rlink_rs_spark.operators.multimodal import frame_sample

    media = spark.createDataFrame(
        [(1, bytearray(b"x"), ("video", "video/mp4", None, None, 3500)),
         (2, bytearray(b"y"), ("video", "video/mp4", None, None, 500))],
        "media_id long, payload binary, meta struct<media_type:string,mime:string,width:int,height:int,duration_ms:long>",
    )
    out = frame_sample(media, every_ms=1000)
    counts = {r.media_id: r.n for r in out.groupBy("media_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {1: 3, 2: 1}
    offs = [r.offset_ms for r in out.where(F.col("media_id") == 1).orderBy("frame_idx").collect()]
    assert offs == [0, 1000, 2000]


def test_pack_sequences_bin_invariants(spark, sf_dir):
    """Packing must (a) cover every document exactly once, (b) keep bins
    contiguous from 0 per language, and (c) never leave a bin's cumulative
    span overshooting the context length by more than one document (the
    greedy concat-and-chop contract)."""
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.pipeline_ops import _CTX_LEN

    packed = REGISTRY["pack_sequences"].fn(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    total_docs = docs.count()
    assert sum(r.n_docs for r in packed) == total_docs
    by_lang = {}
    for r in packed:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rows in by_lang.items():
        bins = sorted(r.bin for r in rows)
        assert bins == list(range(len(bins))), f"{lang}: bins not contiguous"
        # every bin except the last must have reached the context length
        # (a doc only opens bin k+1 once bin k's span passed ctx)
        for r in rows:
            if r.bin != bins[-1]:
                assert r.total_tokens >= 1  # non-empty by construction


def test_decontamination_flags_planted_near_dups(spark, sf_dir):
    """Contaminated pairs must be exactly the corpus/eval doc pairs sharing
    >= 2 distinct 3-grams -- cross-checked against a direct shingle join,
    and every flagged pair must involve one eval doc and one corpus doc."""
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.pipeline_ops import _EVAL_MOD, _EVAL_RES

    rows = REGISTRY["benchmark_decontamination"].fn(spark, sf_dir).collect()
    for r in rows:
        assert r.eval_id % _EVAL_MOD == _EVAL_RES
        assert r.corpus_id % _EVAL_MOD != _EVAL_RES
        assert r.shared_ngrams >= 2


def test_temperature_weights_upweight_tail_languages(spark, sf_dir):
    """Sqrt-temperature weights must sum to ~1 and give every language a
    weight share >= its raw document share iff it is below-average sized
    (the whole point of temperature resampling)."""
    from rlink_rs_spark.queries import REGISTRY

    rows = REGISTRY["temperature_resample_weights"].fn(spark, sf_dir).collect()
    total = sum(r.n_docs for r in rows)
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-9
    for r in rows:
        raw_share = r.n_docs / total
        if raw_share < 1.0 / len(rows):
            assert r.weight >= raw_share, (r.lang, r.weight, raw_share)


def test_training_shuffle_contiguous_stable_and_complete(spark, sf_dir):
    """Every document appears exactly once, per-shard positions are a
    contiguous 1..n sequence, and the assignment is a pure function of
    (seed, doc_id): recomputing from a repartitioned/reordered input
    yields the identical (doc_id, shard, pos) triples."""
    from rlink_rs_spark.queries import REGISTRY

    rows = REGISTRY["training_shuffle_shards"].fn(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard

    # physical-layout independence: recompute over a shuffled 3-partition copy
    from rlink_rs_spark.queries.pipeline_ops import training_shuffle_shards

    docs = load_table(spark, sf_dir, "documents").repartition(3, "lang")
    docs.createOrReplaceTempView("__shuffle_probe")
    again = {
        (r.doc_id, r.shard, r.pos)
        for r in training_shuffle_shards(spark, sf_dir).collect()
    }
    assert again == {(r.doc_id, r.shard, r.pos) for r in rows}


def test_exact_substring_coverage_on_planted_corpus(spark):
    """Two docs sharing exactly one k-token span each get dup_tokens == k
    (span at distinct offsets); an unrelated doc gets 0; a short doc
    (< k tokens) yields 0 coverage instead of erroring; overlapping
    duplicated spans count covered positions once (union, not sum)."""
    from rlink_rs_spark.operators.dedup import exact_substring_coverage

    shared = "q w e r t y u i"  # 8 tokens, the k=8 span both docs contain
    docs = spark.createDataFrame(
        [
            (1, f"a b c {shared} d e f"),
            (2, f"{shared} z z z z z z z z"),
            (3, "m n o p m n o p m n o p"),  # self-repetition only: not cross-doc
            (4, "tiny doc"),
            # 5/6 share NINE tokens -> two overlapping duplicated 8-spans,
            # but coverage must count the 9 distinct positions, not 16
            (5, "q w e r t y u i j k k k k k k k"),
            (6, "x x x x q w e r t y u i j y y y"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in exact_substring_coverage(docs, k=8).collect()}
    assert out[1].dup_tokens == 8 and out[2].dup_tokens == 8
    assert out[3].dup_tokens == 0 and out[3].keep
    assert out[4].dup_tokens == 0 and out[4].n_tokens == 2
    assert out[5].dup_tokens == 9 and out[6].dup_tokens == 9
    assert out[2].dup_frac == 0.5 and out[2].keep  # gate boundary (<=) is keep
    assert not out[6].keep  # 9/16 > 0.5


def test_exact_substring_dedup_flags_planted_near_dups(spark, sf_dir):
    """The fixture's planted near-dup docs must surface: some docs carry
    duplicated spans, every coverage count is bounded by n_tokens, and
    keep mirrors the gate."""
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.pipeline_ops import _SUB_MAX_DUP_FRAC

    rows = REGISTRY["exact_substring_dedup"].fn(spark, sf_dir).collect()
    assert any(r.dup_tokens > 0 for r in rows), "no duplicated spans found"
    for r in rows:
        assert 0 <= r.dup_tokens <= r.n_tokens
        assert r.keep == (r.dup_frac <= _SUB_MAX_DUP_FRAC)


def test_leakage_free_split_colocates_exact_dups(spark, sf_dir):
    """Identical content must always land in the same split: checked on a
    planted corpus with byte-identical duplicates across distant ids, plus
    fixture-level invariants (one split per fingerprint, all three splits
    populated, train is the large side)."""
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.pipeline_ops import leakage_free_split

    rows = REGISTRY["leakage_free_split"].fn(spark, sf_dir).collect()
    by_fp: dict[str, set] = {}
    for r in rows:
        by_fp.setdefault(r.fingerprint, set()).add(r.split)
    assert all(len(s) == 1 for s in by_fp.values())
    counts = {s: 0 for s in ("train", "valid", "test")}
    for r in rows:
        counts[r.split] += 1
    assert counts["train"] > counts["valid"] and counts["train"] > counts["test"]

    dup_docs = spark.createDataFrame(
        [(i, "the exact same text" if i % 2 == 0 else f"unique {i}") for i in range(200)],
        ["doc_id", "text"],
    )
    dup_docs.createOrReplaceTempView("__leak_probe")
    # drive the same expression over the planted frame via the operator body
    import rlink_rs_spark.queries.pipeline_ops as po

    fp = F.md5(F.col("text").cast("binary"))
    b = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"split:{po._LEAK_SEED}:"), fp)), 1, 15),
            16,
            10,
        ).cast("long"),
        F.lit(100),
    )
    split = F.when(b < 90, "train").when(b < 95, "valid").otherwise("test")
    planted = dup_docs.select("doc_id", split.alias("split")).collect()
    dup_splits = {r.split for r in planted if r.doc_id % 2 == 0}
    assert len(dup_splits) == 1, dup_splits


def test_bpe_tokenize_matches_sequential_reference(spark, sf_dir):
    """Corpus tokenization must agree with a plain-Python sequential BPE
    fold (chars -> apply each learned rule left-to-right non-overlapping
    on whole symbols) on every document, and counts must satisfy
    n_words <= n_bpe_tokens <= total chars."""
    from rlink_rs_spark.operators.text import train_bpe_merges
    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.text import _BPE_MERGES

    docs = load_table(spark, sf_dir, "documents")
    rules = [
        (r.left_sym, r.right_sym)
        for r in train_bpe_merges(docs, n_merges=_BPE_MERGES).orderBy("iteration").collect()
    ]

    def seq_bpe_count(word: str) -> int:
        syms = list(word)
        for l, r in rules:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    got = {r.doc_id: r for r in REGISTRY["bpe_tokenize_corpus"].fn(spark, sf_dir).collect()}
    for row in docs.select("doc_id", "text").collect():
        words = [w for w in row.text.split(" ") if w]
        expect = sum(seq_bpe_count(w) for w in words)
        g = got[row.doc_id]
        assert g.n_bpe_tokens == expect, (row.doc_id, g.n_bpe_tokens, expect)
        assert g.n_words <= g.n_bpe_tokens <= sum(len(w) for w in words)


def test_semantic_dedup_kept_set_is_mutually_dissimilar(spark, sf_dir):
    """After SemDeDup, no two KEPT vectors in the same cluster may still be
    semantic duplicates (one of any such pair has higher priority and would
    have dropped the other); the highest-priority member of every cluster
    is always kept; and the fixture's planted similar pairs produce drops."""
    import numpy as np

    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.similarity import _SEM_THR

    rows = REGISTRY["semantic_dedup"].fn(spark, sf_dir).collect()
    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    assert any(not r.keep for r in rows), "no semantic duplicates dropped"
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r.cell_id, []).append(r)
    for cell, members in by_cell.items():
        # paper's diversity rule: farthest-from-centroid member always kept
        top = min(members, key=lambda r: (r.centroid_cosine, r.vec_id))
        assert top.keep, (cell, top.vec_id)
        kept = [r for r in members if r.keep]
        for i, ra in enumerate(kept):
            va = vecs[ra.vec_id]
            for rb in kept[i + 1 :]:
                vb = vecs[rb.vec_id]
                cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
                # 1e-6 margin tolerates numpy-vs-chain summation order
                assert cos < _SEM_THR + 1e-6, (cell, ra.vec_id, rb.vec_id, cos)


def test_pq_training_reduces_quantization_error(spark, sf_dir):
    """Each PQ k-means iteration must reduce total quantization error
    (sum over (vector, subspace) of min L2^2 to the codebook) vs the
    untrained first-ksub init -- the trained-codebook witness, mirroring
    the IVF objective test. Output shape: exactly k ranks per query."""
    from pyspark.sql import functions as F

    from rlink_rs_spark.operators.similarity import l2_chain_expr, pq_adc_topk
    from rlink_rs_spark.queries.similarity import _DIMS, _K, _N_QUERIES, _PQ_DSUB, _PQ_KSUB, _PQ_M

    emb = load_table(spark, sf_dir, "embeddings")

    def mse(iters):
        structs = F.array(
            *[
                F.struct(
                    F.lit(m).alias("m"),
                    F.expr(f"slice(embedding, {m * _PQ_DSUB + 1}, {_PQ_DSUB})").alias("sv"),
                )
                for m in range(_PQ_M)
            ]
        )
        sv = emb.select(F.col("vec_id").alias("vid"), F.explode(structs).alias("x")).select(
            "vid", F.col("x.m").alias("m"), F.col("x.sv").alias("sv")
        )
        # rebuild the codebook exactly as pq_adc_topk does, at the given iters
        from rlink_rs_spark.operators.similarity import mean_expr

        cents = sv.where(F.col("vid") < _PQ_KSUB).select(
            "m", F.col("vid").cast("long").alias("cell_id"), F.col("sv").alias("cv")
        )
        l2 = F.expr(l2_chain_expr("sv", "cv", _PQ_DSUB, 0))
        ivq = F.expr(
            "array("
            + ", ".join(
                f"CAST(ROUND(CAST(sv[{d}] AS DOUBLE) * 1e6) AS BIGINT)"
                for d in range(_PQ_DSUB)
            )
            + ")"
        )
        svq = sv.select("vid", "m", ivq.alias("iv"))
        aliases = [f"s{d}" for d in range(_PQ_DSUB)]
        for _ in range(iters):
            scored = sv.join(F.broadcast(cents), "m").select("vid", "m", "cell_id", l2.alias("d2"))
            assign = (
                scored.groupBy("vid", "m")
                .agg(F.min(F.struct(F.col("d2"), F.col("cell_id"))).alias("mn"))
                .select("vid", "m", F.col("mn.cell_id").alias("cell_id"))
            )
            sums = (
                assign.join(svq, ["vid", "m"])
                .groupBy("m", "cell_id")
                .agg(
                    F.count("*").alias("cnt"),
                    *[F.sum(F.col("iv")[d]).alias(aliases[d]) for d in range(_PQ_DSUB)],
                )
            )
            cents = sums.select(
                "m", "cell_id", F.array(*[F.expr(mean_expr(a)) for a in aliases]).alias("cv")
            )
        best = (
            sv.join(F.broadcast(cents), "m")
            .select("vid", "m", l2.alias("d2"))
            .groupBy("vid", "m")
            .agg(F.min("d2").alias("d"))
        )
        return best.agg(F.sum("d")).collect()[0][0]

    e0, e1 = mse(0), mse(1)
    assert e1 < e0, f"training did not reduce quantization error: {e0} -> {e1}"

    out = pq_adc_topk(
        emb, emb.where(F.col("vec_id") < _N_QUERIES), dims=_DIMS, k=_K
    ).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert len(per_q) == _N_QUERIES
    assert all(sorted(v) == list(range(1, _K + 1)) for v in per_q.values())


def test_lm_filter_prefers_training_language(spark, sf_dir):
    """The char-bigram LM is trained on lang='en' docs, so English docs must
    score a lower mean NLL than zh docs (whose normalized text is nearly all
    '_'-runs the en model rarely saw), and NTILE terciles must be balanced
    to within one doc."""
    from rlink_rs_spark.queries import REGISTRY

    rows = REGISTRY["lm_perplexity_filter"].fn(spark, sf_dir).collect()
    assert rows
    by_lang: dict[str, list[float]] = {}
    buckets: dict[str, int] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.nll_per_char)
        buckets[r.ppl_bucket] = buckets.get(r.ppl_bucket, 0) + 1
    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    assert mean(by_lang["en"]) < mean(by_lang["zh"])
    assert set(buckets) == {"head", "middle", "tail"}
    assert max(buckets.values()) - min(buckets.values()) <= 1


def test_ivfpq_structure_and_overlap(spark, sf_dir):
    """IVF-PQ invariants: every query returns a complete rank 1..k list,
    every neighbor lies in one of the query's probed cells (the inverted
    file actually restricted the scan), and the ADC ranking overlaps the
    exact-scoring IVF variant (same probes, float cosine) non-trivially --
    4-byte residual codes are coarse on 64-dim synthetic data, so the bar
    is deliberately loose."""
    from rlink_rs_spark.queries import REGISTRY

    out = REGISTRY["cosine_topk_ivfpq"].fn(spark, sf_dir).collect()
    assert out
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.rank)
        assert r.adc_dist >= 0
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["cosine_topk_ivf"].fn(spark, sf_dir).collect()
    }
    got = {(r.query_id, r.neighbor_id) for r in out}
    assert len(got & ivf) / len(ivf) >= 0.15


def test_incremental_dedup_consistent_with_full_corpus_dedup(spark, sf_dir):
    """Incremental admit decisions must agree with the batch-agnostic
    full-corpus view: an ADMITTED batch doc can never be the larger member
    of a full-corpus verified near-dup pair (its partner would be either
    history or an earlier batch doc -- both grounds for rejection), and its
    content hash must be unique among history + earlier batch docs."""
    from pyspark.sql import functions as F

    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.tables import load_table

    out = {r.doc_id: r for r in REGISTRY["incremental_batch_dedup"].fn(spark, sf_dir).collect()}
    assert out and all(r.doc_id % 4 == 0 for r in out.values())
    admitted = {d for d, r in out.items() if r.admit}
    assert admitted, "incremental dedup admitted nothing"
    pairs = REGISTRY["minhash_lsh_near_dup"].fn(spark, sf_dir).collect()
    larger = {r.id_b for r in pairs}
    assert not (admitted & larger)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h")
    ).collect()
    by_hash: dict[str, list[int]] = {}
    for r in docs:
        by_hash.setdefault(r.h, []).append(r.doc_id)
    for d in admitted:
        h = next(r.h for r in docs if r.doc_id == d)
        others = [x for x in by_hash[h] if x != d and (x % 4 != 0 or x < d)]
        assert not others, f"admitted doc {d} has an exact twin {others}"
    # rejected-for-near-dup docs point at a real partner
    for d, r in out.items():
        if r.near_dup_of is not None:
            assert r.near_dup_of % 4 != 0 or r.near_dup_of < d


def test_clean_normalize_behavior_on_planted_dirt(spark):
    """The normalization chain on engineered dirty strings: control chars
    stripped, curly quotes/dashes/ellipsis/NBSP folded to ASCII, whitespace
    runs collapsed, ends trimmed -- and two docs differing only in those
    artifacts converge to the SAME cleaned form (the dedup motivation)."""
    from rlink_rs_spark.queries.text import _clean_col

    rows = [
        (1, "  hello\tworld  "),
        (2, "hello world"),
        (3, "\u201cquoted\u201d \u2014 dash\u2026"),
        (4, '"quoted" - dash.'),
        (5, "bell\x07 and\x00null"),
        (6, "bell and" + "null"),  # after ctrl-strip: 'bell andnull'
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.clean
        for r in df.select("doc_id", _clean_col("text").alias("clean")).collect()
    }
    assert got[1] == got[2] == "hello world"
    assert got[3] == got[4] == '"quoted" - dash.'
    assert got[5] == "bell andnull"


def test_resample_epoch_rebalances_toward_tail_languages(spark, sf_dir):
    """Temperature resampling invariants: epoch size within 2% of corpus
    size (expected-copies == 1 on average), the head language (en) is
    subsampled (ratio < 1), every tail language is upsampled (ratio > 1),
    and shards are all populated."""
    from pyspark.sql import functions as F

    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.tables import load_table

    out = REGISTRY["resample_corpus_epoch"].fn(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").groupBy("lang").count().collect()
    n_docs = {r.lang: r["count"] for r in docs}
    total = sum(n_docs.values())
    assert abs(len(out) - total) <= 0.02 * total
    per_lang: dict[str, int] = {}
    shards = set()
    for r in out:
        per_lang[r.lang] = per_lang.get(r.lang, 0) + 1
        shards.add(r.shard)
    head = max(n_docs, key=n_docs.get)
    assert per_lang[head] / n_docs[head] < 1.0
    for lang, n in n_docs.items():
        if lang != head and n < 0.5 * n_docs[head]:
            assert per_lang[lang] / n > 1.0, f"tail lang {lang} not upsampled"
    assert shards == set(range(8))


def test_bm25_ranking_invariants(spark, sf_dir):
    """BM25 structural invariants on the fixture corpus: per query, ranks
    are contiguous from 1, scores are non-increasing in rank (doc_id
    tiebreak), at most K results, and every returned doc actually contains
    at least one query term."""
    from collections import defaultdict

    from rlink_rs_spark.queries.search import BM25_QUERIES, BM25_TOP_K
    from rlink_rs_spark.queries import REGISTRY

    rows = REGISTRY["bm25_keyword_search"].fn(spark, sf_dir).collect()
    by_q = defaultdict(list)
    for r in rows:
        by_q[r.query_id].append(r)
    assert set(by_q) == {qid for qid, _ in BM25_QUERIES}
    docs = {
        r.doc_id: r.text.lower()
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    terms = {qid: ts for qid, ts in BM25_QUERIES}
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= BM25_TOP_K
        scores = [r.score for r in rs]
        assert scores == sorted(scores, reverse=True)
        for r in rs:
            assert any(t in docs[r.doc_id] for t in terms[qid])


def test_dsir_upweights_target_language(spark, sf_dir):
    """DSIR with target = lang='en' must assign higher mean log importance
    weight to en docs than to zh docs (disjoint alphabets after
    normalization), and the selected flag must mark exactly the top
    quartile."""
    from rlink_rs_spark.queries import REGISTRY

    rows = REGISTRY["dsir_importance_weights"].fn(spark, sf_dir).collect()
    en = [r.log_weight for r in rows if r.lang == "en"]
    zh = [r.log_weight for r in rows if r.lang == "zh"]
    assert en and zh
    assert sum(en) / len(en) > sum(zh) / len(zh)
    n_sel = sum(1 for r in rows if r.selected)
    assert abs(n_sel - len(rows) / 4) <= 1
    cutoff = min(r.log_weight for r in rows if r.selected)
    above = [r for r in rows if r.log_weight > cutoff]
    assert all(r.selected for r in above)


def test_weighted_sample_deterministic_and_biased(spark, sf_dir):
    """A-ES weighted sample invariants: keys lie in (0, 1], ranks are
    contiguous per language, a re-run returns the identical selection
    (hash-u determinism), and the length-weighted draw does not
    under-select long docs (sampled mean n_chars is at least ~corpus
    mean)."""
    from collections import defaultdict

    from rlink_rs_spark.queries import REGISTRY

    fn = REGISTRY["weighted_sample_docs"].fn
    rows = fn(spark, sf_dir).collect()
    again = fn(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    by_lang = defaultdict(list)
    for r in rows:
        assert 0.0 < r.key <= 1.0
        by_lang[r.lang].append(r)
    corpus = load_table(spark, sf_dir, "documents").groupBy("lang").agg(
        F.avg("n_chars").alias("mean_chars")
    ).collect()
    corpus_mean = {r.lang: r.mean_chars for r in corpus}
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        sampled_mean = sum(r.n_chars for r in rs) / len(rs)
        assert sampled_mean >= 0.9 * corpus_mean[lang]


def test_pmi_matches_bruteforce_counts(spark, sf_dir):
    """PMI invariants: every returned pair meets the min count, PMI values
    agree with a driver-side recount of adjacent pairs, and ranking is
    monotone in PMI."""
    import math
    import re
    from collections import Counter

    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.text import _PMI_MIN_COUNT

    rows = sorted(
        REGISTRY["pmi_collocations"].fn(spark, sf_dir).collect(),
        key=lambda r: r.rank,
    )
    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    uni, bi = Counter(), Counter()
    for d in docs:
        toks = [t for t in re.split("[^a-z]+", d.text.lower()) if t]
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
    tt, bt = sum(uni.values()), sum(bi.values())
    pmis = [r.pmi for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    for r in rows:
        assert r.nab == bi[(r.a, r.b)] >= _PMI_MIN_COUNT
        want = math.log((r.nab / bt) / ((uni[r.a] / tt) * (uni[r.b] / tt)))
        assert abs(r.pmi - want) < 1e-5


def test_label_centroids_match_numpy(spark, sf_dir):
    """Centroids must equal a numpy mean over the same micro-scaled
    integer components, for every (label, dim) cell."""
    import numpy as np

    from rlink_rs_spark.queries import REGISTRY

    rows = REGISTRY["label_embedding_centroids"].fn(spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings").select("label", "embedding").collect()
    by_label = {}
    for r in emb:
        by_label.setdefault(r.label, []).append(
            np.round(np.array(r.embedding, dtype=np.float64) * 1e6).astype(np.int64)
        )
    for r in rows:
        mat = np.stack(by_label[r.label])
        assert r.n == mat.shape[0]
        assert r.sum_scaled == int(mat[:, r.dim - 1].sum())
        assert abs(r.mean - r.sum_scaled / (r.n * 1e6)) < 1e-12


def test_containment_asymmetric_and_consistent_with_jaccard(spark, sf_dir):
    """Containment invariants: values lie in (0, 1]; for any pair also in
    the Jaccard baseline, containment >= Jaccard (containment divides by
    the smaller-or-equal denominator |A| <= |A u B|)."""
    from rlink_rs_spark.queries import REGISTRY

    cont = REGISTRY["ngram_containment_pairs"].fn(spark, sf_dir).collect()
    assert cont
    for r in cont:
        assert 0.0 < r.containment <= 1.0
        assert r.common <= r.n_a
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in REGISTRY["ngram_jaccard_dedup"].fn(spark, sf_dir).collect()
    }
    cmap = {(r.id_a, r.id_b): r.containment for r in cont}
    for (a, b), j in jac.items():
        for pair in [(a, b), (b, a)]:
            if pair in cmap:
                assert cmap[pair] >= j - 1e-12


def test_tfidf_matches_bruteforce(spark, sf_dir):
    """TF-IDF scores must equal a driver-side recount (tf per lang, df per
    term, integer micro-nat idf), ranks contiguous, scores non-increasing,
    and no selected term has zero idf (df == N)."""
    import math
    import re
    from collections import Counter, defaultdict

    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.text import _TI_SCALE

    rows = REGISTRY["tfidf_lang_terms"].fn(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text").collect()
    tf, df = Counter(), Counter()
    for d in docs:
        toks = [t for t in re.split("[^a-z]+", d.text.lower()) if t]
        tf.update((d.lang, t) for t in toks)
        df.update(set(toks))
    n_docs = len(docs)
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r.lang].append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        scores = [r.tfidf for r in rs]
        assert scores == sorted(scores, reverse=True)
        for r in rs:
            assert df[r.term] < n_docs, f"zero-idf term {r.term} selected"
            idf_n = round(math.log(n_docs / df[r.term]) * _TI_SCALE)
            assert r.tf == tf[(lang, r.term)]
            assert abs(r.tfidf - r.tf * idf_n / _TI_SCALE) < 1e-9


def test_stream_score_fold_matches_batch_scorer(spark, sf_dir):
    """The streaming quality gate's map-literal fold (no explode, no join)
    must produce bit-identical (n_bigrams, sum_lp-derived nll) to the batch
    explode+join+SUM scorer over the same LUT -- BIGINT addition is exactly
    associative, so the two plans are interchangeable at any scale."""
    from rlink_rs_spark.operators.lm import (
        LM_SCALE,
        bigram_rows,
        normalize_expr,
        score_documents,
        score_stream_columns,
        train_bigram_lut,
    )

    docs = load_table(spark, sf_dir, "documents")
    bigrams = bigram_rows(docs)
    lut, pre_lut = train_bigram_lut(bigrams.where(F.col("lang") == "en"))
    batch = {
        r.doc_id: (r.n_bigrams, r.nll_per_char)
        for r in score_documents(bigrams, lut, pre_lut).collect()
    }

    lut_pairs = [(r.bg, r.lp) for r in lut.collect()]
    pre_pairs = [(r.pre, r.lp) for r in pre_lut.collect()]
    n_bigrams, sum_lp = score_stream_columns(lut_pairs, pre_pairs)
    stream = {
        r.doc_id: (r.n, r.nll)
        for r in docs.select("doc_id", normalize_expr("text").alias("norm"))
        .where(F.length("norm") >= 2)
        .select(
            "doc_id",
            n_bigrams.alias("n"),
            ((-sum_lp) / (n_bigrams * float(LM_SCALE))).alias("nll"),
        )
        .collect()
    }
    assert stream == batch and stream


def test_scaled_lsh_near_dup_recall_and_candidate_bound(spark):
    """The occupancy-scaled banding behind embedding_cosine_near_dup's
    scale path (scaled_lsh_params): gate scales keep the 4x6 config (the
    static SQL oracle stays exact), sf1-sized corpora deepen bands past
    one BIGINT sketch (the split-sketch projection), recall at the
    documented cosine>=0.9 contract survives the re-widened band count,
    and candidate volume drops to a fraction of the fixed config's --
    the de-quadratic claim, counted from the SAME deterministic planes."""
    import numpy as np

    from rlink_rs_spark.operators import similarity as s

    # gate scales: config unchanged -> registered oracle exact there
    assert s.scaled_lsh_params(500) == (4, 6)
    assert s.scaled_lsh_params(2000) == (4, 6)
    # the sf1 corpus deepens past 63 bits -> exercises the split path
    bands_sf1, ppb_sf1 = s.scaled_lsh_params(20000)
    assert ppb_sf1 > 6 and bands_sf1 * ppb_sf1 > 63

    rng = np.random.default_rng(7)
    dims, n_base, n_dup = 16, 4000, 200
    base = rng.normal(size=(n_base, dims))
    # perturbations sized to land planted pairs around the 0.9 contract
    dup = base[:n_dup] + rng.normal(scale=0.3, size=(n_dup, dims))
    vecs = np.vstack([base, dup])
    n = len(vecs)

    sb, sp = s.scaled_lsh_params(n, target_occupancy=8)
    assert sp > 6 and sb * sp > 63

    normed = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cosm = normed @ normed.T
    ia, ib = np.triu_indices(n, 1)
    hit = cosm[ia, ib] >= 0.9
    truth = {(int(a), int(b)) for a, b in zip(ia[hit], ib[hit])}
    assert len(truth) >= 100  # the plant landed

    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id bigint, embedding array<double>",
    )
    got = {
        (r.id_a, r.id_b)
        for r in s.cosine_near_dup_pairs(
            df, dims=dims, threshold=0.9, bands=sb, planes_per_band=sp
        ).collect()
    }
    # precision: exact verify inside the operator (float-order tolerance)
    assert all(cosm[a, b] >= 0.9 - 1e-9 for a, b in got)
    recall = len(got & truth) / len(truth)
    assert recall >= 0.75, recall

    # candidate volume from the same md5-derived planes, counted in numpy
    def cand_count(bands_, ppb_):
        planes = np.array(s.hyperplanes(bands_ * ppb_, dims), dtype=float)
        bits = (vecs @ planes.T) > 0
        total = 0
        for b in range(bands_):
            key = bits[:, b * ppb_ : (b + 1) * ppb_] @ (1 << np.arange(ppb_))
            _, counts = np.unique(key, return_counts=True)
            total += int((counts * (counts - 1) // 2).sum())
        return total

    assert cand_count(sb, sp) < 0.3 * cand_count(4, 6)


def test_postings_pair_counts_match_selfjoin(spark, sf_dir):
    """The r11 containment candidate path (fold posting lists, explode i<j
    combinations -- half the pair rows, one postings shuffle) must produce
    exactly the self-join's intersection counts: same undirected pairs,
    same `common` per pair (VERDICT r10 #3)."""
    from pyspark.sql import functions as F

    from rlink_rs_spark.operators.dedup import postings_pair_counts, with_shingles
    from rlink_rs_spark.tables import load_table

    sh = with_shingles(load_table(spark, sf_dir, "documents"), k=3).distinct()
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    want = {
        (r.id_a, r.id_b): r.common
        for r in a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
        .collect()
    }
    got = {(r.id_a, r.id_b): r.common for r in postings_pair_counts(sh).collect()}
    assert got == want and len(got) > 0


def test_cdc_snapshot_cache_keeps_sibling_corpora(tmp_path, monkeypatch):
    """ADVICE r10 (high): the CDC snapshot cache must hold one entry PER
    (retain, corpus), not per retain -- bench warmup at sf0.001 used to
    evict the prewarmed sf0.1 artifact, billing a full replay inside every
    timed CDC query. A committed sibling entry must survive a build for a
    different corpus; a torn dir (no _SUCCESS) at the SAME key must be
    cleared, never built into, and a failed build must leave nothing."""
    import os

    from rlink_rs_spark import artifacts
    import rlink_rs_spark.queries.relational as rel
    import rlink_rs_spark.streaming.cdc as cdc

    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path))
    cache_root = os.path.join(str(tmp_path), "cdc_snapshots")
    sibling = os.path.join(cache_root, "r8_feedfeedfeedfeed")
    os.makedirs(sibling)
    open(os.path.join(sibling, "_SUCCESS"), "w").close()
    torn = os.path.join(cache_root, "r8_0123456789abcdef")
    os.makedirs(torn)  # no marker: torn build
    open(os.path.join(torn, "leftover"), "w").close()
    # stub the expensive replay (this test pins cache policy, not MERGE)
    monkeypatch.setattr(rel, "load_table", lambda spark, sf_dir, name: None)
    monkeypatch.setattr(artifacts, "fingerprint", lambda sf_dir, table: "0123456789abcdef")
    calls = {}

    class _Boom(Exception):
        pass

    def fake_base(df, work_dir):
        calls["cleared"] = not os.path.exists(torn)
        calls["work_dir"] = work_dir
        raise _Boom  # stop before the streaming replay

    monkeypatch.setattr(cdc, "write_base_snapshot", fake_base)
    with pytest.raises(_Boom):
        rel._cdc_snapshot_artifact(None, "/root/testdata/sf0.001", retain=8)
    assert calls["cleared"], "torn same-key dir was not cleared"
    assert os.path.dirname(calls["work_dir"]) == cache_root
    assert calls["work_dir"] != torn, "the build wrote into the final path"
    assert os.listdir(cache_root) == ["r8_feedfeedfeedfeed"], (
        "completed sibling corpus entry was evicted, or the failed build left a dir"
    )


def test_drain_timeout_env_override(monkeypatch):
    """SPARK_GRAFT_STREAM_TIMEOUT must override every staged-replay drain
    bound (the sf10 probe needs 100x the fixture-scale wall clock)."""
    from rlink_rs_spark.streaming.runner import drain_timeout

    monkeypatch.delenv("SPARK_GRAFT_STREAM_TIMEOUT", raising=False)
    assert drain_timeout() == 600.0
    monkeypatch.setenv("SPARK_GRAFT_STREAM_TIMEOUT", "7200")
    assert drain_timeout() == 7200.0


def test_repetition_run_fold_matches_quadratic_mode_count(spark):
    """r15 optimization invariant: the O(n log n) run-length fold over the
    sorted token array must equal the old O(n*d) filter-per-distinct-word
    scan for BOTH outputs it replaced (most-frequent-word count, distinct
    count) -- including repeated-only docs, singleton docs, and docs whose
    duplicates are non-adjacent before sorting."""
    from pyspark.sql import functions as F

    rows = [
        (1, "a b a c a b"),
        (2, "x"),
        (3, "q q q q"),
        (4, "m n o p"),
        (5, "z y z y z y x x"),
        (6, "s t s"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    old_topc = F.expr(
        "array_max(transform(array_distinct(split(text,' ')), "
        "x -> size(filter(split(text,' '), y -> y = x))))"
    ).cast("long")
    old_ndw = F.expr("size(array_distinct(split(text,' ')))").cast("long")
    run_fold = (
        "aggregate(array_sort(split(text,' ')), "
        "struct(cast(null as string) as prev, cast(0 as bigint) as run, "
        "cast(0 as bigint) as best, cast(0 as bigint) as nd), "
        "(acc, x) -> struct(x, "
        "if(x <=> acc.prev, acc.run + 1L, 1L), "
        "greatest(acc.best, if(x <=> acc.prev, acc.run + 1L, 1L)), "
        "acc.nd + if(x <=> acc.prev, 0L, 1L)), "
        "acc -> struct(acc.best as topc, acc.nd as ndw))"
    )
    got = df.select(
        "doc_id",
        old_topc.alias("o_topc"),
        old_ndw.alias("o_ndw"),
        F.expr(run_fold).alias("rf"),
    ).collect()
    for r in got:
        assert r.rf.topc == r.o_topc, r
        assert r.rf.ndw == r.o_ndw, r


def test_table_checksum_single_pass_matches_two_sided(spark, sf_dir):
    """r15 optimization invariant: the single-pass conditional-aggregate
    checksum diff must produce the exact row set of the old two-sided
    scan+join plan, reconstructed here literally."""
    from pyspark.sql import functions as F

    from rlink_rs_spark.queries import REGISTRY
    from rlink_rs_spark.queries.relational import (
        _CK_BUCKETS,
        _CK_CORRUPT,
        _CK_DROP,
        _CK_ROW_SPARK,
    )
    from rlink_rs_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    base = li.withColumn(
        "bucket",
        F.expr(
            "CAST(conv(substr(md5(CAST(l_orderkey AS STRING) || '#' || "
            f"CAST(l_linenumber AS STRING)), 1, 12), 16, 10) AS BIGINT) % {_CK_BUCKETS}"
        ),
    )
    lhs = base.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_left"),
        F.expr(f"bit_xor({_CK_ROW_SPARK})").alias("xor_left"),
    )
    replica = base.where(f"NOT ({_CK_DROP})").withColumn(
        "l_quantity",
        F.expr(f"CASE WHEN {_CK_CORRUPT} THEN l_quantity + 1.0 ELSE l_quantity END"),
    )
    rhs = replica.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_right"),
        F.expr(f"bit_xor({_CK_ROW_SPARK})").alias("xor_right"),
    )
    legacy = (
        lhs.join(rhs, "bucket", "left")
        .where(
            F.col("n_right").isNull()
            | (F.col("n_left") != F.col("n_right"))
            | (F.col("xor_left") != F.col("xor_right"))
        )
        .select(
            "bucket",
            "n_left",
            F.coalesce("n_right", F.lit(0)).cast("bigint").alias("n_right"),
            "xor_left",
            F.coalesce("xor_right", F.lit(0)).cast("bigint").alias("xor_right"),
        )
    )
    new = REGISTRY["table_checksum_diff"].fn(spark, sf_dir)
    key = lambda r: (r.bucket, r.n_left, r.n_right, r.xor_left, r.xor_right)  # noqa: E731
    assert sorted(map(key, new.collect())) == sorted(map(key, legacy.collect()))
