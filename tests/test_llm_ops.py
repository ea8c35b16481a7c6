"""Invariant tests for the non-oracle LLM operators (SURVEY.md SS5.2.4):
planted-duplicate recall for MinHash/SimHash/LSH, sketch-accuracy bounds for
approx aggregates, dedup idempotence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from custom_python_etl_data_connector_rohitharumugams_spark.catalog import load_table
from custom_python_etl_data_connector_rohitharumugams_spark.operators import dedup as D
from custom_python_etl_data_connector_rohitharumugams_spark.operators import similarity as S

SMOKE_SF = "/root/testdata/sf0.001"
OFFSET = 100_000


@pytest.fixture(scope="module")
def docs_with_twins(spark):
    """documents unioned with an id-shifted copy of itself: every doc has an
    exact duplicate at doc_id + OFFSET."""
    d = load_table(spark, SMOKE_SF, "documents")
    twin = d.withColumn("doc_id", F.col("doc_id") + OFFSET)
    return d.unionByName(twin)


def test_minhash_finds_planted_duplicates(spark, docs_with_twins):
    n_docs = docs_with_twins.count() // 2
    posts = D.shingle_postings(docs_with_twins)
    sigs = D.minhash_signatures(posts)
    cands = D.lsh_candidate_pairs(sigs)
    verified = D.jaccard_verify(cands, posts, threshold=0.99).toPandas()
    planted = set(zip(verified.doc_id_1, verified.doc_id_2))
    # identical docs have identical signatures => collide in every band
    missing = [
        (i, i + OFFSET) for i in range(n_docs) if (i, i + OFFSET) not in planted
    ]
    assert not missing, f"planted duplicates missed: {missing[:5]}"
    assert (verified.jaccard >= 0.99).all()


def test_exact_dedup_idempotent_and_collapses_twins(spark, docs_with_twins):
    once = D.exact_dedup(docs_with_twins)
    twice = D.exact_dedup(once)
    n = docs_with_twins.count()
    assert once.count() == n // 2  # every twin collapsed
    assert twice.count() == once.count()  # idempotent
    # keeper is the smallest id: no kept id should be in the twin range
    assert once.where(F.col("doc_id") >= OFFSET).count() == 0


def test_simhash_identical_docs_distance_zero(spark, docs_with_twins):
    sh = D.simhash(docs_with_twins)
    blocking = docs_with_twins.select("doc_id", F.col("source").alias("block"))
    pairs = D.simhash_near_pairs(sh, blocking, max_hamming=0).toPandas()
    found = set(zip(pairs.doc_id_1, pairs.doc_id_2))
    n_docs = docs_with_twins.count() // 2
    missing = [(i, i + OFFSET) for i in range(n_docs) if (i, i + OFFSET) not in found]
    assert not missing, f"identical docs not at hamming 0: {missing[:5]}"


def test_lsh_retrieves_identical_vector_at_rank1(spark):
    e = load_table(spark, SMOKE_SF, "embeddings")
    twins = e.withColumn("vec_id", F.col("vec_id") + OFFSET)
    corpus = e.unionByName(twins)
    queries = e.where(F.col("vec_id") < 20)
    res = S.lsh_topk(queries, corpus, k=1).toPandas()
    # an identical vector matches every hyperplane sign => always a candidate,
    # and cosine 1.0 beats every other neighbor
    by_query = {int(r.query_id): (int(r.neighbor_id), float(r.sim)) for r in res.itertuples()}
    for qid in range(20):
        nid, sim = by_query[qid]
        assert nid == qid + OFFSET, f"query {qid}: expected twin, got {nid} (sim {sim})"
        assert sim == pytest.approx(1.0, abs=1e-4)


def test_ivf_exhaustive_probe_equals_brute_force(spark):
    """With nprobe == n_lists the IVF machinery (centroids, probe selection,
    list union, rescoring) must reproduce brute force exactly; with partial
    probing it returns a subset of the same scored pairs."""
    e = load_table(spark, SMOKE_SF, "embeddings")
    q = e.where(F.col("vec_id") < 20)
    bf = S.cosine_topk(q, e, k=3).toPandas()
    ivf_all = S.ivf_search(q, e, k=3, nprobe=10).toPandas()
    key = ["query_id", "neighbor_id", "rank", "sim"]
    assert sorted(map(tuple, ivf_all[key].values.tolist())) == sorted(
        map(tuple, bf[key].values.tolist())
    )
    partial = S.ivf_search(q, e, k=3, nprobe=3).toPandas()
    bf_sims = {
        (r.query_id, r.neighbor_id): r.sim
        for r in S.cosine_topk(q, e, k=500).toPandas().itertuples()
    }
    for r in partial.itertuples():
        # every partial-probe result carries the true cosine for that pair
        assert bf_sims.get((r.query_id, r.neighbor_id)) == pytest.approx(r.sim, abs=1e-4)


def test_lsh_topk_approximates_brute_force(spark):
    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = e.where(F.col("vec_id") < 20)
    bf = S.cosine_topk(q, e, k=5).toPandas()
    ap = S.lsh_topk(q, e, k=5).toPandas()
    bf_set = set(zip(bf.query_id, bf.neighbor_id))
    ap_set = set(zip(ap.query_id, ap.neighbor_id))
    recall = len(bf_set & ap_set) / len(bf_set)
    # random vectors: structureless worst case; measured ~0.45 at 8x4 bands
    assert recall >= 0.3, f"LSH recall degraded: {recall:.2f}"


def test_langid_ngram_classifier(spark):
    """operators/langid.py beyond the registered query's planted oracle:
    (a) disjoint per-language blocks mean a doc can NEVER accrue
    cross-language matches — even a doc with unseen words classifies
    correctly as long as one trigram was seen in training; (b) the top_k
    profile cap keeps predictions correct when it covers the common
    vocabulary; (c) a doc whose language never appeared in training gets
    NO prediction row rather than a wrong one."""
    from custom_python_etl_data_connector_rohitharumugams_spark.operators import (
        langid as L,
    )

    rows = [
        # lang a: vocabulary {spark, query, table}; lang b: {joins, scans}
        (1, "a", "spark query table spark"),
        (2, "a", "query table query spark table"),
        (3, "b", "joins scans joins"),
        (4, "b", "scans joins scans scans"),
        # held-out: lang a doc with an UNSEEN word (zeta) + one seen word
        (10, "a", "zeta spark"),
        (11, "b", "joins unseenword"),
        # lang c never appears in training (only as held-out)
        (12, "c", "mystery words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    blocks = L.lang_blocks(["a", "b", "c"])
    scripted = df.select(
        "doc_id",
        "lang",
        L.transliterate(F.col("text"), F.col("lang"), blocks).alias("__script"),
    )
    train = scripted.where(F.col("doc_id") < 10)
    test = scripted.where(F.col("doc_id") >= 10)
    for top_k in (None, 8):
        preds = {
            r.doc_id: r.pred_lang
            for r in L.predict(test, L.train_profiles(train, top_k=top_k)).collect()
        }
        assert preds.get(10) == "a", preds
        assert preds.get(11) == "b", preds
        assert 12 not in preds  # untrained language: no row, never a guess


def test_scaled_pq_recall_holds_at_sf01(spark):
    """The scale-aware IVF-PQ point's 0.8-recall contract at the BENCH
    tier (sf0.1, 4x the oracle fixture) — the leg the driver's sf0.01
    oracle row cannot see. scaled_pq_budgets now derives ALL of
    (n_lists, nprobe, rerank) from the corpus count with sqrt growth
    (n_lists=45, nprobe=7 at this tier), so per-query cost is sub-linear
    where the old flat-cell rule paid O(N) — and recall must still clear
    the gate the fixed hifi point (6/400) decays to 0.26 on. Measured
    here: 0.97 (flat-cell rule measured 0.92)."""
    e = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    q = e.where(F.col("vec_id") < 20)
    n_lists, nprobe, rerank = S.scaled_pq_budgets(e.count())
    bf = S.cosine_topk(q, e, k=5).toPandas()
    ap = S.ivf_search(
        q,
        e,
        k=5,
        nprobe=nprobe,
        rerank=rerank,
        cells=S.learned_cellmap(e, n_lists, 2),
    ).toPandas()
    bf_set = set(zip(bf.query_id, bf.neighbor_id))
    ap_set = set(zip(ap.query_id, ap.neighbor_id))
    recall = len(bf_set & ap_set) / len(bf_set)
    assert recall >= 0.8, f"scaled-budget recall broke its gate: {recall:.2f}"


def test_assign_to_centers_frozen_quantizer_contract(spark):
    """The frozen-assignment step behind a frozen index's cells: every
    vector lands in exactly one cell with a cid the center list defines;
    the call is deterministic; and a vector that IS a trained center is
    assigned that center's cell with __d2 == 0 — the anchor that catches
    a transposed center matrix or an off-by-one cid mapping, which a
    recall bound alone could miss."""
    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    _, _, centers = S.kmeans_train(
        e.where(F.col("vec_id") % 2 == 0), k=12, iters=2, return_centers=True
    )
    assert len(centers) == 12
    out = S.assign_to_centers(e, centers).collect()
    assert len(out) == e.count()
    cids = {cid for cid, _ in centers}
    assert {r.cid for r in out} <= cids
    again = S.assign_to_centers(e, centers).collect()
    assert sorted((r.vec_id, r.cid) for r in out) == sorted(
        (r.vec_id, r.cid) for r in again
    )
    # plant each center itself as a probe row: nearest center is itself
    probe = spark.createDataFrame(
        [(1000 + cid, list(vec)) for cid, vec in centers],
        "vec_id long, embedding array<double>",
    )
    hits = {
        r["vec_id"] - 1000: (r["cid"], r["__d2"])
        for r in S.assign_to_centers(probe, centers).collect()
    }
    for cid, _vec in centers:
        got_cid, d2 = hits[cid]
        assert got_cid == cid and d2 < 1e-9, (cid, got_cid, d2)


def test_frozen_add_recall_holds_at_sf01(spark):
    """The frozen-quantizer index's 0.75 gate at the BENCH tier (the leg
    the driver's sf0.01 row cannot see). Measured 0.92."""
    import math

    e = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    n_lists = max(5, math.ceil(math.sqrt(e.count())))
    _, _, centers = S.kmeans_train(
        e.where(F.col("vec_id") % 2 == 0), k=n_lists, iters=2, return_centers=True
    )
    q = e.where(F.col("vec_id") < 20)
    bf = S.cosine_topk(q, e, k=5).toPandas()
    ap = S.ivf_search(
        q,
        e,
        k=5,
        nprobe=max(4, math.ceil(0.5 * n_lists)),
        cells=S.assign_to_centers(e, centers),
    ).toPandas()
    bf_set = set(zip(bf.query_id, bf.neighbor_id))
    recall = len(bf_set & set(zip(ap.query_id, ap.neighbor_id))) / len(bf_set)
    assert recall >= 0.75, f"frozen-add recall broke its gate: {recall:.2f}"


def test_opq_rotation_is_orthogonal_and_balances_subspace_variance(spark):
    """The OPQ rotation's two defining properties, measured on the real
    corpus: (a) R is orthogonal (R @ R.T == I within float tolerance), so
    exact cosine/L2 — and therefore ground truth — are provably invariant
    under it; (b) eigenvalue allocation balances the per-subspace
    VARIANCE LOG-PRODUCT — the quantity OPQ's distortion bound depends
    on (Ge et al. CVPR 2013), NOT the variance sum — across the 4 PQ
    subspaces: the rotated spread must be far tighter than the raw
    split's (measured on sf0.01: raw 0.77, rotated 0.12; the pre-fix
    unshifted greedy produced 15.7, which is what this test pins
    against). (b) is WHY the same code budget quantizes less lossily —
    each sub-codebook sees comparable information volume."""
    import numpy as np

    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    rot = S.opq_rotation(e)
    assert rot.shape == (64, 64)
    assert np.allclose(rot @ rot.T, np.eye(64), atol=1e-8)

    x = np.array([r["embedding"] for r in e.select("embedding").collect()], dtype=np.float64)

    def logprod_spread(mat):
        var = np.maximum(mat.var(axis=0), 1e-12)
        per_sub = [np.log(var[m * 16:(m + 1) * 16]).sum() for m in range(4)]
        return max(per_sub) - min(per_sub)

    raw, rotated = logprod_spread(x), logprod_spread(x @ rot.T)
    assert rotated < raw and rotated < 0.3, (raw, rotated)


def test_opq_rotation_empty_corpus_raises_clearly(spark):
    """opq_rotation on an empty corpus must fail with a clear ValueError
    at the dimension probe, not a TypeError on NoneType deep inside."""
    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="empty corpus"):
        S.opq_rotation(e.where(F.lit(False)))


def test_opq_rotate_preserves_exact_neighbors(spark):
    """Orthogonal invariance end-to-end: the exact cosine top-k over the
    OPQ-rotated corpus equals the top-k over the raw corpus (same pairs),
    so any recall difference between the rotated and raw IVF-PQ queries
    is attributable to the ADC approximation alone."""
    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    er = S.opq_rotate(e)
    raw = S.cosine_topk(e.where(F.col("vec_id") < 20), e, k=5).toPandas()
    rot = S.cosine_topk(er.where(F.col("vec_id") < 20), er, k=5).toPandas()
    assert set(zip(raw.query_id, raw.neighbor_id)) == set(
        zip(rot.query_id, rot.neighbor_id)
    )


def test_approx_count_distinct_within_rsd(spark, sf_dir):
    """A3 accuracy bound: HLL++ at rsd=0.02 must land within 3x the
    configured relative standard deviation of the exact count (measured
    error on the fixtures is ~0.5-1%)."""
    rsd = 0.02
    l = load_table(spark, sf_dir, "lineitem")
    row = (
        l.agg(
            F.approx_count_distinct("l_partkey", rsd).alias("approx"),
            F.countDistinct("l_partkey").alias("exact"),
        ).collect()[0]
    )
    assert abs(row.approx - row.exact) / row.exact <= 3 * rsd


def test_id_generation_unique(spark, sf_dir):
    """Raw id-generation contracts behind the scalar_id_generation
    invariant query: generated row ids are globally unique and xxhash64 is
    injective on the fixture's distinct names."""
    c = load_table(spark, sf_dir, "customer")
    df = c.select(
        "c_custkey",
        F.xxhash64("c_name").alias("name_xxhash"),
        F.monotonically_increasing_id().alias("row_id"),
    )
    n = df.count()
    assert df.select("row_id").distinct().count() == n
    assert df.select("name_xxhash").distinct().count() == c.select("c_name").distinct().count()


def test_hot_shingle_df_cap_bounds_candidates(spark):
    """Adversarial: one shingle present in EVERY doc must not connect the
    corpus pairwise — the DF cap drops it before the postings join, so the
    candidate count is 0, not n*(n-1)/2."""
    n = 60
    rows = [(i, f"common boiler plate unique{i}a unique{i}b unique{i}c") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    posts = D.shingle_postings(df)
    capped = D.df_capped_postings(posts)
    assert capped.where(F.col("shingle") == "common boiler plate").count() == 0
    a, b = capped.alias("a"), capped.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
    )
    assert cands.count() == 0
    # and rare shingles survive untouched
    assert capped.count() == posts.where(F.col("shingle") != "common boiler plate").count()


def test_simhash_banding_finds_twins_corpus_wide(spark, docs_with_twins):
    """The banded variant needs no blocking frame: identical docs agree on
    every band, so every planted twin is found corpus-wide."""
    sh = D.simhash(docs_with_twins)
    pairs = D.simhash_banded_pairs(sh, bands=7, max_hamming=0).toPandas()
    found = set(zip(pairs.doc_id_1, pairs.doc_id_2))
    n_docs = docs_with_twins.count() // 2
    missing = [(i, i + OFFSET) for i in range(n_docs) if (i, i + OFFSET) not in found]
    assert not missing, f"banded simhash missed twins: {missing[:5]}"
    # recall >= the blocked variant at the same radius (banding sees the
    # whole corpus; blocking only within-source pairs)
    blocking = docs_with_twins.select("doc_id", F.col("source").alias("block"))
    blocked = D.simhash_near_pairs(sh, blocking, max_hamming=0).toPandas()
    assert set(zip(blocked.doc_id_1, blocked.doc_id_2)) <= found


def test_simhash_banding_exact_within_pigeonhole_radius(spark):
    """max_hamming < bands => every qualifying pair shares a full band
    (pigeonhole), so banded output == brute-force hamming join exactly."""
    d = load_table(spark, SMOKE_SF, "documents")
    sh = D.simhash(d)
    banded = D.simhash_banded_pairs(sh, bands=7, max_hamming=3).toPandas()
    a = sh.select(F.col("doc_id").alias("doc_id_1"), F.col("simhash").alias("sh_1"))
    b = sh.select(F.col("doc_id").alias("doc_id_2"), F.col("simhash").alias("sh_2"))
    brute = (
        a.crossJoin(b)
        .where(F.col("doc_id_1") < F.col("doc_id_2"))
        .select(
            "doc_id_1",
            "doc_id_2",
            F.bit_count(F.col("sh_1").bitwiseXOR(F.col("sh_2"))).alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
        .toPandas()
    )
    key = lambda p: sorted(map(tuple, p[["doc_id_1", "doc_id_2", "hamming"]].values.tolist()))
    assert key(banded) == key(brute)


def test_simhash_banding_hot_bucket_cap(spark, docs_with_twins):
    """max_bucket drops degenerate buckets (the 100 TB skew guard) but a
    generous cap keeps all planted twins: identical docs still collide in
    every surviving band."""
    sh = D.simhash(docs_with_twins)
    n = docs_with_twins.count()
    capped = D.simhash_banded_pairs(sh, bands=4, max_hamming=0, max_bucket=n).toPandas()
    found = set(zip(capped.doc_id_1, capped.doc_id_2))
    n_docs = n // 2
    missing = [(i, i + OFFSET) for i in range(n_docs) if (i, i + OFFSET) not in found]
    assert not missing, f"cap at corpus size must change nothing: {missing[:5]}"
    # a tiny cap must strictly shrink the candidate surface, never grow it
    tiny = D.simhash_banded_pairs(sh, bands=4, max_hamming=0, max_bucket=2).toPandas()
    assert set(zip(tiny.doc_id_1, tiny.doc_id_2)) <= found


def test_approx_percentile_tracks_exact(spark, sf_dir):
    """A6 accuracy bound: with accuracy=10000 the t-digest percentile must
    land within 1% relative error of the exact per-group percentile."""
    from custom_python_etl_data_connector_rohitharumugams_spark.plans import all_queries

    exact = {
        r.l_returnflag: (r.median_price, r.p90_price)
        for r in all_queries()["agg_stats_percentiles"].fn(spark, sf_dir).collect()
    }
    l = load_table(spark, sf_dir, "lineitem")
    apx = F.approx_percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.9)), F.lit(10000))
    approx = (
        l.groupBy("l_returnflag")
        .agg(apx.alias("__a"))
        .select(
            "l_returnflag",
            F.round(F.element_at("__a", 1), 2).alias("median_approx"),
            F.round(F.element_at("__a", 2), 2).alias("p90_approx"),
        )
        .collect()
    )
    for r in approx:
        em, e90 = exact[r.l_returnflag]
        assert abs(r.median_approx - em) / em <= 0.01
        assert abs(r.p90_approx - e90) / e90 <= 0.01
    # and the invariant query's self-check booleans must all be true
    inv = all_queries()["agg_approx_percentiles"].fn(spark, sf_dir).collect()
    assert all(r.approx_ok for r in inv)


class TestKmeansTrain:
    """kmeans_train (operators/similarity.py): determinism, monotone
    inertia, and the shuffle-free small-k assignment plan."""

    def test_invariant_to_input_partitioning(self, spark):
        from custom_python_etl_data_connector_rohitharumugams_spark.catalog import load_table
        from custom_python_etl_data_connector_rohitharumugams_spark.operators.similarity import (
            kmeans_train,
        )

        e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        a_assign, a_inertias = kmeans_train(e, k=5, iters=2)
        b_assign, b_inertias = kmeans_train(e.repartition(13), k=5, iters=2)
        assert a_inertias == b_inertias
        a = {r["vec_id"]: r["cid"] for r in a_assign.collect()}
        b = {r["vec_id"]: r["cid"] for r in b_assign.collect()}
        assert a == b

    def test_inertia_non_increasing(self, spark):
        from custom_python_etl_data_connector_rohitharumugams_spark.catalog import load_table
        from custom_python_etl_data_connector_rohitharumugams_spark.operators.similarity import (
            kmeans_train,
        )

        e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        _, inertias = kmeans_train(e, k=8, iters=3)
        assert len(inertias) == 3
        assert all(b <= a * (1 + 1e-9) for a, b in zip(inertias, inertias[1:]))

    def test_gemm_branch_matches_literal_branch(self, spark, monkeypatch):
        """The large-k GEMM assignment (|x|^2 - 2 X.C^T + |c|^2 per Arrow
        batch) must produce the SAME assignments and inertia trajectory as
        the literal-centers fold at the same k — forced by dropping the
        branch threshold to 0. Near-equality on inertia (GEMM sums in a
        different float order); exact equality on cluster membership."""
        from custom_python_etl_data_connector_rohitharumugams_spark.catalog import load_table
        from custom_python_etl_data_connector_rohitharumugams_spark.operators import similarity

        e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        lit_assign, lit_inertias = similarity.kmeans_train(e, k=5, iters=2)
        lit = {r["vec_id"]: r["cid"] for r in lit_assign.collect()}
        monkeypatch.setattr(similarity, "_KMEANS_LITERAL_MAX_K", 0)
        gemm_assign, gemm_inertias = similarity.kmeans_train(e, k=5, iters=2)
        gemm = {r["vec_id"]: r["cid"] for r in gemm_assign.collect()}
        assert gemm == lit
        for a, b in zip(lit_inertias, gemm_inertias):
            assert abs(a - b) <= 1e-6 * max(a, 1.0)

    def test_large_k_gemm_assignment_plan_is_shuffle_free(self, spark, monkeypatch):
        """The GEMM branch is a narrow mapInPandas stage: no Exchange, no
        join — the property that makes large-nlist training scan-shaped
        at 100 TB (the replaced broadcast-join form shuffled the corpus
        through a (vec_id, vec) re-group every iteration)."""
        from custom_python_etl_data_connector_rohitharumugams_spark.catalog import load_table
        from custom_python_etl_data_connector_rohitharumugams_spark.operators import similarity

        monkeypatch.setattr(similarity, "_KMEANS_LITERAL_MAX_K", 0)
        e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        assign, _ = similarity.kmeans_train(e, k=5, iters=1)
        plan = assign._jdf.queryExecution().executedPlan().toString()
        for node in ("Exchange", "CartesianProduct", "BroadcastHashJoin"):
            assert node not in plan, f"GEMM assignment planned a {node}:\n{plan[:600]}"
        assert "MapInPandas" in plan

    def test_small_k_assignment_plan_is_shuffle_free(self, spark):
        from custom_python_etl_data_connector_rohitharumugams_spark.catalog import load_table
        from custom_python_etl_data_connector_rohitharumugams_spark.operators.similarity import (
            kmeans_train,
        )

        e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        assign, _ = kmeans_train(e, k=5, iters=1)
        plan = assign._jdf.queryExecution().executedPlan().toString()
        for node in ("Exchange", "CartesianProduct", "BroadcastNestedLoopJoin"):
            assert node not in plan, (
                f"small-k assignment planned a {node} — it must stay a "
                f"narrow per-row argmin projection:\n{plan[:600]}"
            )


class TestStarConnectedComponents:
    """connected_components_star: equivalence with label propagation on
    random graphs, and O(log n)-round convergence on a deep chain where
    diameter-bound label propagation would exceed its round budget."""

    def _components(self, df):
        return {r["vertex"]: r["component"] for r in df.collect()}

    @pytest.mark.parametrize("local_threshold", [0, 3_000_000])
    def test_matches_label_propagation_on_random_graphs(
        self, spark, monkeypatch, local_threshold
    ):
        """Equivalence of all paths: threshold 0 forces BOTH distributed
        loops; the default threshold routes both through the single-task
        union-find finish — the four implementations must agree."""
        import random

        from custom_python_etl_data_connector_rohitharumugams_spark.operators import graph

        monkeypatch.setattr(graph, "_LOCAL_SOLVE_EDGES", local_threshold)
        rng = random.Random(42)
        for trial in range(4):
            n = rng.randint(2, 40)
            edges = [
                (rng.randint(0, n), rng.randint(0, n))
                for _ in range(rng.randint(1, 60))
            ]
            e = spark.createDataFrame(edges, "doc_id_1 long, doc_id_2 long")
            a = self._components(graph.connected_components(e))
            b = self._components(graph.connected_components_star(e))
            assert a == b, f"trial {trial}: {a} != {b}"

    def test_deep_chain_converges_fast(self, spark, monkeypatch):
        from custom_python_etl_data_connector_rohitharumugams_spark.operators import graph

        monkeypatch.setattr(graph, "_LOCAL_SOLVE_EDGES", 0)  # force the loop
        chain = [(i, i + 1) for i in range(200)]
        e = spark.createDataFrame(chain, "doc_id_1 long, doc_id_2 long")
        # ~log2(200)+fixpoint-detect+margin = 12 rounds: label propagation
        # would need 200 (the chain's diameter)
        got = self._components(graph.connected_components_star(e, max_iter=12))
        assert got == {i: 0 for i in range(201)}

    def test_star_midloop_local_finish(self, spark, monkeypatch):
        """A threshold between 0 and the chain's edge count exercises the
        hierarchical hand-off: distributed star rounds contract the chain,
        then the local union-find finishes it — labels must be identical."""
        from custom_python_etl_data_connector_rohitharumugams_spark.operators import graph

        monkeypatch.setattr(graph, "_LOCAL_SOLVE_EDGES", 120)
        chain = [(i, i + 1) for i in range(200)]
        e = spark.createDataFrame(chain, "doc_id_1 long, doc_id_2 long")
        got = self._components(graph.connected_components_star(e, max_iter=12))
        assert got == {i: 0 for i in range(201)}

    def test_superseded_checkpoints_are_released(self, spark, monkeypatch):
        """Iterative CC must not leak one persisted RDD per round: with a
        64g driver heap the GC-driven ContextCleaner may never fire, so
        superseded per-round localCheckpoints are unpersisted explicitly
        (graph._unpersist_checkpoint). Net growth over repeated runs is
        bounded by the live results, not the round count (pre-fix: +4 per
        run, unbounded)."""
        from custom_python_etl_data_connector_rohitharumugams_spark.operators import graph

        monkeypatch.setattr(graph, "_LOCAL_SOLVE_EDGES", 0)  # force the loops
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(12)], "doc_id_1 long, doc_id_2 long"
        )
        sc = spark.sparkContext._jsc.sc()
        for fn in (graph.connected_components, graph.connected_components_star):
            base = sc.getPersistentRDDs().size()
            for _ in range(3):
                fn(edges, max_iter=25).count()
            # the RETURNED frame legitimately keeps <=2 live checkpoints per
            # run until the caller drops it and the ContextCleaner runs; the
            # pre-fix bug leaked ~1 per ROUND (12 rounds here), so the pin
            # is growth ~ live results, not round count
            grown = sc.getPersistentRDDs().size() - base
            assert grown <= 8, (
                f"{fn.__name__}: {grown} persistent RDDs accumulated over 3 "
                "runs of a 12-round graph — per-round checkpoints are "
                "leaking again"
            )


def test_audit_sample_invariant_to_partitioning(spark, sf_dir):
    """The md5-ranked audit sample is a pure function of the data: the
    same rows must be selected regardless of how the input is partitioned
    (the property df.sample/TABLESAMPLE does NOT have)."""
    from custom_python_etl_data_connector_rohitharumugams_spark.plans import all_queries

    fn = all_queries()["llm_audit_sample_per_source"].fn
    a = sorted(map(tuple, fn(spark, sf_dir).collect()))

    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").repartition(17, "lang")
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.concat(F.lit("audit:"), F.col("doc_id").cast("string"))),
            "doc_id",
        )
    )
    b = sorted(
        map(
            tuple,
            d.select("source", "doc_id")
            .withColumn("rk", rk.cast("bigint"))
            .where(F.col("rk") <= 2)
            .collect(),
        )
    )
    assert a == b
    per_source = {}
    for src, _doc, _rk in a:
        per_source[src] = per_source.get(src, 0) + 1
    assert set(per_source.values()) == {2}


def test_pq_encode_covers_every_vector_with_valid_codes(spark, sf_dir):
    """PQ invariants: 4 codes per vector (one per subspace), codes in
    [0, 4), population sums back to 4 x corpus size."""
    from custom_python_etl_data_connector_rohitharumugams_spark.plans import all_queries

    out = all_queries()["llm_pq_encode"].fn(spark, sf_dir).collect()
    n_vectors = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_vectors for r in out) == 4 * n_vectors
    assert all(0 <= r.code < 4 for r in out)
    assert all(0 <= r.subspace < 4 for r in out)
    assert all(r.total_err_micro >= 0 for r in out)


def test_embedding_decontamination_flags_planted_copy(spark):
    """Run the ACTUAL decontamination operator on a corpus with a planted
    benchmark copy: the copy's label must report contaminated with
    max_sim 1.0, while an orthogonal-vector label reports clean."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),  # benchmark
        (1, [0.0, 1.0, 0.0, 0.0], 0),  # benchmark
        (10, [1.0, 0.0, 0.0, 0.0], 7),  # exact copy of benchmark vec 0
        (11, [0.0, 0.0, 1.0, 0.0], 8),  # orthogonal to both benchmarks
    ]
    e = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    out = {r.label: r for r in S.benchmark_decontamination(e).collect()}
    assert out[7].n_contaminated == 1 and out[7].max_sim == 1.0
    assert out[8].n_contaminated == 0 and out[8].max_sim == 0.0


def test_cell_occupancy_drift_identity_zero_and_planted_drift_fires(spark, sf_dir):
    """Pins the two theorems llm_frozen_index_drift_trigger's oracle leans
    on, plus their stated precondition: (a) re-assigning the same corpus
    under the same frozen centers gives tv_ppm EXACTLY 0 / no retrain;
    (b) a batch confined to one cell trips the 200000-ppm trigger; (c)
    the precondition for (b) — the baseline occupies >= 2 cells on the
    real fixture under the sqrt-rule quantizer — actually holds."""
    import math

    e = load_table(spark, sf_dir, "embeddings")
    n_lists = max(5, math.ceil(math.sqrt(e.count())))
    _, _in, centers = S.kmeans_train(
        e.where(F.col("vec_id") % 2 == 0), k=n_lists, iters=2, return_centers=True
    )
    base = S.assign_to_centers(e, centers).select("vec_id", "cid")
    occupancy = {r.cid: r.n for r in base.groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert len(occupancy) >= 2, occupancy  # precondition (c)

    ident = S.cell_occupancy_drift(base, S.assign_to_centers(e, centers).select("cid")).collect()[0]
    assert ident.tv_ppm == 0 and not ident.retrain

    min_cell = min(occupancy, key=lambda c: (occupancy[c], c))
    drifted = S.cell_occupancy_drift(
        base, base.where(F.col("cid") == min_cell).select("cid")
    ).collect()[0]
    assert drifted.retrain and drifted.tv_ppm >= 1_000_000 - 500_000 - n_lists


def test_pruned_decontamination_contained_by_exact_and_finds_twins(spark, sf_dir):
    """The IVF-pruned decontaminator's two contracts, on the real corpus:
    (a) CONTAINMENT — probing a subset of cells can only lower per-label
    max_sim and n_contaminated relative to the exact scan, never raise
    them; (b) GUARANTEED exact-duplicate recall — a planted identical
    copy of a benchmark vector is flagged at max_sim exactly 1.0 because
    the probe set always contains the row's argmax cell (the same
    first-max tie-break that assigned the benchmark side)."""
    e = load_table(spark, sf_dir, "embeddings")
    planted = (
        e.where((F.col("label") == 0) & (F.col("vec_id") % 3 == 0))
        .withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000))
        .withColumn("label", F.lit(99))
    )
    corpus = e.unionByName(planted)
    exact = {r.label: r for r in S.benchmark_decontamination(corpus).collect()}
    pruned = {
        r.label: r
        for r in S.benchmark_decontamination_pruned(corpus).collect()
    }
    assert set(pruned) == set(exact)
    for lbl in exact:
        assert pruned[lbl].n_vectors == exact[lbl].n_vectors
        assert pruned[lbl].n_contaminated <= exact[lbl].n_contaminated, lbl
        assert pruned[lbl].max_sim <= exact[lbl].max_sim, lbl
    assert pruned[99].max_sim == 1.0
    assert pruned[99].n_contaminated == pruned[99].n_vectors > 0


def test_filtered_cosine_topk_excludes_other_labels(spark):
    """The metadata filter is a hard constraint: a near-identical vector
    with a DIFFERENT label must never appear in the neighbor list, even
    though it would dominate the unfiltered top-k."""
    rows = [
        (0, [1.0, 0.0, 0.0], 1),  # query (vec_id < 5)
        (10, [1.0, 0.001, 0.0], 2),  # near-identical, WRONG label
        (11, [0.5, 0.5, 0.0], 1),  # same label, mid similarity
        (12, [0.0, 1.0, 0.0], 1),  # same label, orthogonal
    ]
    e = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    got = S.cosine_topk(
        e.where(F.col("vec_id") < 5), e, k=5, filter_col="label"
    ).collect()
    neighbors = {r.neighbor_id for r in got}
    assert neighbors == {11, 12}
    assert [r.neighbor_id for r in sorted(got, key=lambda r: r.rank)] == [11, 12]


def test_filtered_topk_equals_unfiltered_when_single_label(spark, sf_dir):
    """With a constant filter column the filtered equi-join path must
    produce exactly the unfiltered crossJoin path's results — same
    ranking discipline, different join strategy."""
    e = load_table(spark, sf_dir, "embeddings").withColumn("one", F.lit(1))
    q = e.where(F.col("vec_id") < 5)
    plain = sorted(map(tuple, S.cosine_topk(q, e, k=3).collect()))
    filt = sorted(
        map(tuple, S.cosine_topk(q, e, k=3, filter_col="one").collect())
    )
    assert plain == filt


def test_decontamination_monotone_in_threshold(spark, sf_dir):
    """Raising the contamination threshold can only shrink the flagged
    set (per label and in total)."""
    e = load_table(spark, sf_dir, "embeddings")
    lo = {
        r.label: r.n_contaminated
        for r in S.benchmark_decontamination(e, threshold=0.25).collect()
    }
    hi = {
        r.label: r.n_contaminated
        for r in S.benchmark_decontamination(e, threshold=0.4).collect()
    }
    assert set(lo) == set(hi)
    assert all(hi[k] <= lo[k] for k in lo)
    assert sum(hi.values()) < sum(lo.values())  # 0.4 actually bites on this data


def test_ivf_pq_generous_rerank_equals_ivf(spark):
    """With a rerank budget >= every probed candidate the ADC stage prunes
    nothing, so IVF-PQ must reproduce plain IVF exactly — pins the probe,
    code-assignment, table-lookup, and re-rank plumbing end to end."""
    e = load_table(spark, SMOKE_SF, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    ivf = S.ivf_search(q, e, k=3, nprobe=3, rerank=None).toPandas()
    pq = S.ivf_search(q, e, k=3, nprobe=3, rerank=100000).toPandas()
    key = ["query_id", "neighbor_id", "rank", "sim"]
    assert sorted(map(tuple, pq[key].values.tolist())) == sorted(
        map(tuple, ivf[key].values.tolist())
    )


def test_semantic_dedup_hot_cell_cap_under_planted_skew(spark):
    """Hot-cell guardrail (similarity.semantic_dedup): 60% of the corpus
    is a tight line blob — geometry that collapses into ONE trained cell
    and that the lowest-id k-means init splits poorly — yet every
    per-cell GEMM stays within max_cell_rows (the projection-rank level
    guarantees the cap whatever the geometry). Vectors are pairwise
    distinct and below threshold, so the flags must be all-keep: the
    bound may not change semantics."""
    rows = [(i, [50.0, i * 0.001] + [0.0] * 6) for i in range(240)]
    rows += [
        (i, [i * 1.0, 400.0 - i, float((i * i) % 89), 1.0] + [0.0] * 4)
        for i in range(240, 400)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.semantic_dedup(
        df, threshold=1.01, n_clusters=4, max_cell_rows=50
    ).toPandas()
    per_cell = out.groupby("cell").size()
    assert len(out) == 400 and not out["dropped"].any()
    assert per_cell.max() <= 50


def test_semantic_dedup_exact_flood_collapses_before_gemm(spark):
    """Exact-duplicate collapse: a flood of identical vectors (the
    degenerate skew no spatial split can separate) never reaches the
    quadratic pass — the keeper is the lowest id, every clone is dropped,
    and the GEMM cells hold only distinct vectors (so the per-cell row
    count stays under the cap even though one vector repeats 300x)."""
    base = [(i, [float(i + 1), 2.0, 3.0, 5.0]) for i in range(100)]
    flood = [(1000 + i, [9.0, 9.0, 9.0, 9.0]) for i in range(300)]
    df = spark.createDataFrame(
        base + [(999, [9.0, 9.0, 9.0, 9.0])] + flood,
        "vec_id long, embedding array<double>",
    )
    out = S.semantic_dedup(
        df, threshold=0.9999, n_clusters=4, max_cell_rows=50
    ).toPandas()
    assert len(out) == 401
    clones = out[out.vec_id >= 1000]
    assert len(clones) == 300 and clones["dropped"].all()
    assert not out[out.vec_id == 999]["dropped"].iloc[0]  # keeper survives
    # distinct-vector cells stay capped; the 300 collapsed clones report
    # their keeper's cell but never entered a GEMM task
    kept_cells = out[out.vec_id < 1000].groupby("cell").size()
    assert kept_cells.max() <= 50


def test_bpe_train_matches_reference_implementation(spark, sf_dir):
    """Distributed BPE training equals the textbook single-process trainer
    (Sennrich et al. 2016) on the real corpus: same merge table in the
    same rank order, same frequencies, same tie-break — plus the two
    invariants the registered query's oracle leans on (every round
    clears the frequency floor; pair totals strictly decrease)."""
    from collections import Counter

    from custom_python_etl_data_connector_rohitharumugams_spark.operators import bpe as B

    d = load_table(spark, sf_dir, "documents")
    words = B.word_counts(d)
    merges, state, totals = B.bpe_train(words, n_merges=6)

    # reference trainer on the collected word counts
    wc = {r.word: r.cnt for r in words.collect()}
    vocab = {w: list(w) for w in wc}
    ref: list[tuple[str, str, int]] = []
    for _ in range(6):
        pairs: Counter = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += wc[w]
        if not pairs:
            break
        (la, rb), freq = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if freq < B.MIN_PAIR_FREQ:
            break
        ref.append((la, rb, freq))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == la and syms[i + 1] == rb:
                    out.append(la + rb)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out

    assert merges == ref
    assert len(merges) == 6
    assert all(b < a for a, b in zip(totals, totals[1:])), totals
    # the final distributed state equals the reference vocabulary rewrite
    got = {r.word: list(r.syms) for r in state.collect()}
    assert got == vocab


def test_bpe_apply_counts_match_trained_state_lookup(spark, sf_dir):
    """The corpus apply pass equals a per-word lookup into the trained
    final state: for every document, n_subwords == sum over its words of
    len(final syms(word)) — ties the two halves of the tokenizer (train
    rewrites the vocabulary, apply rewrites the corpus) to one truth.
    Also pins the per-doc containment theorem the registered query
    aggregates (n_words <= n_subwords <= n_chars)."""
    from custom_python_etl_data_connector_rohitharumugams_spark.operators import bpe as B

    d = load_table(spark, sf_dir, "documents")
    merges, state, _totals = B.bpe_train(B.word_counts(d), n_merges=6)
    sizes = {r.word: len(r.syms) for r in state.collect()}
    per_doc = {r.doc_id: r for r in B.bpe_apply(d, merges).collect()}
    for row in d.select("doc_id", "text").collect():
        words = [w for w in row.text.split(" ") if w]
        expect = sum(sizes[w] for w in words)
        got = per_doc[row.doc_id]
        assert got.n_subwords == expect, row.doc_id
        assert got.n_words <= got.n_subwords <= got.n_chars


def test_compression_ratio_margins(spark, sf_dir):
    """The 0.25 gate must keep >=1.4x margin to BOTH populations at the
    test scale factor (the measured-margin discipline: a threshold that
    merely passes today is one fixture refresh from flapping)."""
    import zlib

    from custom_python_etl_data_connector_rohitharumugams_spark.catalog import load_table

    rows = load_table(spark, sf_dir, "documents").select("text").collect()
    nat_min, planted_max = 9.0, 0.0
    for r in rows:
        raw = (r.text or "").encode()
        if not raw:
            continue
        nat_min = min(nat_min, len(zlib.compress(raw, 6)) / len(raw))
        toks = r.text.split(" ")
        rep = " ".join([toks[0]] * max(len(toks), 64)).encode()
        planted_max = max(planted_max, len(zlib.compress(rep, 6)) / len(rep))
    assert nat_min >= 0.25 * 1.4, f"natural min {nat_min:.3f} too close to gate"
    assert planted_max <= 0.25 / 1.4, f"planted max {planted_max:.3f} too close"


def test_bpe_driver_and_rounds_paths_agree(spark, sf_dir):
    """The driver-side finish (default) and the distributed per-round
    escape hatch must learn the IDENTICAL model: same merge table in
    rank order, same per-merge pair totals, same final vocabulary
    rewrite — the two-strategy contract bpe_train's docstring states."""
    from custom_python_etl_data_connector_rohitharumugams_spark.operators import bpe as B

    d = load_table(spark, sf_dir, "documents")
    words = B.word_counts(d)
    m_drv, st_drv, t_drv = B.bpe_train(words, n_merges=6, strategy="driver")
    m_rnd, st_rnd, t_rnd = B.bpe_train(words, n_merges=6, strategy="rounds")
    assert m_drv == m_rnd
    assert t_drv == t_rnd
    got_drv = {r.word: list(r.syms) for r in st_drv.collect()}
    got_rnd = {r.word: list(r.syms) for r in st_rnd.collect()}
    st_rnd.unpersist()
    assert got_drv == got_rnd


def test_bpe_paths_agree_on_non_bmp_text(spark):
    """strategy='auto' switches between the driver finish and the
    distributed rounds purely on vocabulary size, so the two paths must
    learn the identical model even on astral-plane text (emoji, CJK
    extension B) — i.e. the split and the tie-break must both be
    code-point-based on BOTH paths (Python list(word) vs Spark
    split(word,''), Python string compare vs UTF8String byte compare).
    A surrogate-pair-splitting engine would learn lone-surrogate
    symbols here and the merge tables would diverge."""
    from custom_python_etl_data_connector_rohitharumugams_spark.operators import bpe as B

    words = spark.createDataFrame(
        [
            ("\U0001F600\U0001F600ab", 7),   # emoji pair + ascii tail
            ("\U00020000\U0001F600ab", 5),   # CJK-B then emoji
            ("ab\ue000c", 4),  # BMP private-use char just above surrogates
            ("\U0001F600ab", 3),
        ],
        "word string, cnt long",
    )
    m_drv, st_drv, t_drv = B.bpe_train(words, n_merges=4, strategy="driver")
    m_rnd, st_rnd, t_rnd = B.bpe_train(words, n_merges=4, strategy="rounds")
    assert m_drv == m_rnd
    assert t_drv == t_rnd
    got_drv = {r.word: list(r.syms) for r in st_drv.collect()}
    got_rnd = {r.word: list(r.syms) for r in st_rnd.collect()}
    st_rnd.unpersist()
    assert got_drv == got_rnd
    # the astral chars were treated as ONE symbol each — no symbol on
    # either path may contain a lone surrogate code unit
    for got in (got_drv, got_rnd):
        for syms in got.values():
            for s in syms:
                assert not any("\ud800" <= ch <= "\udfff" for ch in s), s
    assert any("\U0001F600" in s for s in got_drv["\U0001F600ab"])


def test_bpe_driver_training_action_count_constant(spark, sf_dir):
    """The batched-training cost model, pinned: driver-side training runs
    a CONSTANT number of Spark jobs (vocab count + vocab collect, +1 for
    the local-relation n_words count) regardless of n_merges — vs one
    job PER merge for the per-round form. Doubling the merge budget must
    not add a single job."""
    from custom_python_etl_data_connector_rohitharumugams_spark.operators import bpe as B

    d = load_table(spark, sf_dir, "documents")
    sc = spark.sparkContext

    def jobs_for(n_merges: int, group: str) -> int:
        sc.setJobGroup(group, "bpe-train-pin")
        try:
            merges, state, _ = B.bpe_train(B.word_counts(d), n_merges=n_merges)
            state.count()
            assert len(merges) == n_merges
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    j3 = jobs_for(3, "bpe-pin-3")
    j6 = jobs_for(6, "bpe-pin-6")
    # AQE splits each of the 3 actions into a few jobs (shuffle-stage
    # materialization), so pin the INVARIANT (job count independent of
    # merge budget) plus a generous absolute ceiling well under the
    # old one-action-per-merge floor (6 merges used to cost >= 7 jobs
    # from the rounds alone).
    assert j6 == j3 <= 8, (j3, j6)


def test_exact_substring_dedup_mark_semantics(spark):
    """Hand-built corpus pins the ExactSubstr mark rules: the corpus-wide
    FIRST occurrence of a repeated 3-gram survives, later occurrences
    (cross-doc AND within-doc) mark their k token positions, overlapping
    repeated runs merge through the distinct, and a doc shorter than k
    tokens is never touched."""
    from custom_python_etl_data_connector_rohitharumugams_spark.operators.dedup import (
        duplicated_gram_positions,
    )

    docs = spark.createDataFrame(
        [
            # doc 1: the canonical first occurrence of "a b c" and "b c d"
            (1, "a b c d"),
            # doc 2: repeats the whole run "a b c d" -> grams "a b c" and
            # "b c d" both duplicate; marks merge to positions 0..3
            (2, "a b c d x"),
            # doc 3: repeats "a b c" mid-doc -> marks positions 2..4 only
            (3, "q r a b c s"),
            # doc 4: within-doc repetition of "z z z": grams at pos 0 and
            # 1 are both "z z z" -> first (pos 0) kept, pos 1 marks 1..3
            (4, "z z z z"),
            # doc 5: shorter than k -> no grams, never marked
            (5, "a b"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.pos)
        for r in duplicated_gram_positions(docs, k=3).collect()
    }
    want = (
        {(2, p) for p in range(0, 4)}
        | {(3, p) for p in range(2, 5)}
        | {(4, p) for p in range(1, 4)}
    )
    assert got == want


def test_frozen_delete_masks_tombstones_and_recloses_ranks(spark):
    """The index lifecycle's DELETE verb (mask_tombstones): plant
    an identical twin for every query vector (guaranteed rank-1 by
    cosine 1.0), tombstone the twins, and the deleted ids must (a) never
    appear in any result and (b) with exhaustive probing the survivors
    must equal brute force over the LIVE corpus exactly — deletion
    re-closes ranks, it does not leave holes."""
    import math

    e = load_table(spark, SMOKE_SF, "embeddings")
    twins = e.where(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + OFFSET
    )
    corpus = e.unionByName(twins)
    n_lists = max(5, math.ceil(math.sqrt(corpus.count())))
    _, _, centers = S.kmeans_train(e, k=n_lists, iters=2, return_centers=True)
    q = e.where(F.col("vec_id") < 20)
    dead = twins.select("vec_id")

    live = S.mask_tombstones(corpus, dead)
    got = S.ivf_search(
        q, live, k=3, nprobe=n_lists, cells=S.assign_to_centers(live, centers)
    ).toPandas()
    assert not (got.neighbor_id >= OFFSET).any(), "tombstoned id returned"
    live_bf = S.cosine_topk(q, e, k=3).toPandas()
    key = ["query_id", "neighbor_id", "rank", "sim"]
    assert sorted(map(tuple, got[key].values.tolist())) == sorted(
        map(tuple, live_bf[key].values.tolist())
    )
    # sanity: without the tombstones the twins DO win rank 1
    with_dead = S.ivf_search(
        q, corpus, k=1, nprobe=n_lists, cells=S.assign_to_centers(corpus, centers)
    ).toPandas()
    assert (with_dead.neighbor_id >= OFFSET).all()


def test_ivf_compact_reassign_keeps_structure_and_results(spark):
    """Compaction (reassign mode) must change NOTHING a searcher sees and
    everything the scanner pays: (a) the live set's cell assignments are
    IDENTICAL pre/post (deletion never moves a surviving vector, centers
    frozen — index-structure equality); (b) exhaustive-probe top-k
    through the compacted index equals the pre-compact masked search
    row-for-row; (c) the post-compact load report is (n_live, 0, 0,
    false)."""
    import math

    from custom_python_etl_data_connector_rohitharumugams_spark.operators.similarity import (
        tombstone_load_report,
    )

    e = load_table(spark, SMOKE_SF, "embeddings")
    twins = e.where(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + OFFSET
    )
    corpus = e.unionByName(twins)
    n_lists = max(5, math.ceil(math.sqrt(corpus.count())))
    _, _, centers = S.kmeans_train(e, k=n_lists, iters=2, return_centers=True)
    dead = twins.select("vec_id")
    q = e.where(F.col("vec_id") < 20)

    live, centers2 = S.ivf_compact(corpus, centers, dead, retrain=False)
    assert centers2 is centers  # reassign mode: the quantizer is untouched
    pre_cells = {
        r.vec_id: r.cid
        for r in S.assign_to_centers(corpus, centers).select("vec_id", "cid").collect()
        if r.vec_id < OFFSET
    }
    post_cells = {
        r.vec_id: r.cid
        for r in S.assign_to_centers(live, centers2).select("vec_id", "cid").collect()
    }
    assert post_cells == pre_cells  # index structure over the live set

    masked_corpus = S.mask_tombstones(corpus, dead)
    masked = S.ivf_search(
        q,
        masked_corpus,
        k=3,
        nprobe=n_lists,
        cells=S.assign_to_centers(masked_corpus, centers),
    ).toPandas()
    compacted = S.ivf_search(
        q, live, k=3, nprobe=n_lists, cells=S.assign_to_centers(live, centers2)
    ).toPandas()
    key = ["query_id", "neighbor_id", "rank", "sim"]
    assert sorted(map(tuple, masked[key].values.tolist())) == sorted(
        map(tuple, compacted[key].values.tolist())
    )
    r = tombstone_load_report(live, dead).collect()[0]
    assert (r.n_total, r.n_deleted, r.deleted_ppm, r.rebuild) == (
        e.count(),
        0,
        0,
        False,
    )


def test_ivf_compact_retrain_preserves_search_results(spark):
    """Compaction with retrain=True replaces the quantizer (fresh Lloyd's
    on the live set) — the structure may change arbitrarily, but at
    exhaustive probe the search results must STILL equal brute force over
    the live set: the quantizer only routes."""
    import math

    e = load_table(spark, SMOKE_SF, "embeddings")
    twins = e.where(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + OFFSET
    )
    corpus = e.unionByName(twins)
    _, _, centers = S.kmeans_train(e, k=8, iters=2, return_centers=True)
    dead = twins.select("vec_id")
    live, centers2 = S.ivf_compact(corpus, centers, dead, retrain=True, iters=2)
    n_lists2 = len(centers2)
    assert n_lists2 == max(5, math.ceil(math.sqrt(e.count())))
    q = e.where(F.col("vec_id") < 20)
    got = S.ivf_search(
        q, live, k=3, nprobe=n_lists2, cells=S.assign_to_centers(live, centers2)
    ).toPandas()
    bf = S.cosine_topk(q, e, k=3).toPandas()
    key = ["query_id", "neighbor_id", "rank", "sim"]
    assert sorted(map(tuple, got[key].values.tolist())) == sorted(
        map(tuple, bf[key].values.tolist())
    )


def test_ivf_index_save_load_roundtrip_bit_exact(spark, tmp_path):
    """PERSIST/LOAD verbs: the parquet roundtrip must return the
    IDENTICAL index — centers bit-for-bit (float64 survives parquet
    exactly), cell map row-for-row — and a reload into a fresh session
    frame must route a search identically to the in-memory index."""
    import math

    e = load_table(spark, SMOKE_SF, "embeddings")
    n_lists = max(5, math.ceil(math.sqrt(e.count())))
    _, _, centers = S.kmeans_train(e, k=n_lists, iters=2, return_centers=True)
    cellmap = S.assign_to_centers(e, centers).select("vec_id", "cid")
    path = str(tmp_path / "idx")
    S.save_ivf_index(cellmap, centers, path)
    loaded_cells, loaded_centers = S.load_ivf_index(spark, path)
    # the loader sorts by cid (deterministic artifact order); compare as
    # sets — values must be bit-for-bit
    assert loaded_centers == sorted(
        (int(c), [float(x) for x in v]) for c, v in centers
    )
    want = sorted((r.vec_id, r.cid) for r in cellmap.collect())
    got = sorted((r.vec_id, r.cid) for r in loaded_cells.collect())
    assert got == want
    q = e.where(F.col("vec_id") < 20)
    via_loaded = S.ivf_search(q, e, k=3, nprobe=3, cells=loaded_cells).toPandas()
    via_mem = S.ivf_search(q, e, k=3, nprobe=3, cells=cellmap).toPandas()
    key = ["query_id", "neighbor_id", "rank", "sim"]
    assert sorted(map(tuple, via_loaded[key].values.tolist())) == sorted(
        map(tuple, via_mem[key].values.tolist())
    )


def test_frozen_quantizer_trains_once_per_corpus(spark, sf_dir):
    """The frozen family's train-once contract applied to the harness
    itself: the second _frozen_quantizer call on the same corpus frame
    must hit the session memo — ZERO new Spark jobs — and return the
    identical object. Five registered queries share this quantizer, so
    a cache regression would silently re-run Lloyd's per query."""
    from custom_python_etl_data_connector_rohitharumugams_spark.plans import llm as L

    # a fresh derived frame owns no memo entry yet: isolated from every
    # other test's quantizer on the shared table frame
    e = load_table(spark, sf_dir, "embeddings").select("*")
    sc = spark.sparkContext

    def jobs_for(group: str):
        sc.setJobGroup(group, "frozen-q-pin")
        try:
            out = L._frozen_quantizer(e)
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    first, j1 = jobs_for("fq-pin-1")
    second, j2 = jobs_for("fq-pin-2")
    assert j1 > 0 and j2 == 0, (j1, j2)
    assert second is first  # same tuple object, not a retrain


def test_tombstone_load_report_threshold_and_stale_ids(spark):
    """Compaction trigger arithmetic: integer ppm over MATCHED tombstones
    only (a stale tombstone for a never-indexed id wastes no scan work
    and must not count), rebuild fires strictly above the threshold."""
    from custom_python_etl_data_connector_rohitharumugams_spark.operators.similarity import (
        tombstone_load_report,
    )

    corpus = spark.range(1000).select(F.col("id").alias("vec_id"))
    # 199 real + 500 stale tombstones -> 199_000 ppm: under the 20% gate
    dead_under = spark.range(199).select(F.col("id").alias("vec_id")).unionByName(
        spark.range(5000, 5500).select(F.col("id").alias("vec_id"))
    )
    r = tombstone_load_report(corpus, dead_under).collect()[0]
    assert (r.n_total, r.n_deleted, r.deleted_ppm, r.rebuild) == (
        1000,
        199,
        199_000,
        False,
    )
    dead_over = spark.range(201).select(F.col("id").alias("vec_id"))
    r2 = tombstone_load_report(corpus, dead_over).collect()[0]
    assert (r2.n_deleted, r2.deleted_ppm, r2.rebuild) == (201, 201_000, True)
    # a delete log with RETRIES (duplicate ids) must not fan out the join:
    # n_total stays the corpus size and each id counts once
    dead_dup = dead_under.unionByName(dead_under).unionByName(dead_under)
    r3 = tombstone_load_report(corpus, dead_dup).collect()[0]
    assert (r3.n_total, r3.n_deleted, r3.deleted_ppm, r3.rebuild) == (
        1000,
        199,
        199_000,
        False,
    )
    # empty corpus: contained (0,0,0,false) row, never a NULL ppm
    empty = corpus.where(F.lit(False))
    r4 = tombstone_load_report(empty, dead_under).collect()[0]
    assert (r4.n_total, r4.n_deleted, r4.deleted_ppm, r4.rebuild) == (
        0,
        0,
        0,
        False,
    )


def test_pq_index_roundtrip_is_bit_exact(spark, tmp_path):
    """PERSIST/LOAD for the COMPRESSED family (save_pq_index /
    load_pq_index): every artifact piece must survive the parquet
    roundtrip bit-for-bit — rotation matrix (float64), per-subspace
    codebooks, routing centroids, cell map, per-vector codes — and a
    search through the loaded state must equal the in-session search
    row-exactly (the llm_ann_pq_index_persistence proof, unit-scale)."""
    import numpy as np

    e = load_table(spark, SMOKE_SF, "embeddings")
    n_lists, nprobe, rerank = S.scaled_pq_budgets(e.count())
    rot = S.opq_rotation(e)
    er = S.opq_rotate(e)
    cellmap = S.learned_cellmap(er, n_lists, 2)
    corpus_mem = er.join(cellmap, "vec_id")
    centroids = S.ivf_centroids_frame(corpus_mem, list_col="cid").localCheckpoint(
        eager=True
    )
    codes = S.pq_encode(er)
    path = str(tmp_path / "pqidx")
    S.save_pq_index(cellmap, centroids, codes, None, rot, path)
    l_cells, l_cent, l_codes, l_cbs, l_rot = S.load_pq_index(spark, path)

    assert l_rot is not None and np.array_equal(l_rot, rot)  # bit-exact
    assert l_cbs == S._pq_codebooks(None)
    want_cent = sorted(
        (r.ivf_list, tuple(r.centroid)) for r in centroids.collect()
    )
    got_cent = sorted(
        (r.ivf_list, tuple(r.centroid)) for r in l_cent.collect()
    )
    assert got_cent == want_cent
    assert sorted((r.vec_id, r.cid) for r in cellmap.collect()) == sorted(
        (r.vec_id, r.cid) for r in l_cells.collect()
    )
    assert sorted((r.vec_id, tuple(r.codes)) for r in codes.collect()) == sorted(
        (r.vec_id, tuple(r.codes)) for r in l_codes.collect()
    )

    er_loaded = S.opq_apply(e, l_rot)
    via_loaded = S.ivf_search(
        er_loaded.where(F.col("vec_id") < 20),
        er_loaded.join(l_codes, "vec_id"),
        k=3,
        nprobe=nprobe,
        rerank=rerank,
        cells=l_cells,
        codebooks=l_cbs,
        codes_col="codes",
        centroids=l_cent,
    ).toPandas()
    via_mem = S.ivf_search(
        er.where(F.col("vec_id") < 20),
        corpus_mem,
        k=3,
        nprobe=nprobe,
        rerank=rerank,
        list_col="cid",
        centroids=centroids,
    ).toPandas()
    key = ["query_id", "neighbor_id", "rank", "sim"]
    assert sorted(map(tuple, via_loaded[key].values.tolist())) == sorted(
        map(tuple, via_mem[key].values.tolist())
    )


def test_save_pq_index_without_rotation_loads_none(spark, tmp_path):
    """rotation=None must roundtrip as None (identity contract for
    indexes of the unrotated PQ family), not crash or fabricate an R."""
    e = load_table(spark, SMOKE_SF, "embeddings")
    cellmap = S.learned_cellmap(e, 5, 1)
    centroids = S.ivf_centroids_frame(e.join(cellmap, "vec_id"), list_col="cid")
    path = str(tmp_path / "pqidx_norot")
    S.save_pq_index(cellmap, centroids, S.pq_encode(e), None, None, path)
    _, _, _, l_cbs, l_rot = S.load_pq_index(spark, path)
    assert l_rot is None
    assert l_cbs == S._pq_codebooks(None)


def test_quadratic_baseline_fence_refuses_above_threshold(spark, tmp_path):
    """The DESIGN.md exact-baseline hazard as a CONTRACT: both declared
    quadratic baselines must refuse to build over a corpus larger than
    _QUADRATIC_MAX_ROWS unless allow_quadratic=True states the cost, and
    must keep building (driver rows unchanged) at fixture scale."""
    import pytest as _pytest

    from custom_python_etl_data_connector_rohitharumugams_spark.plans.llm import (
        _QUADRATIC_MAX_ROWS,
        llm_embedding_decontamination,
        llm_embedding_near_dup,
    )

    big = str(tmp_path / "big")
    spark.range(_QUADRATIC_MAX_ROWS + 1).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 3).cast("int").alias("label"),
        F.array(F.lit(1.0), F.lit(0.5)).alias("embedding"),
    ).write.parquet(f"{big}/embeddings.parquet")
    for fn in (llm_embedding_near_dup, llm_embedding_decontamination):
        with _pytest.raises(RuntimeError, match="quadratic"):
            fn(spark, big)
        # the explicit override still BUILDS the plan (no action run here)
        assert fn(spark, big, allow_quadratic=True).columns
        # fixture scale stays under the fence: plan builds without override
        assert fn(spark, SMOKE_SF).columns
