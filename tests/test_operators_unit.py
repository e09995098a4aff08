"""Unit tests for operator internals not covered by the oracle gate:
the distributed components loop vs driver union-find, asof directions,
salted-join parity, LSH recall, multimodal stubs."""

from __future__ import annotations

import pytest

from ebike_spark.operators.corpus import _driver_union_find, connected_components
from ebike_spark.operators.joins import asof_join, salted_join
from ebike_spark.operators.multimodal import decode_image
from ebike_spark.sources.io import read_jdbc_stub
from tests.conftest import SF_DIR


@pytest.mark.slow
def test_distributed_components_equal_union_find(spark):
    edges = [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (20, 21), (3, 20)]
    df = spark.createDataFrame(edges, "d1 long, d2 long")
    dist = {(r["doc_id"], r["cluster_id"]) for r in connected_components(df).collect()}
    local = set(_driver_union_find(edges))
    assert dist == local
    # {1,2,3,20,21} → 1 ; {10,11,12} → 10
    assert dict(local)[21] == 1 and dict(local)[12] == 10


def _star_shapes_edges():
    """Adversarial component shapes for the star operators: a long
    path (max label-propagation distance), a hub star, a clique, a
    3-cycle, isolated self-loop nodes, and a seeded random graph."""
    import random

    rng = random.Random(12)
    edges = [(i, i + 1) for i in range(100, 140)]          # 41-node path
    edges += [(200, x) for x in range(201, 220)]           # star
    edges += [(a, b) for a in range(300, 308) for b in range(a + 1, 308)]
    edges += [(330, 331), (331, 332), (332, 330)]          # cycle
    edges += [(350, 350), (351, 351)]                      # self-loops
    edges += [
        (rng.randrange(400, 470), rng.randrange(400, 470)) for _ in range(80)
    ]
    return edges


@pytest.mark.slow
def test_star_components_equal_union_find(spark):
    from ebike_spark.operators.corpus import connected_components_star

    edges = _star_shapes_edges()
    df = spark.createDataFrame(edges, "d1 long, d2 long")
    dist = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components_star(df).collect()
    }
    assert dist == set(_driver_union_find(edges))


@pytest.mark.slow
def test_star_components_never_collect_edges(spark, monkeypatch):
    """The 100 TB claim of connected_components_star: NO step collects
    edges — every driver-side fetch during the iterative build is the
    1-row convergence signature. Wrap the CLASSIC DataFrame.collect —
    the concrete class a local session hands out, whose first()/take()
    funnel through it (patching the abstract pyspark.sql.DataFrame is
    a no-op: the subclass shadows it) — and assert every call inside
    the operator returned at most one row."""
    from pyspark.sql.classic.dataframe import DataFrame as _DF

    from ebike_spark.operators.corpus import connected_components_star

    orig = _DF.collect
    sizes: list[int] = []

    def guarded(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(_DF, "collect", guarded)
    df = spark.createDataFrame(_star_shapes_edges(), "d1 long, d2 long")
    out = connected_components_star(df)
    assert sizes, "convergence checks should have fetched scalars"
    assert max(sizes) <= 1, (
        f"an iteration collected {max(sizes)} rows — edges reached the"
        " driver"
    )
    monkeypatch.undo()
    # result is still correct after the guard is lifted
    assert {(r["doc_id"], r["cluster_id"]) for r in out.collect()} == set(
        _driver_union_find(_star_shapes_edges())
    )


def test_asof_forward_direction(spark):
    left = spark.createDataFrame([(1, 100, 10), (1, 200, 20)], "g long, t long, lv long")
    right = spark.createDataFrame(
        [(1, 150, 5.0), (1, 200, 7.0), (1, 300, 9.0)], "g long, t long, rv double"
    )
    out = asof_join(left, right, on="t", by="g", right_cols=["t", "rv"], direction="forward")
    got = {r["t"]: (r["asof_t"], r["asof_rv"]) for r in out.collect()}
    # t=100 → next right at-or-after is 150; t=200 → exact tie matches 200
    assert got == {100: (150, 5.0), 200: (200, 7.0)}


def test_asof_backward_no_match_is_null(spark):
    left = spark.createDataFrame([(1, 50, 1)], "g long, t long, lv long")
    right = spark.createDataFrame([(1, 100, 2.0)], "g long, t long, rv double")
    out = asof_join(left, right, on="t", by="g", right_cols=["rv"]).collect()
    assert out[0]["asof_rv"] is None


def test_asof_rejects_bad_direction(spark):
    left = spark.createDataFrame([(1, 1, 1)], "g long, t long, lv long")
    with pytest.raises(ValueError):
        asof_join(left, left, on="t", by="g", right_cols=["lv"], direction="sideways")


def test_salted_join_matches_plain_join(spark):
    from ebike_spark.sources.registry import load_table

    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer")
    plain = o.join(c, o.o_custkey == c.c_custkey).count()
    salted = salted_join(o, c, "o_custkey", "c_custkey", salt=4).count()
    assert plain == salted


def test_lsh_ann_recall_beats_random(spark):
    """LSH ANN recall property: in this corpus the true neighbors sit at
    cos≈0.5 — barely above background — the hardest regime for
    sign-LSH (measured: radius-4 multi-probe touches ~19% of vectors for
    ~0.3 recall). The honest invariant is that the probed bucket set is
    *enriched* in true neighbors: recall must clearly exceed the probed
    fraction (random sampling's expected recall), and be nonzero."""
    from ebike_spark.operators.similarity import _exact_topk_ids, _lsh_probe
    from ebike_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    exact = [r["vec_id"] for r in _exact_topk_ids(spark, SF_DIR).collect()]
    topk, counts = _lsh_probe(spark, SF_DIR)
    approx = [r["vec_id"] for r in topk.collect()]
    recall = len(set(exact) & set(approx)) / len(exact)
    c = counts.collect()[0]
    probed_fraction = c["probed"] / c["total"]
    assert probed_fraction < 0.5, "probing most of the corpus isn't ANN"
    assert recall > probed_fraction, (recall, probed_fraction)
    assert recall > 0
    # the registered query (exact-oracled since r10) returns the same
    # retrieved set this probe pipeline produced
    rows = REGISTRY["ann_lsh_topk"].fn(spark, SF_DIR).collect()
    assert [r["vec_id"] for r in rows] == approx


def test_ivf_ann_recall_beats_lsh(spark):
    """IVF with learned centroids must beat sign-LSH in this corpus'
    near-background-similarity regime, and probe a bounded fraction."""
    from ebike_spark.operators.similarity import (
        IVF_CLUSTERS,
        IVF_PROBES,
        _exact_topk_ids,
        _ivf_topk_ids,
        _lsh_probe,
    )
    from ebike_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    exact = [r["vec_id"] for r in _exact_topk_ids(spark, SF_DIR).collect()]
    ivf = [r["vec_id"] for r in _ivf_topk_ids(spark, SF_DIR).collect()]
    lsh = [r["vec_id"] for r in _lsh_probe(spark, SF_DIR)[0].collect()]
    r_ivf = len(set(exact) & set(ivf)) / len(exact)
    r_lsh = len(set(exact) & set(lsh)) / len(exact)
    assert r_ivf >= r_lsh, (r_ivf, r_lsh)
    assert r_ivf >= 0.4, (r_ivf, ivf, exact)
    assert IVF_PROBES / IVF_CLUSTERS <= 0.5
    # the registered verdict query asserts the per-fixture bound
    row = REGISTRY["ann_ivf_topk"].fn(spark, SF_DIR).collect()[0]
    assert row["recall_ge_sf_bound"] and row["probe_frac_le_half"]


def test_multimodal_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...")


def test_jdbc_stub_documents_shape(spark):
    with pytest.raises(NotImplementedError):
        read_jdbc_stub(spark, "jdbc:mysql://host/db", "t")


def test_jaccard_cap_keeps_pair_with_rare_shingle(spark):
    """Constructed corpus: docs 1/2 are near-identical (share rare
    shingles), docs 3..10 all carry one boilerplate shingle. With a cap
    that marks the boilerplate shingle as a stop-shingle, the true pair
    must survive (its rare shingles generate the candidate) and its
    jaccard must be computed on the FULL sets, not the capped ones."""
    import pyspark.sql.functions as F

    from ebike_spark.operators.dedup import jaccard_pairs

    rows = []
    for s in ("alpha beta", "beta gamma", "gamma delta", "BOILER"):
        rows.append((1, s))
    for s in ("alpha beta", "beta gamma", "gamma delta", "epsilon zeta"):
        rows.append((2, s))
    for d in range(3, 11):
        rows.append((d, "BOILER"))
        rows.append((d, f"unique-{d}"))
    sh = spark.createDataFrame(rows, "doc_id long, s string")
    out = {(r["d1"], r["d2"]): r["jaccard"] for r in jaccard_pairs(sh, 0.5, df_cap=3).collect()}
    # jaccard(1,2) = 3/5 = 0.6 over FULL sets (BOILER counts in the union)
    assert out == {(1, 2): 0.6}
    # sanity: uncapped finds the same pair set at this threshold
    unc = {(r["d1"], r["d2"]): r["jaccard"] for r in jaccard_pairs(sh, 0.5).collect()}
    assert unc == out


def test_jaccard_cap_guard_raises_on_all_stop_pair(spark):
    """Guard true positive: two near-identical docs built ENTIRELY of
    boilerplate shingles (each shingle df > cap) form a >=t pair whose
    every shared shingle is a stop — capped candidate generation would
    miss it, so jaccard_pairs must raise rather than under-report."""
    from ebike_spark.operators.dedup import jaccard_pairs

    rows = []
    # 6 docs all sharing {S1, S2}: df(S1)=df(S2)=6 > cap 3; every pair
    # has jaccard 1.0 with an all-stop intersection.
    for d in range(1, 7):
        rows.append((d, "S1"))
        rows.append((d, "S2"))
    sh = spark.createDataFrame(rows, "doc_id long, s string")
    with pytest.raises(ValueError, match="unsound"):
        jaccard_pairs(sh, 0.5, df_cap=3).collect()


def test_pq_adc_recall_and_code_width(spark):
    """PQ ADC sanity: recall@10 vs the exact L2 top-10 must be well
    above random (10/N ≈ 2%) even with the tiny deterministic 8×8 seed
    codebook (measured 0.3-0.4; trained 256-codeword books recall far
    higher — ann_ivf shows the learned path). Packed codes must fit
    PQ_M×3 bits."""
    import pyspark.sql.functions as F

    from ebike_spark.operators.similarity import PQ_M, QUERY_VEC_ID, TOP_K, _query_vec
    from ebike_spark.plans.registry import REGISTRY, _load_all
    from ebike_spark.sources.registry import load_table

    _load_all()
    qv = F.lit(_query_vec(spark, SF_DIR)).cast("array<double>")
    e = load_table(spark, SF_DIR, "embeddings").where(F.col("vec_id") != QUERY_VEC_ID)
    d2 = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"), qv, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = [
        r["vec_id"]
        for r in e.select("vec_id", d2.alias("d")).orderBy("d", "vec_id").limit(TOP_K).collect()
    ]
    adc = [r["vec_id"] for r in REGISTRY["ann_pq_adc_topk"].fn(spark, SF_DIR).collect()]
    recall = len(set(exact) & set(adc)) / TOP_K
    assert recall >= 0.2, recall

    codes = REGISTRY["embed_pq_encode"].fn(spark, SF_DIR)
    bad = codes.where(
        (F.col("pq_code") < 0) | (F.col("pq_code") >= F.lit(1 << (3 * PQ_M)))
    ).count()
    assert bad == 0
    # seed vectors reconstruct themselves exactly: zero error, and code
    # packs (k, k, ..., k) for seed k
    seed = {r["vec_id"]: (r["pq_code"], r["recon_err"]) for r in codes.where(F.col("vec_id") < 8).collect()}
    for k, (code, err) in seed.items():
        assert err == 0.0
        assert code == sum(k << (3 * m) for m in range(PQ_M))


def test_semdedup_blocked_equals_single_gemm(spark):
    """The blocked GEMM must produce the identical pair set for any
    block size: block=64 forces multi-chunk clusters at sf0.001 (≥8
    chunk-pairs somewhere), block=10**9 is the single-GEMM degenerate
    case."""
    from ebike_spark.operators.semdedup import semantic_dedup_pairs

    one = sorted(map(tuple, semantic_dedup_pairs(spark, SF_DIR, block=10**9).collect()))
    blk = sorted(map(tuple, semantic_dedup_pairs(spark, SF_DIR, block=64).collect()))
    assert blk == one and len(one) > 0


def test_semdedup_task_memory_bound(spark):
    """No chunk-pair group may ship more than 2·block vectors — the
    per-task memory invariant that makes semdedup safe on skewed or
    oversized clusters."""
    import pyspark.sql.functions as F

    from ebike_spark.operators.semdedup import _tagged_members

    block = 64
    grouped = (
        _tagged_members(spark, SF_DIR, block)
        .groupBy("cluster_id", "ca", "cb")
        .agg(F.count("*").alias("n"))
    )
    mx = grouped.agg(F.max("n").alias("m")).first()["m"]
    assert mx is not None and mx <= 2 * block
    # and blocking actually engaged (some cluster has >1 chunk)
    assert grouped.where(F.col("ca") != F.col("cb")).count() > 0


def test_jaccard_cap_equivalence_on_corpus(spark):
    """Capped and uncapped registered-path results agree on the test
    corpus even with an aggressive cap (every true pair shares at least
    one sub-cap shingle here)."""
    from ebike_spark.operators.dedup import JACCARD_THRESHOLD, jaccard_pairs, shingle_set

    sh = shingle_set(spark, SF_DIR).persist()
    try:
        unc = sorted(map(tuple, jaccard_pairs(sh, JACCARD_THRESHOLD).collect()))
        cap = sorted(map(tuple, jaccard_pairs(sh, JACCARD_THRESHOLD, df_cap=10).collect()))
        assert unc == cap and len(unc) > 0
    finally:
        sh.unpersist()


def test_embedding_lsh_candidates_capture_all_true_pairs(spark):
    """The seeded multi-table LSH candidate set must contain every
    ≥-threshold pair (exact recall is what lets the registered query
    hash-match the brute-force oracle)."""
    import numpy as np
    import pyspark.sql.functions as F

    from ebike_spark.operators.dedup import EMBED_COS_THRESHOLD, embedding_candidates
    from ebike_spark.sources.registry import load_table

    e = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    rows = e.collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([r["v"] for r in rows], dtype=np.float64)
    U = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = U @ U.T
    iu = np.triu_indices(len(ids), 1)
    m = S[iu] >= EMBED_COS_THRESHOLD
    true_pairs = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[iu[0][m]], ids[iu[1][m]])
    }
    cand = {(r["v1"], r["v2"]) for r in embedding_candidates(e).collect()}
    assert true_pairs <= cand


# --------------------------------------------------------- curation ops


def test_decontaminate_flags_planted_overlap(spark):
    """Constructed corpus: train doc 100 shares a 5-token run with eval
    doc 97 (doc_id % 97 == 0); doc 5 shares nothing. Exactly the
    planted doc is flagged, with the exact distinct-overlap count."""
    import pyspark.sql.functions as F

    from ebike_spark.operators.curation import DECON_N, _ngrams

    run = "alpha beta gamma delta epsilon"  # one shared 5-gram
    rows = [
        (97, f"{run} zeta eta theta iota kappa"),          # eval doc
        (100, f"noise1 noise2 {run} noise3 noise4"),        # contaminated train
        (5, "a b c d e f g h i j"),                         # clean train
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ng = _ngrams(docs, DECON_N)
    is_eval = F.col("doc_id") % 97 == 0
    eval_g = ng.where(is_eval).select("g").distinct()
    train_g = ng.where(~is_eval).select("doc_id", "g").distinct()
    hits = (
        train_g.join(F.broadcast(eval_g), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
        .collect()
    )
    assert {(r["doc_id"], r["n_hits"]) for r in hits} == {(100, 1)}


def test_pack_sequences_invariants(spark):
    """Offsets live in [0, CTX); within a stream seq_id/offset encode a
    gapless running sum in doc_id order."""
    from ebike_spark.operators.curation import PACK_CTX, corpus_pack_sequences
    from ebike_spark.sources.registry import load_table

    import pyspark.sql.functions as F

    out = {
        (r["lang"], r["doc_id"]): (r["seq_id"], r["tok_offset"])
        for r in corpus_pack_sequences(spark, SF_DIR).collect()
    }
    toks = {
        (r["lang"], r["doc_id"]): r["n"]
        for r in load_table(spark, SF_DIR, "documents")
        .select("lang", "doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    assert set(out) == set(toks)
    by_lang: dict = {}
    for (lang, doc), v in sorted(out.items()):
        by_lang.setdefault(lang, []).append((doc, v))
    for lang, docs in by_lang.items():
        cum = 0
        for doc, (seq, off) in docs:  # sorted by doc_id
            assert 0 <= off < PACK_CTX
            assert (seq, off) == divmod(cum, PACK_CTX), (lang, doc)
            cum += toks[(lang, doc)]


def test_repetition_extremes(spark):
    """All-identical tokens → rep3 = 1 − 1/n_g, top_share = 1; an
    all-distinct doc → rep3 = 0, top_share = 1/n."""
    from ebike_spark.plans.registry import REGISTRY

    # build through the registered query's internals on a tiny frame
    import pyspark.sql.functions as F

    from ebike_spark.operators.curation import _ngrams
    from ebike_spark.functions.textfns import tokens

    docs = spark.createDataFrame(
        [(1, "x x x x x x"), (2, "a b c d e f")], "doc_id long, text string"
    )
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    tt = (
        tok.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
        .groupBy("doc_id").agg(F.sum("c").alias("n_tok"), F.max("c").alias("top_c"))
    )
    ngs = (
        _ngrams(docs, 3).groupBy("doc_id")
        .agg(F.count("*").alias("n_g"), F.count_distinct("g").alias("n_dg"))
    )
    got = {
        r["doc_id"]: (r["rep3"], r["top_share"])
        for r in tt.join(ngs, "doc_id").select(
            "doc_id",
            F.round(1.0 - F.col("n_dg") * 1.0 / F.col("n_g"), 4).alias("rep3"),
            F.round(F.col("top_c") * 1.0 / F.col("n_tok"), 4).alias("top_share"),
        ).collect()
    }
    assert got[1] == (round(1 - 1 / 4, 4), 1.0)  # 4 trigrams, all equal
    assert got[2] == (0.0, round(1 / 6, 4))


def test_quantize_error_bounded_by_half_scale(spark):
    """Round-to-nearest int8: every vector's max reconstruction error
    must be ≤ scale/2 (plus the 6dp output-rounding slack: both values
    round independently, worst case ±7.5e-7 on the comparison)."""
    from ebike_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    rows = REGISTRY["embed_quantize_int8"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["max_err"] <= r["scale"] / 2 + 1e-6, r


def test_persist_scoped_reuses_identical_plan_rebuilds_on_change(spark):
    """Same (session, tag) + same plan → the warm cache object is
    served; a different plan under the tag → rebuild, never stale, and
    the replaced frame is unpersisted: the session holds one cached
    RDD per tag, however often the tag is replaced."""
    from ebike_spark.artifacts import persisted

    jsc = spark.sparkContext._jsc
    c1 = persisted(spark, "unit_test_tag", spark.range(10).selectExpr("id*2 AS x"))
    assert c1.count() == 10
    live = jsc.getPersistentRDDs().size()
    c2 = persisted(spark, "unit_test_tag", spark.range(10).selectExpr("id*2 AS x"))
    assert c2 is c1
    c3 = persisted(spark, "unit_test_tag", spark.range(11).selectExpr("id*2 AS x"))
    assert c3 is not c1 and c3.count() == 11
    assert jsc.getPersistentRDDs().size() == live
    c3.unpersist()


def test_store_keys_on_session_and_result_confs(spark):
    """An artifact stored in one session is never served to
    ``spark.newSession()``, and a flip of the time zone or of ANSI mode
    misses, for memoized values and keyed persisted frames alike;
    restoring the conf finds the original entry again."""
    from ebike_spark.artifacts import memo, persisted

    builds = []

    def build():
        builds.append(len(builds) + 1)
        return builds[-1]

    def frame():
        return spark.range(3)

    key = ("unit_test_store", SF_DIR)
    assert memo(spark, key, build) == 1
    cached = persisted(spark, "unit_test_store", frame, key=SF_DIR)
    assert memo(spark, key, build) == 1
    assert persisted(spark, "unit_test_store", frame, key=SF_DIR) is cached
    child = spark.newSession()
    assert memo(child, key, build) == 2
    assert persisted(child, "unit_test_store", frame, key=SF_DIR) is not cached
    for conf, flipped, n in (
        ("spark.sql.session.timeZone", "America/Los_Angeles", 3),
        ("spark.sql.ansi.enabled", "true", 4),
    ):
        before = spark.conf.get(conf)
        spark.conf.set(conf, flipped)
        try:
            assert memo(spark, key, build) == n, conf
            assert persisted(spark, "unit_test_store", frame, key=SF_DIR) is not cached, conf
        finally:
            spark.conf.set(conf, before)
    assert memo(spark, key, build) == 1
    for p in (child, spark):
        persisted(p, "unit_test_store", frame, key=SF_DIR).unpersist()


def test_band_index_rebuilt_when_its_directory_is_deleted(spark):
    """The persisted LSH band index is memoized per (session, corpus)
    with a directory re-check: deleting the directory makes the next
    lookup rebuild it instead of handing out a path that no longer
    exists."""
    import os
    import shutil

    from ebike_spark.operators.dedup import _lsh_band_index

    path, cutoff = _lsh_band_index(spark, SF_DIR)
    assert _lsh_band_index(spark, SF_DIR) == (path, cutoff)
    shutil.rmtree(path)
    rebuilt, again = _lsh_band_index(spark, SF_DIR)
    assert rebuilt != path and os.path.isdir(rebuilt) and again == cutoff
    assert spark.read.parquet(rebuilt).count() > 0


def test_range_join_boundaries_and_overlaps(spark):
    """lo inclusive, hi exclusive; a point inside two overlapping
    intervals matches both; bin-edge-straddling intervals match points
    in their second bin (the two-bin explode)."""
    from ebike_spark.operators.range_join import range_join

    pts = spark.createDataFrame(
        [(10,), (99,), (100,), (150,), (250,)], "t long"
    )
    ivs = spark.createDataFrame(
        [("a", 10, 100), ("b", 50, 150), ("c", 90, 190)],
        "iv string, lo long, hi long",
    )
    out = range_join(pts, ivs, "t", "lo", "hi", bin_us=100)
    got = sorted((r["t"], r["iv"]) for r in out.collect())
    assert got == [
        (10, "a"),            # lo inclusive
        (99, "a"), (99, "b"), (99, "c"),  # overlapping intervals all match
        (100, "b"), (100, "c"),  # hi of a is exclusive; b/c straddle the bin edge
        (150, "c"),           # hi of b is exclusive
    ]  # 250 is in no interval


def test_range_join_single_bin_interval_no_duplicates(spark):
    """An interval inside one bin explodes to one bin id — a contained
    point must match exactly once."""
    from ebike_spark.operators.range_join import range_join

    pts = spark.createDataFrame([(25,)], "t long")
    ivs = spark.createDataFrame([("a", 20, 30)], "iv string, lo long, hi long")
    out = range_join(pts, ivs, "t", "lo", "hi", bin_us=100).collect()
    assert len(out) == 1


@pytest.mark.slow
def test_containment_subset_pair_scores_one(spark):
    """A short doc wholly embedded in a long one: containment = 1.0
    while jaccard is diluted below threshold — the metric's reason to
    exist. Capped and uncapped paths agree."""
    from ebike_spark.operators.dedup import containment_pairs, jaccard_pairs

    rows = [(1, f"small-{i}") for i in range(4)]
    rows += [(2, f"small-{i}") for i in range(4)]
    rows += [(2, f"big-{i}") for i in range(16)]
    sh = spark.createDataFrame(rows, "doc_id long, s string")
    out = {(r["d1"], r["d2"]): r["containment"] for r in containment_pairs(sh, 0.9).collect()}
    assert out == {(1, 2): 1.0}
    cap = {
        (r["d1"], r["d2"]): r["containment"]
        for r in containment_pairs(sh, 0.9, df_cap=3).collect()
    }
    assert cap == out
    # jaccard on the same pair is 4/20 = 0.2 — invisible at any real threshold
    assert jaccard_pairs(sh, 0.5).where("d1 = 1 AND d2 = 2").count() == 0


def test_containment_guard_raises_on_all_stop_pair(spark):
    """Guard true positive: docs made entirely of stop-shingles form a
    >=t containment pair invisible to capped candidates — must raise."""
    from ebike_spark.operators.dedup import containment_pairs

    rows = []
    for d in range(1, 7):
        rows.append((d, "S1"))
        rows.append((d, "S2"))
    sh = spark.createDataFrame(rows, "doc_id long, s string")
    with pytest.raises(ValueError, match="containment df_cap"):
        containment_pairs(sh, 0.9, df_cap=3).collect()


def test_containment_guard_covers_asymmetric_missed_pair(spark):
    """Containment-specific guard case jaccard's risky×risky stage would
    miss: the SMALL doc is all-stops (risky), the BIG doc has plenty of
    rare shingles so its own stop-share is far below t — yet the pair's
    containment is 1.0 and every shared shingle is a stop. The guard
    must still raise (risky × all-stop-bearing join)."""
    from ebike_spark.operators.dedup import containment_pairs

    rows = []
    # stops: S1, S2 appear in docs 1..6 (df=6 > cap=3)
    for d in range(1, 7):
        rows.append((d, "S1"))
        rows.append((d, "S2"))
    # doc 1 is ONLY stops (small, risky). doc 2 carries 20 rare
    # shingles: stop-share 2/22 << 0.9, not risky by itself.
    for i in range(20):
        rows.append((2, f"rare-{i}"))
    sh = spark.createDataFrame(rows, "doc_id long, s string")
    with pytest.raises(ValueError, match="containment df_cap"):
        containment_pairs(sh, 0.9, df_cap=3).collect()


def test_containment_cap_equivalence_on_corpus(spark):
    from ebike_spark.operators.dedup import (
        CONTAINMENT_THRESHOLD,
        containment_pairs,
        shingle_set,
    )

    sh = shingle_set(spark, SF_DIR).persist()
    try:
        unc = sorted(map(tuple, containment_pairs(sh, CONTAINMENT_THRESHOLD).collect()))
        cap = sorted(
            map(tuple, containment_pairs(sh, CONTAINMENT_THRESHOLD, df_cap=10).collect())
        )
        assert unc == cap and len(unc) > 0
    finally:
        sh.unpersist()


def test_incremental_dedup_matches_ground_truth(spark):
    """dedup_incremental survivors == batch docs minus docs with ANY
    >=t jaccard neighbor at a smaller id, per the full uncapped pair
    ground truth."""
    import math

    import pyspark.sql.functions as F

    from ebike_spark.operators.dedup import (
        INCREMENT_FRACTION,
        JACCARD_THRESHOLD,
        jaccard_pairs,
        shingle_set,
    )
    from ebike_spark.plans.registry import REGISTRY
    from ebike_spark.sources.registry import load_table

    docs = load_table(spark, SF_DIR, "documents")
    mx = docs.agg(F.max("doc_id")).first()[0]
    cutoff = int(math.ceil((1.0 - INCREMENT_FRACTION) * (mx + 1)))
    batch = {r["doc_id"] for r in docs.where(F.col("doc_id") >= cutoff).collect()}
    pairs = jaccard_pairs(shingle_set(spark, SF_DIR), JACCARD_THRESHOLD).collect()
    dropped = {r["d2"] for r in pairs if r["d2"] >= cutoff}
    got = {r["doc_id"] for r in REGISTRY["dedup_incremental"].fn(spark, SF_DIR).collect()}
    assert got == batch - dropped
    assert len(dropped & batch) > 0  # the filter actually fires at this SF


def test_knn_join_equals_bruteforce(spark):
    """The pruned+refined kNN join must equal the exact brute-force
    crossJoin answer (same cosine expression, same tiebreak) for every
    query."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from ebike_spark.functions.textfns import cosine_sim
    from ebike_spark.operators.similarity import N_QUERIES, TOP_K
    from ebike_spark.plans.registry import REGISTRY
    from ebike_spark.sources.registry import load_table

    e = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = e.where(F.col("vec_id") >= N_QUERIES)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_c"), "vec_id"
    )
    brute = (
        c.crossJoin(q)
        .select("query_id", "vec_id", cosine_sim(F.col("v"), F.col("qv")).alias("_c"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "vec_id", F.round("_c", 4).alias("cos"))
    )
    got = sorted(map(tuple, REGISTRY["ann_knn_join"].fn(spark, SF_DIR).collect()))
    want = sorted(map(tuple, brute.collect()))
    assert got == want and len(got) == N_QUERIES * TOP_K


def test_gapfill_grid_is_dense_and_locf_monotone(spark):
    """Invariants beyond the oracle: (a) the grid is DENSE — every
    (hour, type) cell between global min and max hour appears exactly
    once; (b) a filled row never changes the LOCF value seen by the
    previous real row (carry-forward, not interpolation)."""
    from ebike_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    rows = REGISTRY["ev_gapfill_locf"].fn(spark, SF_DIR).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    hours = sorted({r["win_start"] for r in rows})
    assert hours == list(range(min(hours), max(hours) + 3600, 3600))
    for tp, rs in by_type.items():
        rs.sort(key=lambda r: r["win_start"])
        assert len(rs) == len(hours), tp  # dense per type
        prev = 0.0
        for r in rs:
            if r["filled"]:
                assert r["n"] == 0
                assert r["total_locf"] == prev, (tp, r)
            prev = r["total_locf"]


def test_hierarchical_rollup_levels_are_consistent(spark):
    """Reaggregation exactness: each level's (count, total) sums equal
    the level below's — the decomposable-aggregate contract."""
    from collections import defaultdict

    from ebike_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    rows = REGISTRY["ev_hierarchical_rollup"].fn(spark, SF_DIR).collect()
    sums = defaultdict(lambda: [0, 0.0])
    for r in rows:
        s = sums[r["level"]]
        s[0] += r["n"]
    assert sums["minute"][0] == sums["hour"][0] == sums["day"][0]


def test_concurrency_matches_single_partition_window(spark):
    """The distributed prefix sum must equal the naive global-window
    computation value-for-value (the decomposition is exact)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from ebike_spark.plans.registry import REGISTRY
    from ebike_spark.plans.timeseries import HOUR_US, PRESENCE_US
    from ebike_spark.sources.registry import load_table

    fast = {
        (r["hour_start"]): (r["peak_concurrency"], r["n_deltas"])
        for r in REGISTRY["ev_concurrency"].fn(spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    deltas = ev.select(F.unix_micros("ts").alias("t"), F.lit(1).alias("d"), "event_id").unionByName(
        ev.select((F.unix_micros("ts") + F.lit(PRESENCE_US)).alias("t"), F.lit(-1).alias("d"), "event_id")
    )
    w = Window.orderBy("t", "d", "event_id").rowsBetween(Window.unboundedPreceding, 0)
    naive = (
        deltas.withColumn("conc", F.sum("d").over(w))
        .groupBy((F.expr(f"t div {HOUR_US}") * 3600).alias("h"))
        .agg(F.max("conc").alias("p"), F.count("*").alias("n"))
        .collect()
    )
    assert fast == {r["h"]: (r["p"], r["n"]) for r in naive}


def test_scd2_intervals_tile_per_user(spark):
    """Per user: intervals are disjoint, consecutive (each valid_to ==
    next valid_from), types alternate at boundaries, and exactly one
    open interval exists."""
    from collections import defaultdict

    from ebike_spark.plans.registry import REGISTRY

    rows = REGISTRY["ev_scd2_intervals"].fn(spark, SF_DIR).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r["valid_from"])
        assert sum(1 for r in rs if r["is_current"]) == 1
        assert rs[-1]["is_current"] and rs[-1]["valid_to"] is None
        for a, b in zip(rs, rs[1:]):
            assert a["valid_to"] == b["valid_from"], uid
            assert a["event_type"] != b["event_type"], uid


def test_weighted_sample_includes_max_weight_doc(spark):
    """P(keep) = w/max(w) ⇒ every maximum-weight document is kept with
    probability 1 (u*max < max*GRAIN always) — a deterministic anchor
    the oracle can't distinguish from luck."""
    import pyspark.sql.functions as F

    from ebike_spark.plans.registry import REGISTRY
    from ebike_spark.sources.registry import load_table

    docs = load_table(spark, SF_DIR, "documents")
    mx = docs.agg(F.max("n_chars")).collect()[0][0]
    picked = REGISTRY["sample_weighted"].fn(spark, SF_DIR).collect()
    total_sampled = sum(r["n_sampled"] for r in picked)
    n_max_docs = docs.where(F.col("n_chars") == mx).count()
    assert total_sampled >= n_max_docs > 0


def test_hll_active_users_tracks_exact(spark):
    """The HLL query now emits (exact count, within-5% verdict) per
    bucket: buckets must equal the exact twin's day/month set, counts
    must match it exactly, and every sketch verdict must be True (the
    estimate itself is asserted inside the query — a drifting sketch
    flips the boolean and fails here AND in the external oracle)."""
    from ebike_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    exact = {
        (r["level"], r["bucket_start"]): r["n_active"]
        for r in REGISTRY["ev_active_users"].fn(spark, SF_DIR).collect()
        if r["level"] in ("day", "month")
    }
    got = REGISTRY["ev_active_users_hll"].fn(spark, SF_DIR).collect()
    assert {(r["level"], r["bucket_start"]) for r in got} == set(exact)
    for r in got:
        k = (r["level"], r["bucket_start"])
        assert r["n_active_exact"] == exact[k], (k, r["n_active_exact"], exact[k])
        assert r["est_within_2pct"] is True, k


def test_sliding_funnel_dominates_first_anchor(spark):
    """ev_funnel_sliding maxes depth over ANY stage-1 anchor, so each
    user's level is >= their ev_funnel_windowed (first-anchor) depth:
    cumulative users at every stage must dominate, and stage-1 totals
    (any view at all) must be identical."""
    from ebike_spark.plans.timeseries import ev_funnel_sliding, ev_funnel_windowed

    win = {
        r["stage_idx"]: r["n_users"]
        for r in ev_funnel_windowed(spark, SF_DIR).collect()
    }
    lvl = {r["level"]: r["n_users"] for r in ev_funnel_sliding(spark, SF_DIR).collect()}
    cum = {k: sum(n for l, n in lvl.items() if l >= k) for k in (1, 2, 3)}
    assert cum[1] == win.get(1, 0)
    for k in (2, 3):
        assert cum[k] >= win.get(k, 0)


def test_token_budget_quotas_sum_exactly(spark):
    """Largest-remainder apportionment is exact: quotas sum to the
    budget (floor shares + remainder top-ups), never off-by-rounding."""
    from ebike_spark.plans.registry import REGISTRY
    from tests.conftest import SF_DIR
    import pyspark.sql.functions as F

    df = REGISTRY["corpus_token_budget_plan"].fn(spark, SF_DIR)
    agg = df.agg(
        F.sum("quota_tokens").alias("q"), F.sum("n_tokens").alias("t")
    ).collect()[0]
    assert agg["q"] == agg["t"] // 2
    # every quota within 1 unit of its exact proportional share
    rows = df.collect()
    total = agg["t"]
    budget = total // 2
    for r in rows:
        exact = budget * r["n_tokens"] / total
        assert abs(r["quota_tokens"] - exact) < 1.0


def test_kmeans_lloyd_is_deterministic(spark):
    """Integer arithmetic end-to-end: two independent runs produce
    bit-identical cluster stats (float k-means never does)."""
    from ebike_spark.operators.kmeans import embed_kmeans_lloyd

    a = sorted(map(tuple, embed_kmeans_lloyd(spark, SF_DIR).collect()))
    b = sorted(map(tuple, embed_kmeans_lloyd(spark, SF_DIR).collect()))
    assert a == b
    assert len(a) == 8


@pytest.mark.slow
def test_kmeans_converged_reaches_fixed_point(spark):
    """The converged variant terminates before the cap, partitions the
    whole corpus, and its WSS is no worse than the 2-iteration run
    (more Lloyd steps never end on a worse clustering here)."""
    import pyspark.sql.functions as F

    from ebike_spark.operators.kmeans import (
        converged_cluster_stats,
        embed_kmeans_converged,
        embed_kmeans_lloyd,
    )
    from ebike_spark.sources.registry import load_table

    stats, n_iter, converged = converged_cluster_stats(spark, SF_DIR)
    rows = stats.collect()
    assert len(rows) == 8
    assert converged and 2 <= n_iter < 25
    n_total = load_table(spark, SF_DIR, "embeddings").count()
    assert sum(r["n_members"] for r in rows) == n_total
    wss_conv = sum(r["wss"] for r in rows)
    wss_2 = sum(r["wss"] for r in embed_kmeans_lloyd(spark, SF_DIR).collect())
    assert 0 < wss_conv <= wss_2
    # the registered verdict row asserts the same invariants, with the
    # trajectory length pinned to the per-fixture measured value
    v = embed_kmeans_converged(spark, SF_DIR).collect()[0]
    assert v["k"] == 8 and v["n_assigned"] == n_total
    assert v["n_iter_eq_expected"] and v["converged_as_expected"]


def test_fractional_attribution_conserves_credit(spark):
    """Hamilton apportionment is exact: total micro-credits across the
    3 channels equals conversions × CREDIT_UNITS for both models (the
    invariant float credit can't hold under summation order)."""
    import pyspark.sql.functions as F

    from ebike_spark.plans.attribution import CREDIT_UNITS
    from ebike_spark.plans.registry import REGISTRY, _load_all
    from ebike_spark.sources.registry import load_table

    _load_all()
    n_conv = (
        load_table(spark, SF_DIR, "events")
        .where(F.col("event_type") == "purchase")
        .count()
    )
    for name in ("ev_attribution_linear", "ev_attribution_position"):
        rows = REGISTRY[name].fn(spark, SF_DIR).collect()
        assert len(rows) == 3
        assert sum(r["micro_credits"] for r in rows) == n_conv * CREDIT_UNITS


@pytest.mark.slow
def test_pca_audit_properties(spark):
    """The PCA verdict booleans are all True, and the fitted model's
    eigen-spectrum agrees with the projection-pass variance split
    (top-k eigenvalue share == 1 - ssek/sse0 up to float tolerance)."""
    import numpy as np

    from ebike_spark.operators.pca import PCA_K, pca_model
    from ebike_spark.plans.registry import REGISTRY, _load_all
    from ebike_spark.sources.registry import load_table

    _load_all()
    row = REGISTRY["embed_pca_audit"].fn(spark, SF_DIR).collect()[0]
    assert row["var_captured_ok"] and row["orthonormal_ok"] and row["recon_improves"]
    emb = load_table(spark, SF_DIR, "embeddings")
    assert row["n_vectors"] == emb.count()
    n, mu, Uk, w = pca_model(spark, emb)
    w = np.array(w)  # descending
    assert np.all(np.diff(w) <= 1e-12)
    spectrum_share = w[:PCA_K].sum() / w.sum()
    assert 0.15 < spectrum_share < 0.6


def test_bloom_decontaminate_no_false_negatives(spark):
    """Row-wise flagged >= exact (Bloom guarantee), totals agree with
    text_decontaminate's exact hit count, and the test corpus actually
    exercises false positives (flagged > exact somewhere) so the
    filter semantics are observable, not vacuous."""
    from ebike_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    rows = REGISTRY["corpus_bloom_decontaminate"].fn(spark, SF_DIR).collect()
    assert all(r["n_bloom_flagged"] >= r["n_exact_hits"] for r in rows)
    exact_total = sum(r["n_exact_hits"] for r in rows)
    dec = REGISTRY["text_decontaminate"].fn(spark, SF_DIR).collect()
    assert exact_total == sum(r["n_hits"] for r in dec)
    assert sum(r["n_bloom_flagged"] for r in rows) > exact_total


def test_cms_never_underestimates(spark):
    """Count-Min invariant: estimate >= exact for every heavy hitter,
    and the estimates equal the exact counts read through the sketch
    (vocabulary is small enough here that min-over-rows mostly avoids
    collisions — the invariant, not collision presence, is the
    contract)."""
    from ebike_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    rows = REGISTRY["text_heavy_hitters_cms"].fn(spark, SF_DIR).collect()
    assert len(rows) == 10
    assert all(r["overestimate"] >= 0 for r in rows)
    assert all(
        r["cms_estimate"] == r["exact_count"] + r["overestimate"] for r in rows
    )


def test_bpe_learn_merges_matches_independent_trainer(spark):
    """text_bpe_learn_merges: the learned merge table equals an
    INDEPENDENT pure-Python BPE trainer over the same corpus with the
    same documented conventions (word-frequency reduction, count-DESC
    pair-ASC tie-break, space-padded single-pass replace), and the
    result is deterministic across invocations."""
    from collections import Counter

    from ebike_spark.operators.text_late import BPE_MERGES
    from ebike_spark.plans.registry import REGISTRY, _load_all
    from ebike_spark.sources.registry import load_table

    _load_all()
    texts = [
        r["text"]
        for r in load_table(spark, SF_DIR, "documents").select("text").collect()
    ]
    freq: Counter = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                freq[w] += 1
    vocab = {w: " ".join(w) for w in freq}
    want = []
    for k in range(1, BPE_MERGES + 1):
        pc: Counter = Counter()
        for w, s in vocab.items():
            parts = s.split(" ")
            for a, b in zip(parts, parts[1:]):
                pc[a + " " + b] += freq[w]
        pair, cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((k, pair, pair.replace(" ", ""), cnt))
        vocab = {
            w: (" " + s + " ")
            .replace(" " + pair + " ", " " + pair.replace(" ", "") + " ")
            .strip()
            for w, s in vocab.items()
        }
    fn = REGISTRY["text_bpe_learn_merges"].fn
    got = [
        (r["step"], r["pair"], r["merged"], r["cnt"])
        for r in sorted(fn(spark, SF_DIR).collect(), key=lambda r: r["step"])
    ]
    assert got == want
    again = [
        (r["step"], r["pair"], r["merged"], r["cnt"])
        for r in sorted(fn(spark, SF_DIR).collect(), key=lambda r: r["step"])
    ]
    assert again == got


def test_zorder_audit_bites_vs_roundrobin(spark):
    """io_zorder_layout's dims_cluster boolean must BITE: the
    registered z-clustered write passes (avg per-file span fraction
    <= 0.75 on BOTH dimensions), while the same data written
    round-robin (repartition(8), no clustering) measures ~1.0 on both
    and fails the same bound — the constant-TRUE trap control. Also:
    every file's z-interval is genuinely disjoint under the clustered
    write (the theorem the z_ranges_disjoint column compresses)."""
    import pyspark.sql.functions as F

    from ebike_spark.plans.registry import REGISTRY, _load_all
    from ebike_spark.sources.io_layout import _scratch_dir
    from ebike_spark.sources.registry import load_table

    _load_all()
    row = REGISTRY["io_zorder_layout"].fn(spark, SF_DIR).collect()[0]
    assert row["z_ranges_disjoint"] and row["dims_cluster"]

    ev = load_table(spark, SF_DIR, "events").select(
        F.col("user_id").cast("long").alias("uid"),
        F.unix_micros("ts").alias("te"),
    )
    # genuine PAIRWISE disjointness of the clustered files' z-intervals
    # (the operator's span-sum inequality is only a necessary
    # condition): re-run the clustered write and assert the sorted
    # per-file (z0, z1) intervals never overlap — range partitioning
    # keeps equal keys in one partition, so strict inequality holds
    from ebike_spark.sources.io_layout import (
        ZORDER_BITS,
        ZORDER_FILES,
        _z_terms,
    )

    g = ev.agg(F.min("uid"), F.max("uid"), F.min("te"), F.max("te")).first()
    umin, uspan = g[0], max(g[1] - g[0], 1)
    tmin, tspan = g[2], max(g[3] - g[2], 1)
    top = (1 << ZORDER_BITS) - 1
    z = F.expr(
        _z_terms(
            f"((uid - {umin}) * {top} DIV {uspan})",
            f"((te - {tmin}) * {top} DIV {tspan})",
            "spark",
        )
    )
    zpath = _scratch_dir("z_disjoint_probe")
    ev.select(z.alias("z")).repartitionByRange(ZORDER_FILES, "z").write.parquet(
        zpath
    )
    ivals = sorted(
        (r["z0"], r["z1"])
        for r in spark.read.parquet(zpath)
        .groupBy(F.input_file_name())
        .agg(F.min("z").alias("z0"), F.max("z").alias("z1"))
        .collect()
    )
    assert all(a1 < b0 for (_, a1), (b0, _) in zip(ivals, ivals[1:])), ivals
    path = _scratch_dir("rr_control")
    ev.repartition(8).write.parquet(path)
    back = spark.read.parquet(path).select(
        "uid", "te", F.input_file_name().alias("f")
    )
    pf = back.groupBy("f").agg(
        F.min("uid").alias("u0"),
        F.max("uid").alias("u1"),
        F.min("te").alias("t0"),
        F.max("te").alias("t1"),
    )
    r = pf.agg(
        (
            F.avg(F.col("u1") - F.col("u0"))
            / (F.max("u1") - F.min("u0"))
        ).alias("ufrac"),
        (
            F.avg(F.col("t1") - F.col("t0"))
            / (F.max("t1") - F.min("t0"))
        ).alias("tfrac"),
    ).collect()[0]
    assert r["ufrac"] > 0.75 and r["tfrac"] > 0.75, r  # control FAILS bound


def test_ppjoin_lossless_and_prunes(spark):
    """dedup_ppjoin's prefix+length filter on a constructed corpus:
    (1) LOSSLESS — the filtered pipeline returns exactly the pairs a
    pure-Python all-pairs jaccard finds at the threshold (including
    docs made entirely of shared boilerplate, the shape that forces
    jaccard_pairs' df_cap to raise its unsoundness guard); (2) it
    PRUNES — candidates are strictly fewer than token-sharing pairs
    (here every pair shares boilerplate, so sharing pairs = all
    pairs)."""
    from itertools import combinations

    from ebike_spark.operators.dedup import (
        PPJOIN_T_DEN,
        PPJOIN_T_NUM,
        _ppjoin_candidates,
        _ppjoin_index,
        ppjoin_pairs,
    )

    boiler = [f"B{i}" for i in range(6)]
    sets: dict[int, set[str]] = {}
    for d in range(20):
        rare = {f"r{d // 2}_{j}" for j in range(8)}  # docs 2k,2k+1 twin
        if d % 2:
            rare = set(list(sorted(rare))[:7]) | {f"x{d}"}  # near-identical
        sets[d] = set(boiler) | rare
    # two docs of PURE boilerplate — a 1.0-jaccard pair whose every
    # shared token is maximally frequent (worst case for df-capping)
    sets[20] = set(boiler)
    sets[21] = set(boiler)
    rows = [(d, s) for d, toks in sets.items() for s in toks]
    sh = spark.createDataFrame(rows, "doc_id long, s string")

    def jac(a: set, b: set) -> tuple[int, int]:
        c = len(a & b)
        return c, len(a) + len(b) - c

    want = set()
    for d1, d2 in combinations(sorted(sets), 2):
        c, u = jac(sets[d1], sets[d2])
        if PPJOIN_T_DEN * c >= PPJOIN_T_NUM * u:
            want.add((d1, d2, c, round(c / u, 4)))
    got = {
        (r["d1"], r["d2"], r["shared_shingles"], r["jaccard"])
        for r in ppjoin_pairs(sh).collect()
    }
    assert got == want and want, (sorted(got)[:5], sorted(want)[:5])
    assert (20, 21, 6, 1.0) in got  # the all-boilerplate pair survived
    idx = _ppjoin_index(sh)
    n_cand = _ppjoin_candidates(idx).count()
    sharing = sum(
        1
        for d1, d2 in combinations(sorted(sets), 2)
        if sets[d1] & sets[d2]
    )
    assert n_cand < sharing, (n_cand, sharing)
    assert n_cand >= len(want)  # candidates cover every true pair


def test_bpe_encode_accounting_consistent(spark):
    """text_bpe_encode: per-language subword accounting must be
    internally consistent with the raw corpus — total_words equals the
    whitespace word count per lang, total_subword_tokens sits between
    total_words (every word ≥1 token) and the per-lang char count
    (merges only shrink the char-split), avg = tokens/words exactly,
    and BPE_MERGES merges strictly reduce tokens below the unmerged
    char count (the merges must actually bite)."""
    import pyspark.sql.functions as F

    from ebike_spark.plans.registry import REGISTRY, _load_all
    from ebike_spark.sources.registry import load_table

    _load_all()
    rows = {
        r["lang"]: r
        for r in REGISTRY["text_bpe_encode"].fn(spark, SF_DIR).collect()
    }
    docs = load_table(spark, SF_DIR, "documents")
    word = F.explode(F.split("text", " ")).alias("word")
    raw = {
        r["lang"]: (r["n_words"], r["n_chars"])
        for r in docs.select("lang", word)
        .where(F.col("word") != "")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.length("word")).alias("n_chars"),
        )
        .collect()
    }
    assert set(rows) == set(raw)
    for lang, r in rows.items():
        n_words, n_chars = raw[lang]
        assert r["total_words"] == n_words
        assert n_words <= r["total_subword_tokens"] < n_chars, (lang, r)
        assert r["avg_tokens_per_word"] == round(
            r["total_subword_tokens"] / r["total_words"], 4
        )


def test_bpe_fixture_words_safe_for_cross_engine_regex():
    """Fixture guard for text_bpe_learn_merges' exact oracle (the LSH
    tie-gap discipline): the char-split step uses regex '.' on BOTH
    engines, and Java regex (Spark) excludes \\r/\\u0085/\\u2028/\\u2029
    from '.' while RE2 (DuckDB) excludes only \\n — a word containing
    one of those four would get DIFFERENT seq columns per engine and
    the oracle row would flake. Pure pyarrow over the raw parquet:
    fails loudly on a regenerated corpus instead."""
    import pyarrow.parquet as pq

    bad = {"\r", "\u0085", "\u2028", "\u2029"}
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        texts = pq.read_table(
            f"/root/testdata/{sf}/documents.parquet", columns=["text"]
        )["text"].to_pylist()
        hits = {c for t in texts for c in bad if c in t}
        assert not hits, (sf, hits)


def test_lsh_fixture_tie_gaps_protect_exact_oracle():
    """ADVICE-r10 guard for ann_lsh_topk's FULL exact oracle: the
    cross-engine hash compare is only sound while the fixtures keep
    three margins far above float noise — (1) every (vector, plane)
    dot is bounded away from 0 (a near-zero sign decides a bucket bit
    on BOTH engines), (2) bucket-filtered candidates' cosines are
    pairwise separated (ordering ties would make top-k engine-
    dependent), (3) no candidate cosine sits at a ROUND(.,4) half
    boundary. Pure numpy over the raw parquet — if a regenerated
    corpus violates any margin, THIS fails (and the query should fall
    back to the verdict shape) instead of the driver compare flaking.
    Measured r11: min|dot| >= 5.4e-5, min gap >= 4.8e-6, boundary
    dist >= 1.4e-3 across all three fixtures — thresholds sit orders
    of magnitude below."""
    import numpy as np
    import pyarrow.parquet as pq

    from ebike_spark.operators.similarity import (
        LSH_PROBE_HAMMING,
        QUERY_VEC_ID,
        hyperplanes,
    )

    P = hyperplanes()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        t = pq.read_table(f"/root/testdata/{sf}/embeddings.parquet")
        ids = np.array(t["vec_id"])
        V = np.array(
            [np.array(x, dtype=np.float64) for x in t["embedding"].to_pylist()]
        )
        dots = V @ P.T
        assert np.abs(dots).min() > 1e-9, sf  # sign margin
        buckets = (dots > 0).astype(np.int64) @ (1 << np.arange(P.shape[0]))
        qi = int(np.where(ids == QUERY_VEC_ID)[0][0])
        ham = np.array(
            [bin(int(b) ^ int(buckets[qi])).count("1") for b in buckets]
        )
        mask = (ham <= LSH_PROBE_HAMMING) & (ids != QUERY_VEC_ID)
        qv = V[qi]
        cos = (V[mask] @ qv) / (
            np.linalg.norm(V[mask], axis=1) * np.linalg.norm(qv)
        )
        assert np.diff(np.sort(cos)).min() > 1e-9, sf  # tie gap
        frac = np.abs((cos * 1e4) - np.floor(cos * 1e4) - 0.5)
        assert frac.min() > 1e-6, sf  # ROUND(.,4) boundary margin


def test_q13b_rank_audit_bites(spark):
    """q13b's GK rank-guarantee verdict (r11 promotion) must BITE: the
    real estimate passes at the test fixture, an independent
    pure-Python rank check agrees, and a corrupted estimate (every
    picked value replaced by the group MINIMUM — rank 1, far outside
    the guarantee for q>=0.5) flips every group's boolean FALSE
    through the same factored audit — the constant-TRUE trap the
    verdict recipe exists to prevent."""
    import bisect

    import pyspark.sql.functions as F

    from ebike_spark.plans.registry import REGISTRY, _load_all
    from ebike_spark.plans.tpch import (
        Q13B_ACCURACY,
        Q13B_QUANTILES,
        _q13b_rank_audit,
        _t,
    )

    _load_all()
    rows = REGISTRY["q13b_approx_percentile"].fn(spark, SF_DIR).collect()
    assert rows and all(r["approx_rank_within_eps"] for r in rows)

    li = _t(spark, SF_DIR, "lineitem").select("l_returnflag", "l_extendedprice")
    est = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", list(Q13B_QUANTILES), Q13B_ACCURACY
        ).alias("ap")
    )
    # independent pure-Python recomputation of the rank intervals
    data: dict[str, list[float]] = {}
    for r in li.collect():
        data.setdefault(r["l_returnflag"], []).append(r["l_extendedprice"])
    for v in data.values():
        v.sort()
    for r in est.collect():
        vals = data[r["l_returnflag"]]
        n = len(vals)
        slack = -(-n // Q13B_ACCURACY) + 1
        for q, ap in zip(Q13B_QUANTILES, r["ap"]):
            lt = bisect.bisect_left(vals, ap)
            le = bisect.bisect_right(vals, ap)
            assert lt + 1 <= q * n + slack and le >= q * n - slack, (
                r["l_returnflag"],
                q,
                (lt + 1, le),
                q * n,
            )
    # negative control: group-min estimates must fail the audit
    bad = li.groupBy("l_returnflag").agg(
        F.array(
            *[F.min("l_extendedprice") for _ in Q13B_QUANTILES]
        ).alias("ap")
    )
    ranks, ok = _q13b_rank_audit(li, bad)
    flags = ranks.select(ok.alias("ok")).collect()
    assert flags and all(not r["ok"] for r in flags)


def test_sssp_matches_independent_dijkstra(spark):
    """ev_sssp_bellman_ford: the frontier Bellman-Ford's fixed point
    equals an INDEPENDENT pure-Python Dijkstra over the same weighted
    transition graph, rebuilt here from the raw events (bounded: the
    test fixture collects whole). Also: source distance is exactly 0,
    finite distances positive elsewhere, and the integer trajectory is
    deterministic across invocations."""
    import heapq
    from collections import defaultdict

    from ebike_spark.plans.graph import SSSP_WSCALE
    from ebike_spark.plans.registry import REGISTRY, _load_all
    from ebike_spark.sources.registry import load_table

    _load_all()
    rows = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    byu = defaultdict(list)
    for r in rows:
        byu[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    cnt: dict[tuple[str, str], int] = defaultdict(int)
    for seq in byu.values():
        seq.sort()
        for a, b in zip(seq, seq[1:]):
            cnt[(a[2], b[2])] += 1
    adj = defaultdict(list)
    for (u, v), c in cnt.items():
        adj[u].append((v, max(1, SSSP_WSCALE // c)))
    nodes = {r["event_type"] for r in rows}
    src = min(nodes)
    dist = {src: 0}
    pq = [(0, src)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, 1 << 62):
            continue
        for v, w in adj[u]:
            nd = d + w
            if nd < dist.get(v, 1 << 62):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    want = {(s, dist.get(s)) for s in nodes}
    fn = REGISTRY["ev_sssp_bellman_ford"].fn
    got = {(r["state"], r["dist_cost"]) for r in fn(spark, SF_DIR).collect()}
    assert got == want
    assert (src, 0) in got
    assert all(d is None or d > 0 for s, d in got if s != src)
    again = {(r["state"], r["dist_cost"]) for r in fn(spark, SF_DIR).collect()}
    assert again == got


def test_pagerank_states_mass_and_determinism(spark):
    """ev_pagerank_states: integer mass is conserved-or-evaporated
    (never created — floors and dangling exits only LOSE units from
    the initial pool), every state gets a row, the damped teleport
    floor keeps every rank positive, and the integer trajectory is
    bit-deterministic across invocations."""
    from ebike_spark.plans.graph import PR_UNITS
    from ebike_spark.plans.registry import REGISTRY, _load_all
    from ebike_spark.sources.registry import load_table

    _load_all()
    fn = REGISTRY["ev_pagerank_states"].fn
    rows = fn(spark, SF_DIR).collect()
    n_types = (
        load_table(spark, SF_DIR, "events")
        .select("event_type")
        .distinct()
        .count()
    )
    assert len(rows) == n_types
    total = sum(r["rank_units"] for r in rows)
    assert 0 < total <= PR_UNITS, total
    assert all(r["rank_units"] > 0 for r in rows)
    again = {(r["state"], r["rank_units"]) for r in fn(spark, SF_DIR).collect()}
    assert again == {(r["state"], r["rank_units"]) for r in rows}


@pytest.mark.slow
def test_session_caches_key_on_sf_dir(spark):
    """Cross-SF cache keying: the battery plan cache (per (name,
    sf_dir)) and every persisted intermediate (keyed by sf) must
    never leak one fixture's data into another's result when a single
    session alternates scale factors — the exact access pattern the
    bench/driver session produces. Runs each cache-heavy query at
    sf0.001 → sf0.01 → sf0.001 and requires the third read to equal
    the first exactly."""
    from ebike_spark.plans.registry import all_queries

    queries = all_queries()
    other = "/root/testdata/sf0.01"
    if other.rstrip("/") == SF_DIR.rstrip("/"):
        # suite running under the EBIKE_TEST_SF_DIR override: pick a
        # genuinely different fixture or the discriminator is vacuous
        other = "/root/testdata/sf0.001"
    for name in (
        "ann_ivf_topk",
        "ann_lsh_topk",
        "q32_recursive_reach",
        "ev_pagerank_states",
        "text_fuzzy_variants",
        "ev_active_users_hll",
    ):
        fn = queries[name]
        first = sorted(map(tuple, fn(spark, SF_DIR).collect()))
        mid = sorted(map(tuple, fn(spark, other).collect()))
        again = sorted(map(tuple, fn(spark, SF_DIR).collect()))
        assert again == first, name
        # discriminator (verdict rows are legitimately identical
        # across fixtures, so only value-shaped output proves the
        # middle run really read the other fixture)
        if name == "ev_active_users_hll":
            assert mid != first, name


@pytest.mark.slow
def test_plan_cached_queries_build_without_jobs(spark):
    """all_queries() plan-caches every query not declared eager, so
    building such a query must run no Spark work once its session
    artifacts are warm: the second build starts zero jobs. A query that
    computes while it is built is eager and must say so at @register,
    or the bench's timed runs would count a cached result instead of
    re-running the work."""
    from ebike_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    sc = spark.sparkContext
    started = {}
    for name, spec in sorted(REGISTRY.items()):
        if spec.eager:
            continue
        spec.fn(spark, SF_DIR)  # warm its session artifacts
        group = f"rebuild_{name}"
        sc.setJobGroup(group, name)
        try:
            spec.fn(spark, SF_DIR)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        if jobs:
            started[name] = len(jobs)
    assert not started, f"building these started Spark jobs; declare them eager: {started}"


# ------------------------------------------------- local_df primitive


def test_local_df_inline_matches_create_dataframe(spark):
    """The JVM-literal inline path must agree with createDataFrame on
    column names, types, and values — incl. None and array columns."""
    from ebike_spark.functions.local_frames import local_df

    rows = [("a", 1, None, [0.5, 1.5]), (None, 2, True, [])]
    schema = "s string, n long, b boolean, v array<double>"
    got = local_df(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert got.columns == ref.columns
    assert [f.dataType for f in got.schema.fields] == [
        f.dataType for f in ref.schema.fields
    ]
    key = lambda t: repr(t)  # noqa: E731 — None-safe sort key
    assert sorted(map(tuple, got.collect()), key=key) == sorted(
        map(tuple, ref.collect()), key=key
    )


def test_local_df_fallback_and_empty(spark):
    """>_INLINE_MAX rows takes the single-partition parallelize path;
    empty rows yield an empty frame with the right schema. Both paths
    return the same values as the inline one would."""
    from ebike_spark.functions.local_frames import _INLINE_MAX, local_df

    big = [(i, i * 2) for i in range(_INLINE_MAX + 1)]
    df = local_df(spark, big, "a long, b long")
    assert df.rdd.getNumPartitions() == 1
    assert sorted(map(tuple, df.collect())) == big
    empty = local_df(spark, [], "a long, b long")
    assert empty.columns == ["a", "b"] and empty.count() == 0


def test_local_df_rejects_short_row(spark):
    """zip() would silently truncate a short row — the helper must
    fail as loudly as createDataFrame (review r12)."""
    from ebike_spark.functions.local_frames import local_df

    with pytest.raises(TypeError, match="2 values for 3"):
        local_df(spark, [(1, 2)], "a long, b long, c long")


def test_local_df_rejects_wrong_scalar_types(spark):
    """The inline path's non-ANSI cast would silently coerce a
    wrong-typed value to NULL where createDataFrame raises — the
    driver-side validator must fail loudly on BOTH paths, and keep
    accepting numpy scalars + None like createDataFrame (ADVICE-r12)."""
    import numpy as np

    from ebike_spark.functions.local_frames import local_df

    for bad in [("x",), (1.5,), (True,)]:  # string/float/bool in long
        with pytest.raises(TypeError, match="expects bigint"):
            local_df(spark, [bad], "a long")
    with pytest.raises(TypeError, match="expects string"):
        local_df(spark, [(7,)], "a string")
    with pytest.raises(TypeError, match="expects double"):
        local_df(spark, [(["oops"],)], "a array<double>")
    # int-for-double diverged between paths (silent cast inline,
    # executor-side crash on the fallback) — reject like
    # createDataFrame's verifier (review r13)
    with pytest.raises(TypeError, match="expects double"):
        local_df(spark, [(1,)], "a double")
    # Decimal is valid for decimal columns on both paths
    from decimal import Decimal

    dec = local_df(spark, [(Decimal("1.50"),)], "a decimal(10,2)")
    assert dec.collect()[0][0] == Decimal("1.50")
    ok = local_df(
        spark,
        [(np.int64(3), np.float64(0.5), None, np.array([1.0, 2.0]))],
        "a long, b double, c string, v array<double>",
    )
    assert ok.collect()[0][:3] == (3, 0.5, None)


@pytest.mark.slow
def test_star_components_random_graphs_property(spark):
    """Property: on six seeded random graphs spanning sparse-forest to
    near-clique density, star-CC labels equal driver union-find.
    Graphs share ONE operator call (node-id offsets keep them in
    disjoint components), so the property costs one iterative run, not
    six. Seeds are fixed; densities bracket the regimes (p≈1/n thin
    forest, p≈ln n/n connectivity threshold, p≈0.3 quasi-clique)."""
    import random

    from ebike_spark.operators.corpus import connected_components_star

    edges = []
    for i, (n, m) in enumerate(
        [(30, 12), (30, 40), (30, 120), (60, 30), (60, 70), (25, 90)]
    ):
        rng = random.Random(100 + i)
        base = 10_000 * (i + 1)
        edges += [
            (base + rng.randrange(n), base + rng.randrange(n))
            for _ in range(m)
        ]
    df = spark.createDataFrame(edges, "d1 long, d2 long")
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components_star(df).collect()
    }
    assert got == set(_driver_union_find(edges))


@pytest.mark.slow
def test_sssp_broadcast_matches_literal_twin_and_stays_distributed(
    spark, monkeypatch
):
    """The broadcast SSSP twin must produce EXACTLY the literal-map
    variant's distances (same oracle, independent builds cross-check
    each other), and — its whole reason to exist — never pull more
    than one row to the driver during the build (src scalar + improved
    probes; the literal variant legitimately collects the ≤types node
    set, the broadcast one must not)."""
    from pyspark.sql.classic.dataframe import DataFrame as _DF

    from ebike_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    lit_rows = {
        tuple(r)
        for r in REGISTRY["ev_sssp_bellman_ford"].fn(spark, SF_DIR).collect()
    }

    orig = _DF.collect
    sizes: list[int] = []

    def guarded(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(_DF, "collect", guarded)
    out = REGISTRY["ev_sssp_broadcast"].fn(spark, SF_DIR)
    assert sizes and max(sizes) <= 1, (
        f"broadcast SSSP pulled {max(sizes)} rows to the driver"
    )
    monkeypatch.undo()
    assert {tuple(r) for r in out.collect()} == lit_rows


def test_bigram_pmi_null_text_contributes_zero_to_scalars(spark, monkeypatch):
    """A NULL-text document must contribute 0 to both fused corpus
    totals. split(NULL) is NULL and size(NULL) is -1 under this
    session's ansi=false, so the n_tok sum needs the same GREATEST
    floor as n_bg — without it a NULL doc SUBTRACTS one token, which
    the explode-based definition (0 rows from a NULL array) never did.
    Pinned via the operator's pmi output: pmi encodes n_tok, so an
    off-by-one shifts every value by 2*log(n_tok/(n_tok-1))."""
    import math

    import ebike_spark.operators.text as text_mod

    docs = spark.createDataFrame(
        [(1, "a b a b a b a b a b"), (2, None), (3, "c d")],
        "doc_id long, text string",
    )
    monkeypatch.setattr(text_mod, "load_table", lambda *_: docs)
    rows = text_mod.text_bigram_pmi(spark, SF_DIR).collect()
    # only "a b" reaches PMI_MIN_COUNT=5; doc 1 has 10 tokens/9 bigrams,
    # the NULL doc 0/0, doc 3 adds 2 tokens/1 bigram -> n_tok=12, n_bg=10
    assert [(r["bigram"], r["c_ab"], r["c_a"], r["c_b"]) for r in rows] == [
        ("a b", 5, 5, 5)
    ]
    expect = math.log(5) + 2 * math.log(12) - math.log(10) - 2 * math.log(5)
    assert abs(rows[0]["pmi"] - expect) < 1e-9, rows[0]["pmi"]
