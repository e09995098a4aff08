"""Corpus-preparation operators: near-dup clustering, TF-IDF, chunking,
deterministic sampling — the steps between raw documents and a training
set. All absent from the reference (SURVEY §2: no text pipeline at all);
designed Spark-first.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ebike_spark.artifacts import persisted
from ebike_spark.functions.local_frames import local_df
from ebike_spark.functions.textfns import md5_long, md5_long_sql, tokens
from ebike_spark.operators.dedup import (
    _JACCARD_PAIRS_SQL,
    minhash_verified_pairs,
)
from ebike_spark.plans.registry import register
from ebike_spark.sources.registry import load_table

# ------------------------------------------------------- dup clustering

# Shared recursive-CTE block (pairs -> symmetric edges -> reachability
# -> min-label cluster ids); the single source both cluster oracles
# build on, so a semantics tweak can never leave one behind.
_COMPONENTS_CTES = f"""
pairs AS ({_JACCARD_PAIRS_SQL}),
edges AS (SELECT d1 AS u, d2 AS v FROM pairs UNION SELECT d2, d1 FROM pairs),
reach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.u = e.v
),
cl AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u)"""

_CLUSTER_ORACLE = f"""
WITH RECURSIVE
{_COMPONENTS_CTES}
SELECT doc_id, cluster_id FROM cl
"""


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Min-label propagation until fixpoint: cluster id = smallest doc_id
    reachable. Each iteration is one shuffle join; iterations needed =
    graph diameter (near-dup graphs are shallow — dup clusters are
    quasi-cliques, so typically 2-4 rounds). The iterative-algorithm
    pattern the reference cannot express at all; the oracle is a DuckDB
    recursive CTE over the same edges."""
    spark = edges.sparkSession
    # session-scoped caches (previous call's copies are unpersisted);
    # the per-iteration label frames below are unpersisted inline
    sym = persisted(
        spark,
        "cc_sym",
        edges.selectExpr("d1 AS u", "d2 AS v").unionAll(edges.selectExpr("d2 AS u", "d1 AS v")),
    )
    labels = sym.selectExpr("u AS id").distinct().selectExpr("id", "id AS label").persist()
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["v"] == labels["id"])
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
            .selectExpr("u AS nid", "nlabel")
        )
        new_labels = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["nid"], "left")
            .select(
                F.col("id"),
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
            )
            .persist()
        )
        old = labels.selectExpr("id AS oid", "label AS olabel")
        changed = (
            new_labels.join(old, new_labels["id"] == old["oid"])
            .where(F.col("label") != F.col("olabel"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    # register the surviving frame so the NEXT call releases it
    labels = persisted(spark, "cc_labels", labels)
    return labels.selectExpr("id AS doc_id", "label AS cluster_id")


# Below this many edges the graph fits trivially on the driver and a
# local union-find beats the per-iteration job-scheduling latency of the
# distributed loop by ~10×. Above it, label propagation scales out.
DRIVER_UNION_FIND_MAX_EDGES = 1_000_000


def _driver_union_find(pairs: list[tuple[int, int]]):
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(x, find(x)) for x in parent]


def components(edges, max_iter: int = 50):
    """Connected components with a size-adaptive strategy: the dup-pair
    graph is orders of magnitude smaller than the corpus (it holds only
    near-duplicates), so it usually fits on the driver — union-find
    there costs milliseconds where each distributed iteration costs a
    scheduler round-trip. Past the threshold, distributed min-label
    propagation (diameter-bounded iterations of shuffle joins)."""
    # consumed by the size probe AND the chosen path; session-scoped so
    # repeated clustering calls don't accumulate cached RDDs
    edges = persisted(edges.sparkSession, "cluster_edges", edges)
    n_edges = edges.limit(DRIVER_UNION_FIND_MAX_EDGES + 1).count()
    if n_edges <= DRIVER_UNION_FIND_MAX_EDGES:
        pairs = [(r["d1"], r["d2"]) for r in edges.collect()]
        rows = sorted(_driver_union_find(pairs))
        spark = edges.sparkSession
        # single-partition local frame: the 32-way Python-RDD default
        # taxed every downstream action ~0.3 s (local_frames docstring).
        # BROADCAST hint (r14): the parallelized frame has no stats, so
        # the planner assumes defaultSizeInBytes=huge and a downstream
        # join (corpus_dedup_survivor's membership attach) planned as a
        # full SortMergeJoin — two exchanges + sorts — against a frame
        # that is ≤ 2×DRIVER_UNION_FIND_MAX_EDGES rows of two BIGINTs
        # BY CONSTRUCTION of this branch (≈32 MB worst case). The hint
        # encodes exactly the size knowledge the branch condition just
        # established; the distributed branch below stays unhinted.
        return F.broadcast(
            local_df(spark, rows, "doc_id long, cluster_id long")
        )
    return connected_components(edges, max_iter)


@register(
    "dedup_cluster",
    oracle=_CLUSTER_ORACLE,
    tags=("dedup", "clustering", "iterative"),
    eager=True,
)
def dedup_cluster(spark: SparkSession, sf: str) -> DataFrame:
    """Near-duplicate clusters: minhash-LSH candidate pairs → exact
    verification → connected components. The keep-one-per-cluster
    training-set filter is `cluster_id == doc_id`.
    """
    edges = minhash_verified_pairs(spark, sf).select("d1", "d2")
    return components(edges)


# ------------------------------------- large-star / small-star CC


def _large_star(e: DataFrame, dedup: bool = True) -> DataFrame:
    """One LARGE-STAR round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): over the SYMMETRIC neighborhood of
    each node u, let m = min(N(u) ∪ {u}); connect every strictly LARGER
    neighbor directly to m. Shrinks long paths toward local minima;
    never creates a self-loop (m <= u < v).

    WINDOW form (r13 optimization): m = min(v) OVER (PARTITION BY u)
    is attached to every neighbor row in the SAME pass — ONE node-id
    exchange of the symmetric edge set, where the groupBy+join-back it
    replaces paid an aggregate exchange PLUS a join-probe exchange and
    executed the union subtree twice (the credit-rewrite recipe,
    BENCH_NOTES r12). Set-level output is unchanged: the emitted set
    {(v, m_u) : v ∈ N(u), v > u} is identical row-for-row before the
    trailing distinct.

    ``dedup=False`` (r14) skips that trailing distinct for callers
    that immediately feed _small_star: duplicates cannot change a
    downstream partition-min, and small-star's own trailing distinct
    restores the set — the same argument that dropped small-star's
    pre-orientation dedup in r13. The duplicate multiset is bounded by
    the symmetric edge count (each sym row emits ≤ 1 row), so the next
    exchange carries no more than this one did; one (u,v) exchange per
    composed round disappears outright."""
    from pyspark.sql import Window

    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    out = (
        sym.select("u", "v", m.alias("m"))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return out.distinct() if dedup else out


def _small_star(e: DataFrame) -> DataFrame:
    """One SMALL-STAR round: orient every edge high→low, let
    m = min of u's smaller neighbors, and re-point u and all its
    smaller neighbors at m. Flattens the low side of the graph; with
    alternating large-star rounds the edge set converges to star
    forests rooted at each component's minimum node in O(log²) rounds
    (the paper's potential argument).

    WINDOW form (r13 optimization, same recipe as _large_star): each
    oriented row learns m in one node-id exchange and emits exactly
    one edge — (v, m) for a non-minimal smaller neighbor, (u, m) for
    the row that attains the minimum (every u has one, so the centers
    leg needs no separate aggregate+union). Duplicate input rows can
    only duplicate emissions, never change m — the trailing distinct
    restores the set, so the pre-orientation dedup the old shape paid
    a (u,v) exchange for is dropped as well. Net per composed
    small(large(e)) round (plans/r13/starcc_round_*.txt): 4 shuffle
    exchanges + 0 broadcasts, vs 7 shuffles + 4 broadcasts with the
    union subtree executed twice; probe: 24 -> 18 jobs,
    1.6-1.95 -> 1.44 s at quiet canary."""
    from pyspark.sql import Window

    d = e.where(F.col("u") != F.col("v")).select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = F.min("v").over(Window.partitionBy("u"))
    return (
        d.select("u", "v", m.alias("m"))
        .select(
            F.when(F.col("v") == F.col("m"), F.col("u"))
            .otherwise(F.col("v"))
            .alias("u"),
            F.col("m").alias("v"),
        )
        .distinct()
    )


def connected_components_star(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Connected components via alternating large-star/small-star — the
    100 TB-native iterative shape (VERDICT-r11 task 6): unlike min-label
    propagation (connected_components above), whose round count is the
    graph DIAMETER, the star operators provably converge in O(log² n)
    rounds, and unlike the driver union-find branch in components(),
    NOTHING here ever collects an edge — the only driver-side value per
    round is a 3-scalar convergence signature (count + two
    order-insensitive hash sums). Edges shuffle by node id; each round
    is a linear window-min pipeline (4 shuffles, zero joins — see
    _large_star/_small_star) over the CURRENT edge set, which only
    shrinks toward one star edge per non-root node.

    Input: DataFrame[d1, d2] candidate pairs. Output: [doc_id,
    cluster_id] with cluster_id = the component's minimum doc_id —
    identical semantics (and DuckDB recursive-CTE oracle) to
    connected_components, reached by a structurally different
    algorithm, so each is an independent witness for the other."""
    spark = edges.sparkSession

    def _sig(e: DataFrame):
        # Order-insensitive, overflow-safe (|hash%p| <= 1e9 per row).
        # The stop condition is PROBABILISTIC (ADVICE-r12): two
        # DIFFERENT successive edge sets terminating iteration requires
        # both independent hash sums (different seeds) AND the count to
        # collide — ~p^-2 ≈ 1e-18 per round, ~1e-17 over the O(log² n)
        # bound; the DuckDB recursive-CTE oracle would still catch the
        # wrong clusters on every driver run. An exact probe
        # (exceptAll / anti-join on the previous round) exists at the
        # cost of shuffling BOTH full edge sets by (u,v) each round
        # instead of a map-side-partial 3-scalar agg — the wrong trade
        # at 100 TB for a 1e-18 risk.
        r = e.agg(
            F.count("*"),
            F.sum(F.xxhash64("u", "v") % F.lit(1_000_000_007)),
            F.sum(F.xxhash64(F.lit(13), "u", "v") % F.lit(998_244_353)),
        ).first()
        return (r[0], r[1], r[2])

    nodes = persisted(
        spark,
        "ccstar_nodes",
        edges.selectExpr("d1 AS u")
        .unionAll(edges.selectExpr("d2 AS u"))
        .distinct(),
    )
    # localCheckpoint per round, NOT persist: each round's plan still
    # references the previous round's TWICE (large-star's sym union;
    # the window form removed the other ~4 reuses the join-back shape
    # had), so without lineage truncation the LOGICAL plan grows ~2×
    # per round — exponential in rounds — and the driver's analyzer
    # becomes the bottleneck (measured on the old shape: a 41-node
    # path fixture hung the first persist-only cut by round ~6). LAZY localCheckpoint: the convergence
    # signature is the round's first action, so it materializes the
    # checkpoint AND computes the 3-scalar signature in ONE job —
    # eager would spend a separate job per round on materialization
    # alone (measured 1.55 → 1.44 s at sf0.1). Same iterative-
    # DataFrame pattern as dml_exec.py; at production scale, swap for
    # reliable checkpoint() on a cluster checkpoint dir
    # (localCheckpoint storage dies with an executor) and clean rounds
    # older than the last.
    e = (
        edges.selectExpr("d1 AS u", "d2 AS v")
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sig = _sig(e)
    converged = False
    for _ in range(max_iter):
        # dedup=False: large-star's intermediate distinct is dropped
        # inside the composed round (see _large_star) — 3 shuffles per
        # round instead of 4; small-star's trailing distinct keeps the
        # checkpointed per-round edge SET (and the signature) exact.
        new = _small_star(_large_star(e, dedup=False)).localCheckpoint(
            eager=False
        )
        new_sig = _sig(new)
        e = new
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        raise AssertionError(
            f"large-star/small-star did not converge in {max_iter}"
            " rounds — theoretical bound is O(log^2 n); a fixture this"
            " deep means the edge input is not what this operator"
            " assumes (guard mirrors the SSSP round guard)"
        )
    # fixpoint = star forests: every non-root points at its component
    # minimum; roots (never on the child side) label themselves
    star = persisted(spark, "ccstar_edges", e)
    return (
        nodes.join(star, "u", "left")
        .select(
            F.col("u").alias("doc_id"),
            F.coalesce("v", "u").alias("cluster_id"),
        )
    )


@register(
    "dedup_cluster_distributed",
    oracle=_CLUSTER_ORACLE,
    tags=("dedup", "clustering", "iterative", "distributed"),
    eager=True,
)
def dedup_cluster_distributed(spark: SparkSession, sf: str) -> DataFrame:
    """Near-duplicate clusters with NO driver-side branch at any scale:
    the same verified minhash-LSH edge set as dedup_cluster, clustered
    by alternating large-star/small-star rounds
    (connected_components_star) instead of the size-adaptive
    components() split — the shape a 1000-executor job runs when the
    dup graph itself no longer fits a driver union-find. Oracled
    against the same recursive-CTE ground truth as dedup_cluster, so
    the two clustering algorithms cross-check each other on every
    driver run."""
    edges = minhash_verified_pairs(spark, sf).select("d1", "d2")
    return connected_components_star(edges)


# ------------------------------------------------------- TF-IDF

TFIDF_TOP_K = 3


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln(n.n * 1.0 / df.df), 6) AS tfidf,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf * ln(n.n * 1.0 / df.df) DESC, tf.term) AS rn
      FROM tf JOIN df USING (term) CROSS JOIN n)
    SELECT doc_id, term, tfidf FROM scored WHERE rn <= {TFIDF_TOP_K}
    """,
    tags=("text", "tfidf"),
    eager=True,
)
def text_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    """Top-{TFIDF_TOP_K} TF-IDF terms per document. Three aggregates
    (tf per doc-term, df per term, N) + a ranking window; the window
    shuffles on doc_id once. The tf⋈df join strategy is left to AQE:
    df is vocab-sized, which is usually broadcastable but NOT bounded
    (vocabulary grows with corpus size — a forced broadcast was the
    round-2/3 'weak' finding); AQE picks broadcast when df's runtime
    size is under the threshold and a skew-aware shuffle join when it
    isn't.

    df is DERIVED from tf rather than re-aggregated from the token
    explode: tf's rows are exactly the distinct (doc, term) pairs, so
    counting them per term IS the document frequency — one explode
    pass instead of two and no count_distinct expansion (17% faster
    measured, and the saving grows with corpus size). r12 rewrite:
    that count is COUNT(*) OVER the term partition instead of an
    agg-on-term + join-back, which re-executed the tf subtree for
    both branches (the text_novelty_score finding — ONE term shuffle
    now feeds the score). r14 re-examined and KEPT this three-exchange
    shape: repartitioning the raw token stream by term up front fuses
    one exchange away locally (measured −0.15 s / −1 job at sf0.1)
    but ships the UN-aggregated occurrence stream hash-partitioned by
    term — the hottest token's partition then grows with total corpus
    token count instead of n_docs, a skew AQE cannot split (skew
    handling applies to joins only), and map-side partial aggregation
    is forfeited. Every exchange in the committed shape carries at
    most one row per (doc, term) — skew-bounded by n_docs — which is
    the property that matters at 100 TB (review r14)."""
    docs = load_table(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n = docs.count()  # single scalar, driver-side (metadata-cheap count)
    score = F.col("tf") * F.log(F.lit(float(n)) / F.col("df"))
    from pyspark.sql import Window

    wdf = Window.partitionBy("term")
    w = Window.partitionBy("doc_id").orderBy(F.desc("_s"), "term")
    return (
        tf.withColumn("df", F.count("*").over(wdf))
        .select("doc_id", "term", score.alias("_s"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TFIDF_TOP_K)
        .select("doc_id", "term", F.round("_s", 6).alias("tfidf"))
    )


# ------------------------------------------------------- chunking

CHUNK_SIZE, CHUNK_STRIDE = 40, 30


@register(
    "text_chunk_windows",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    c AS (
      SELECT doc_id, unnest(generate_series(1, greatest(len(w) - {CHUNK_SIZE - 1}, 1), {CHUNK_STRIDE})) AS start,
             w FROM t)
    SELECT doc_id, CAST((start - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           least({CHUNK_SIZE}, len(w) - start + 1) AS n_tokens,
           {md5_long_sql(f"array_to_string(w[start:start+{CHUNK_SIZE - 1}], ' ')")} AS chunk_hash
    FROM c
    """,
    tags=("text", "chunking"),
)
def text_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping fixed-size token windows ({CHUNK_SIZE} tokens, stride
    {CHUNK_STRIDE}) — the doc→training-sample expansion step. Pure
    higher-order expressions: sequence → transform → explode, no
    shuffle at all; output hash identifies each chunk."""
    docs = load_table(spark, sf, "documents")
    w = tokens(F.col("text"))
    starts = F.sequence(F.lit(1), F.greatest(F.size(w) - (CHUNK_SIZE - 1), F.lit(1)), F.lit(CHUNK_STRIDE))
    chunks = docs.select("doc_id", w.alias("w"), F.explode(starts).alias("start"))
    chunk_text = F.concat_ws(" ", F.slice(F.col("w"), F.col("start"), CHUNK_SIZE))
    return chunks.select(
        "doc_id",
        ((F.col("start") - 1) / CHUNK_STRIDE).cast("long").alias("chunk_id"),
        F.least(F.lit(CHUNK_SIZE), F.size("w") - F.col("start") + 1).alias("n_tokens"),
        md5_long(chunk_text).alias("chunk_hash"),
    )


# ------------------------------------------------------- sampling

SAMPLE_BUCKETS, SAMPLE_KEEP = 100, 10


@register(
    "sample_deterministic",
    oracle=f"""
    SELECT source, COUNT(*) AS n_sampled, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM documents
    WHERE {md5_long_sql("text")} % {SAMPLE_BUCKETS} < {SAMPLE_KEEP}
    GROUP BY source
    """,
    tags=("sampling",),
)
def sample_deterministic(spark: SparkSession, sf: str) -> DataFrame:
    """Content-hash bucket sampling (~{SAMPLE_KEEP}%): reproducible
    across engines/runs/machines (unlike rand()-based sampling), stable
    under re-partitioning, and stratifiable by any grouping. The filter
    is a pure expression → runs at scan speed."""
    docs = load_table(spark, sf, "documents")
    keep = md5_long(F.col("text")) % SAMPLE_BUCKETS < SAMPLE_KEEP
    return docs.where(keep).groupBy("source").agg(
        F.count("*").alias("n_sampled"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# Uniform grain for the weighted coin flip: u = md5 % GRAIN behaves as
# a deterministic uniform on [0, GRAIN); keep iff u/GRAIN < w/max_w,
# cross-multiplied so both engines compare exact integers (no
# transcendental/float divergence can flip a selection).
WEIGHTED_GRAIN = 1_000_000


@register(
    "sample_weighted",
    oracle=f"""
    WITH mx AS (SELECT MAX(n_chars) AS mw FROM documents)
    SELECT source, COUNT(*) AS n_sampled, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
           CAST(SUM(n_chars) AS BIGINT) AS chars_sampled
    FROM documents, mx
    WHERE ({md5_long_sql("text")} % {WEIGHTED_GRAIN}) * mw < n_chars * {WEIGHTED_GRAIN}
    GROUP BY source
    """,
    tags=("sampling", "weighted"),
)
def sample_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted Bernoulli sampling: each document is kept
    with probability proportional to its weight (here n_chars — i.e.
    length-proportional sampling, the standard pre-training mix move),
    P(keep) = w / max(w). The coin is a content-hash uniform, so the
    sample is reproducible across engines/runs/partitionings, and the
    keep test is pure integer arithmetic — bit-identical in Spark and
    DuckDB (a pow/ln-based A-ES key could flip selections on last-ulp
    float divergence between engines).

    Scale shape: max(w) is one scalar broadcast back into a scan-speed
    predicate; no shuffle touches unselected rows. The final per-source
    groupBy aggregates only survivors."""
    docs = load_table(spark, sf, "documents")
    mx = docs.agg(F.max("n_chars").alias("mw"))
    keep = (md5_long(F.col("text")) % WEIGHTED_GRAIN) * F.col("mw") < F.col(
        "n_chars"
    ) * WEIGHTED_GRAIN
    return (
        docs.crossJoin(F.broadcast(mx))
        .where(keep)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_sampled"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.sum("n_chars").alias("chars_sampled"),
        )
    )


# Train/val/test proportions in hash-percent space: [0,98) / {98} / {99}
SPLIT_TRAIN_LT, SPLIT_VAL = 98, 98


@register(
    "corpus_split_assign",
    oracle=f"""
    WITH tagged AS (
      SELECT source, n_chars,
             CASE WHEN {md5_long_sql("text")} % 100 < {SPLIT_TRAIN_LT} THEN 'train'
                  WHEN {md5_long_sql("text")} % 100 = {SPLIT_VAL} THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT source, split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM tagged GROUP BY 1, 2
    """,
    tags=("sampling", "split"),
)
def corpus_split_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 98/1/1 train/val/test assignment by content hash:
    stable under re-partitioning, re-runs, and engine changes, and a
    document can never migrate between splits when the corpus grows
    (the leakage failure mode of rand()- or position-based splits).

    Scale shape: the split tag is a scan-speed expression; the audit
    groupBy shuffles only (source, split) partials."""
    docs = load_table(spark, sf, "documents")
    pct = md5_long(F.col("text")) % 100
    split = (
        F.when(pct < SPLIT_TRAIN_LT, "train")
        .when(pct == SPLIT_VAL, "val")
        .otherwise("test")
    )
    return docs.groupBy("source", split.alias("split")).agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )


N_SHARDS = 64


@register(
    "corpus_shard_manifest",
    oracle=f"""
    WITH s AS (
      SELECT {md5_long_sql("text")} % {N_SHARDS} AS shard_id, doc_id, n_chars
      FROM documents)
    SELECT shard_id, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM s GROUP BY 1
    """,
    tags=("sampling", "sharding"),
)
def corpus_shard_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """Training-shard manifest: content-hash shard assignment (uniform,
    deterministic, join-free) summarized per shard. This is the audit
    side of the writer path (`io_partitioned_layout` covers the
    physical write); hash sharding keeps shard sizes balanced at any
    corpus size — no range planning, no sampling pass.

    Scale shape: one expression + one {N_SHARDS}-ary groupBy with
    map-side partials; the manifest is shard-count-sized."""
    docs = load_table(spark, sf, "documents")
    shard = (md5_long(F.col("text")) % N_SHARDS).alias("shard_id")
    return docs.groupBy(shard).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


UPSAMPLE_MAX_EPOCHS = 4


@register(
    "corpus_upsample_audit",
    oracle=f"""
    WITH d AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars FROM documents GROUP BY 1),
    mx AS (SELECT MAX(n_chars) AS mc FROM d)
    SELECT source, n_docs, n_chars,
           LEAST(CAST(CEIL(mc * 1.0 / n_chars) AS BIGINT), {UPSAMPLE_MAX_EPOCHS}) AS epochs,
           CAST(n_chars * LEAST(CAST(CEIL(mc * 1.0 / n_chars) AS BIGINT), {UPSAMPLE_MAX_EPOCHS}) AS BIGINT) AS upsampled_chars
    FROM d, mx
    """,
    tags=("sampling", "mix", "upsample"),
)
def corpus_upsample_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Epoch-count upsampling plan: each under-represented domain is
    repeated ceil(max_domain_chars / domain_chars) times (capped at
    {UPSAMPLE_MAX_EPOCHS} — the standard guard against over-repeating
    tiny domains), targeting a roughly uniform char budget. The
    complement of corpus_temperature_mix (which DOWN-weights): together
    they bracket the mixture-design space.

    Scale shape: one groupBy to domain-sized partials; the corpus max
    is a full-frame window MAX over that source-cardinality frame
    (r14, guide §2.4 — the corpus_token_budget_plan recipe: the former
    agg + crossJoin(broadcast) pair re-staged the aggregate subtree
    and paid two extra scheduling rounds per run). Nothing downstream
    of the first aggregate scales with corpus size — the single-
    partition window holds one row per SOURCE (dozens)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents")
    d = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )
    wfull = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mc = F.max("n_chars").over(wfull)
    epochs = F.least(
        F.ceil(mc * 1.0 / F.col("n_chars")).cast("long"),
        F.lit(UPSAMPLE_MAX_EPOCHS),
    )
    return d.select(
        "source",
        "n_docs",
        "n_chars",
        epochs.alias("epochs"),
        (F.col("n_chars") * epochs).alias("upsampled_chars"),
    )


@register(
    "corpus_token_budget_plan",
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1),
    t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
                 CAST(SUM(n_tokens) // 2 AS BIGINT) AS budget FROM s),
    q AS (
      SELECT source, n_tokens,
             CAST((budget * n_tokens) // total AS BIGINT) AS fl,
             CAST((budget * n_tokens) % total AS BIGINT) AS rem
      FROM s, t),
    l AS (SELECT CAST(MAX(budget) - (SELECT SUM(fl) FROM q) AS BIGINT)
                 AS leftover FROM t),
    r AS (SELECT source, n_tokens, fl, rem,
                 ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rn
          FROM q)
    SELECT source, n_tokens,
           CAST(fl + CASE WHEN rn <= (SELECT leftover FROM l)
                          THEN 1 ELSE 0 END AS BIGINT) AS quota_tokens
    FROM r
    """,
    tags=("corpus", "planning", "integer-exact"),
)
def corpus_token_budget_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget apportionment: given a budget (half the corpus
    total here; a constant in production), allocate a per-source token
    quota by largest-remainder (Hamilton) apportionment — floor of the
    proportional share, then the leftover units go to the largest
    fractional remainders (rem DESC, source tiebreak). Pure BIGINT
    arithmetic, so the quotas sum EXACTLY to the budget — no float
    shares that round into an off-by-a-few plan. (budget*n_tokens
    products fit BIGINT through ~3e9-token corpora per source at a
    1e9 budget; the 100 TB shape swaps the two expressions to
    DECIMAL(38,0) — same plan.)

    Scale shape: the corpus scan reduces to one row per SOURCE before
    any global step; everything downstream — total/budget, floors,
    leftover, remainder rank — is a chain of WINDOW functions over
    that source-cardinality frame in ONE single-partition stage
    (bounded: sources number in the dozens; the global row_number was
    already single-partition). The former agg + crossJoin(broadcast)
    pair for total and leftover re-staged the plan twice and paid 8
    jobs per run vs 3 after (r13 job-count audit, VERDICT-r12
    task 3). Nothing downstream of the first aggregate scales with
    corpus size (the corpus_domain_cap pattern)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents")
    s = docs.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("n_tokens")
    )
    wfull = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # integer DIV for the budget, never float-divide-then-cast (the
    # ev_seasonality_profile rule): above 2^53 tokens a double budget
    # would round before the cast and drift off the oracle's //
    q = (
        s.withColumn("total", F.sum("n_tokens").over(wfull).cast("long"))
        .withColumn("budget", F.expr("total DIV 2"))
        .withColumn("fl", F.expr("budget * n_tokens DIV total"))
        .withColumn(
            "rem", (F.col("budget") * F.col("n_tokens")) % F.col("total")
        )
        .withColumn(
            "leftover",
            (F.col("budget") - F.sum("fl").over(wfull)).cast("long"),
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.col("rem").desc(), "source")),
        )
    )
    return q.select(
        "source",
        "n_tokens",
        (F.col("fl") + F.when(F.col("rn") <= F.col("leftover"), 1).otherwise(0))
        .cast("long")
        .alias("quota_tokens"),
    )


@register(
    "corpus_dedup_survivor",
    oracle=f"""
    WITH RECURSIVE
    {_COMPONENTS_CTES},
    m AS (
      SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id,
             CAST(d.n_chars AS BIGINT) AS n_chars
      FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
    r AS (
      SELECT cluster_id, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size
      FROM m)
    SELECT cluster_id, doc_id AS survivor_id, n_chars, cluster_size
    FROM r WHERE rn = 1
    """,
    tags=("dedup", "clustering", "curation", "survivor-pick"),
    eager=True,
)
def corpus_dedup_survivor(spark: SparkSession, sf: str) -> DataFrame:
    """Keep-BEST-per-cluster dedup manifest: every document lands in a
    near-dup cluster (singletons form their own), and each cluster's
    survivor is its highest-quality member — longest n_chars, doc_id
    tiebreak — rather than dedup_cluster's keep-smallest-id policy.
    This is the selection step a curation pipeline actually runs: the
    output is one row per retained document with its cluster size (the
    dedup audit trail).

    Scale shape: reuses the persisted minhash->verify pair pipeline and
    the size-adaptive connected components (nothing recomputed within a
    session); the survivor pick is ONE cluster_id-partitioned window
    over the document-count-sized membership table — both the argmax
    and the size come from the same window pass, no join back."""
    from pyspark.sql import Window

    edges = minhash_verified_pairs(spark, sf).select("d1", "d2")
    cl = components(edges)
    docs = load_table(spark, sf, "documents").select("doc_id", "n_chars")
    m = docs.join(cl, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    w = Window.partitionBy("cluster_id")
    r = m.select(
        "cluster_id",
        "doc_id",
        "n_chars",
        F.row_number()
        .over(w.orderBy(F.col("n_chars").desc(), "doc_id"))
        .alias("rn"),
        F.count("*").over(w).cast("long").alias("cluster_size"),
    )
    return r.where(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("survivor_id"),
        "n_chars",
        "cluster_size",
    )


@register(
    "corpus_manifest_diff",
    oracle=f"""
    WITH snap_a AS (
      SELECT doc_id, {md5_long_sql("text")} AS h
      FROM documents WHERE doc_id % 13 != 0),
    snap_b AS (
      SELECT doc_id,
             {md5_long_sql("CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END")} AS h
      FROM documents WHERE doc_id % 11 != 0)
    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.doc_id IS NULL THEN 'added'
                WHEN b.doc_id IS NULL THEN 'removed'
                ELSE 'changed' END AS status,
           a.h AS hash_a, b.h AS hash_b
    FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id
    WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.h != b.h
    """,
    tags=("corpus", "manifest", "diff", "incremental"),
)
def corpus_manifest_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot manifest diff — the change feed between two corpus
    versions that an incremental training-data pipeline consumes
    (reprocess only added/changed docs, retract removed ones). Snapshot
    A simulates the previous release (missing every 13th doc); snapshot
    B the current one (every 7th doc re-edited, every 11th dropped). A full
    outer join on doc_id classifies added / removed / changed by
    null-side and content-hash inequality; unchanged rows are filtered
    out so the diff is delta-sized, not corpus-sized.

    Scale shape: both manifests reduce to (doc_id, 56-bit digest)
    before the join — fixed-width rows, never document text — and the
    full outer join shuffles on doc_id with both sides manifest-sized.
    In production the manifests are stored artifacts of each release
    (written once at snapshot time), so the diff never rescans either
    corpus; here both derive from the one documents table for the
    oracle's sake."""
    docs = load_table(spark, sf, "documents")
    snap_a = docs.where(F.col("doc_id") % 13 != 0).select(
        "doc_id", md5_long(F.col("text")).alias("h")
    )
    snap_b = docs.where(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        md5_long(
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
            ).otherwise(F.col("text"))
        ).alias("h"),
    )
    a = snap_a.alias("a")
    b = snap_b.alias("b")
    j = a.join(b, F.col("a.doc_id") == F.col("b.doc_id"), "full_outer")
    return j.where(
        F.col("a.doc_id").isNull()
        | F.col("b.doc_id").isNull()
        | (F.col("a.h") != F.col("b.h"))
    ).select(
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .otherwise("changed")
        .alias("status"),
        F.col("a.h").alias("hash_a"),
        F.col("b.h").alias("hash_b"),
    )


_DUP_RATE_BY_SOURCE_SQL = (
    # the shared exact-pair SQL (a full WITH...SELECT) nests as a
    # parenthesized subquery — DuckDB allows CTEs inside derived tables
    "WITH pairs AS (SELECT * FROM (\n"
    + _JACCARD_PAIRS_SQL
    + """
    ) _p),
    dup AS (
      SELECT DISTINCT doc_id FROM (
        SELECT d1 AS doc_id FROM pairs UNION ALL SELECT d2 FROM pairs) u)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(dup.doc_id) AS BIGINT) AS n_dup_docs,
           COUNT(dup.doc_id) / COUNT(*) AS dup_rate
    FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
    GROUP BY d.source
    """
)


@register(
    "corpus_dup_rate_by_source",
    oracle=_DUP_RATE_BY_SOURCE_SQL,
    tags=("corpus", "dedup", "curation", "per-source"),
)
def corpus_dup_rate_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Near-duplicate contamination rate PER SOURCE — the curation
    readout that decides which feeds get down-weighted or dropped: the
    share of each source's documents that participate in at least one
    verified near-dup pair (minhash→LSH→exact-verify ≥0.8, the shared
    persisted pipeline). A source whose dup_rate spikes is re-crawling
    itself or mirroring another feed.

    Scale shape: consumes the ALREADY-PERSISTED verified pair set
    (near-dup-pairs-sized, tiny) — zero marginal sketch work when the
    dedup family has run; the distinct-participant frame is pair-
    bounded, the source rollup is a broadcast-sized semi-join onto the
    documents scan. dup_rate is one exact-BIGINT division."""
    pairs = minhash_verified_pairs(spark, sf)
    docs = load_table(spark, sf, "documents").select("doc_id", "source")
    dup = (
        pairs.select(F.col("d1").alias("doc_id"))
        .unionAll(pairs.select(F.col("d2").alias("doc_id")))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    j = docs.join(dup, "doc_id", "left")
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count("__dup").alias("n_dup_docs"),
        (F.count("__dup") / F.count("*")).alias("dup_rate"),
    )


CURRICULUM_STAGES = 10

_CURRICULUM_SQL = f"""
WITH per AS (
  SELECT doc_id, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
staged AS (
  SELECT ntile({CURRICULUM_STAGES}) OVER (ORDER BY n_chars, doc_id) AS stage,
         n_tokens
  FROM per),
agg AS (
  SELECT stage, COUNT(*) AS n_docs, SUM(n_tokens) AS stage_tokens
  FROM staged GROUP BY stage)
SELECT CAST(stage AS BIGINT) AS stage,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(stage_tokens AS BIGINT) AS stage_tokens,
       CAST(SUM(stage_tokens) OVER (ORDER BY stage) AS BIGINT) AS cum_tokens,
       CAST(SUM(stage_tokens) OVER (ORDER BY stage) AS DOUBLE)
         / CAST(SUM(stage_tokens) OVER () AS DOUBLE) AS cum_token_share
FROM agg
"""


@register(
    "corpus_curriculum_stages",
    oracle=_CURRICULUM_SQL,
    tags=("corpus", "curriculum", "token-budget"),
)
def corpus_curriculum_stages(spark: SparkSession, sf: str) -> DataFrame:
    """Curriculum-learning stage plan: documents rank by a difficulty
    proxy (n_chars, doc_id tiebreak — a TOTAL order, so every engine
    agrees), split into {CURRICULUM_STAGES} ntile stages, and each
    stage reports its doc count, token budget, cumulative token budget,
    and cumulative share — the table a staged training run reads to
    schedule "easy first, hard later" data ordering. All stage math is
    exact integer arithmetic; the single emitted double divides two
    BIGINTs identical on both engines.

    Scale shape: the global ranking is the shared two-pass distributed
    sort-rank (functions/ranking.py — repartitionByRange on the
    difficulty key, per-partition row_number, one-row-per-task offset
    prefix sums, persist-pinned so both branches read one
    materialization) — not a single-partition global window, which
    would serialize the corpus through one task at 100 TB. Stage
    assignment replays ntile's exact piecewise definition on
    (rank, N) in exact integer arithmetic, verified against the
    oracle's native ntile. The stage rollup is a
    {CURRICULUM_STAGES}-row aggregate; the cumulative window runs over
    those {CURRICULUM_STAGES} rows only. No driver-side collect
    anywhere in the plan."""
    from pyspark.sql import Window

    from ebike_spark.functions.ranking import ntile_over_global_order

    k = CURRICULUM_STAGES
    d = load_table(spark, sf, "documents")
    per = d.select(
        "doc_id",
        "n_chars",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    )
    # distributed rank + exact-NTILE closed form via the shared helper
    # (functions/ranking.py): persist-pinned so the offsets branch and
    # the rank branch read the SAME range-exchange materialization —
    # spark_partition_id is an execution artifact, and an unpinned
    # second execution may sample different range boundaries
    staged = ntile_over_global_order(
        spark,
        per,
        [F.col("n_chars"), F.col("doc_id")],
        k,
        "curriculum_ranks",
        sf,
    ).select(F.col("__bucket").alias("stage"), "n_tokens")
    agg = staged.groupBy("stage").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("stage_tokens"),
    )
    wc = Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return agg.select(
        F.col("stage"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("stage_tokens").cast("long").alias("stage_tokens"),
        F.sum("stage_tokens").over(wc).cast("long").alias("cum_tokens"),
        (
            F.sum("stage_tokens").over(wc).cast("double")
            / F.sum("stage_tokens").over(wt).cast("double")
        ).alias("cum_token_share"),
    )
