"""Iterative graph analytics over the event-transition graph.

Not present in the reference (no iterative algorithms at all; its only
graph-adjacent surface is what DataFusion 6 can express in one SELECT).
Spark-native extension in the q31/q32 recursive spirit: power-iteration
PageRank over the (event_type → event_type) transition graph, in EXACT
integer arithmetic so a DuckDB oracle replays the identical trajectory
— the same discipline as embed_kmeans_lloyd (floats never bit-repeat
across engines; integers do).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ebike_spark.artifacts import memo, persisted
from ebike_spark.plans.registry import register
from ebike_spark.sources.registry import load_table

PR_UNITS = 1_000_000_000  # total rank mass, in integer units
PR_DAMP_NUM = 85  # damping 0.85 as an exact rational
PR_DEN = 100
PR_ITERS = 4


def _transition_graph(spark: SparkSession, sf: str):
    """(edges, nodes) of the weighted event-transition graph, persisted
    session-scoped and SHARED by every graph query (PageRank, SSSP):
    one events scan collapses to ≤types² edge rows (u, v, c, outc) and
    a ≤types node set. The user-keyed window pass is the only
    corpus-sized work; every iteration downstream touches only the
    cached frames."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def _edges():
        seq = ev.select(
            "event_type", F.lag("event_type").over(w).alias("prev")
        ).where(F.col("prev").isNotNull())
        e = seq.groupBy(
            F.col("prev").alias("u"), F.col("event_type").alias("v")
        ).agg(F.count("*").alias("c"))
        outs = e.groupBy("u").agg(F.sum("c").alias("outc"))
        # outs is ≤types rows — broadcast, never shuffle-join.
        # coalesce(1): the aggregate is ≤types² ROWS by construction —
        # caching it across 32 shuffle partitions would make every
        # downstream iteration launch 32 near-empty tasks (measured
        # r11: ~0.7 s/round for SSSP's per-round actions, dominated by
        # task scheduling, → ~0.2 s after). The corpus-sized work
        # (the window pass + aggregation ABOVE this line) keeps full
        # parallelism; only the bounded result narrows.
        return e.join(F.broadcast(outs), "u").coalesce(1)

    edges = persisted(spark, "pagerank_edges", _edges, key=sf)
    nodes = persisted(
        spark,
        "pagerank_nodes",
        lambda: ev.select(F.col("event_type").alias("state"))
        .distinct()
        .coalesce(1),
        key=sf,
    )
    return edges, nodes

# One iteration, as SQL over the previous iteration's CTE: rank(v) =
# teleport base + sum over in-edges of floor(85 * r(u) * c(u,v) /
# (100 * out(u))). Integer floor-division on positive values is
# identical in Spark (DIV) and DuckDB (//); integer sums are exact in
# any order, so the trajectory is engine- and partitioning-independent.
_ORACLE_STEP = """
    r{k} AS (
      SELECT n.state,
             CAST(b.b + COALESCE(SUM(({damp} * p.r * e.c)
                                     // ({den} * o.outc)), 0) AS BIGINT) AS r
      FROM nodes n CROSS JOIN base b
      LEFT JOIN edges e ON e.v = n.state
      LEFT JOIN r{prev} p ON p.state = e.u
      LEFT JOIN outs o ON o.u = e.u
      GROUP BY n.state, b.b)
"""


def _pagerank_oracle() -> str:
    steps = ",".join(
        _ORACLE_STEP.format(k=k, prev=k - 1, damp=PR_DAMP_NUM, den=PR_DEN)
        for k in range(1, PR_ITERS + 1)
    )
    return f"""
    WITH seq AS (
      SELECT event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    edges AS (
      SELECT prev AS u, event_type AS v, COUNT(*) AS c
      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
    nodes AS (SELECT DISTINCT event_type AS state FROM events),
    consts AS (SELECT COUNT(*) AS n FROM nodes),
    outs AS (SELECT u, SUM(c) AS outc FROM edges GROUP BY u),
    base AS (
      SELECT CAST((CAST({PR_UNITS} AS BIGINT) * {PR_DEN - PR_DAMP_NUM}
                   // {PR_DEN}) // n AS BIGINT) AS b
      FROM consts),
    r0 AS (SELECT state, CAST(CAST({PR_UNITS} AS BIGINT) // n AS BIGINT) AS r
           FROM nodes, consts),
    {steps}
    SELECT state, r AS rank_units FROM r{PR_ITERS}
    """


@register(
    "ev_pagerank_states",
    oracle=_pagerank_oracle(),
    tags=("events", "graph", "pagerank", "iterative", "beyond-reference"),
)
def ev_pagerank_states(spark: SparkSession, sf: str) -> DataFrame:
    """{PR_ITERS} power iterations of PageRank (damping 0.85) over the
    event-transition graph, in EXACT integer units: rank starts at
    {PR_UNITS}/N per state and each step moves floor(85·r(u)·c(u,v) /
    (100·out(u))) units along every weighted edge plus a floor'd
    teleport base. Every operation is integer, so the DuckDB oracle
    (the same {PR_ITERS} steps unrolled as chained CTEs) hash-matches
    the full trajectory — the iterative-algorithm discipline
    embed_kmeans_lloyd established. Dangling mass evaporates
    (documented; ordering-equivalent to renormalizing here).

    Scale shape: ONE events scan builds the weighted edge list (a
    user-keyed window pass collapsing to ≤types² rows, persisted
    session-scoped with the node set); each iteration is a broadcast
    join of the constant-sized rank vector against the cached edges +
    one ≤types-row aggregate — iteration cost is frontier-sized,
    never corpus-sized, exactly like q32's recursion. At web scale
    the same loop runs over a bucketed edge table with the rank
    vector co-partitioned instead of broadcast. Unit caveat, also in
    SCALE.md: 85·r·c must fit a BIGINT — at extreme edge weights
    production pre-normalizes c/out(u) into per-edge integer
    probabilities once, keeping the loop arithmetic bounded."""
    edges, nodes = _transition_graph(spark, sf)
    # n is bounded by event-type cardinality. ADVICE-r10 guard: 85*r*c
    # uses non-ANSI Spark arithmetic, which WRAPS silently on BIGINT
    # overflow while the DuckDB oracle's // raises. Per-node rank never
    # exceeds the total mass PR_UNITS (floors only lose mass), so the
    # worst product is bounded by 85 * PR_UNITS * max(c) — assert it
    # fits from the cached edge stats (a ≤types²-row agg) and fail
    # loudly instead of returning wrong ranks at extreme edge weights.
    # Both scalars derive from the session's persisted graph, so they
    # are memoized with it: a rebuild of this plan runs no Spark job.
    n, max_c = memo(
        spark,
        ("pagerank_stats", sf),
        lambda: (nodes.count(), edges.agg(F.max("c")).first()[0] or 0),
    )
    if PR_DAMP_NUM * PR_UNITS * max_c >= (1 << 63):
        raise OverflowError(
            f"pagerank step would overflow BIGINT: 85*{PR_UNITS}*{max_c}"
            " >= 2^63; pre-normalize edge weights (SCALE.md) before"
            " running at this edge cardinality"
        )
    base = (PR_UNITS * (PR_DEN - PR_DAMP_NUM) // PR_DEN) // n
    r = nodes.select("state", F.lit(PR_UNITS // n).cast("long").alias("r"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(F.broadcast(r), edges["u"] == r["state"])
            .select(
                "v",
                F.expr(
                    f"({PR_DAMP_NUM} * r * c) DIV ({PR_DEN} * outc)"
                ).alias("inc"),
            )
            .groupBy("v")
            .agg(F.sum("inc").alias("s"))
        )
        r = nodes.join(
            F.broadcast(contrib), nodes["state"] == contrib["v"], "left"
        ).select(
            "state",
            (F.lit(base) + F.coalesce(F.col("s"), F.lit(0))).cast("long").alias("r"),
        )
    return r.select("state", F.col("r").alias("rank_units"))


# --- single-source shortest path (Bellman-Ford), r11 ---------------------
#
# Completes the iterative-graph trio (q32 reachability, ev_pagerank_states
# power iteration) with a genuinely different plan shape: FRONTIER
# RELAXATION WITH EARLY EXIT instead of a fixed-point of full passes.
# Weights are exact integers (w = max(1, 1e6 // c): frequent transitions
# are cheap), so the DuckDB oracle — the same relaxation unrolled as
# SSSP_ROUNDS chained CTEs — replays the identical arithmetic. Extra
# rounds after convergence are identity, so the oracle's fixed unroll and
# the Spark side's early exit meet at the same fixed point as long as
# SSSP_ROUNDS >= V-1 (positive weights => shortest paths are simple);
# the builder asserts the node count fits.

SSSP_INF = 1 << 60  # unreachable sentinel; INF + max(w) still fits BIGINT
SSSP_ROUNDS = 5  # >= V-1 for the ≤6-state fixtures (asserted at build)
SSSP_WSCALE = 1_000_000  # w = GREATEST(1, WSCALE // c)

_SSSP_STEP = """
    d{k} AS (
      SELECT n.state,
             CAST(LEAST(p.d, COALESCE(MIN(q.d + e.w), p.d)) AS BIGINT) AS d
      FROM nodes n
      JOIN d{prev} p ON p.state = n.state
      LEFT JOIN wedges e ON e.v = n.state
      LEFT JOIN d{prev} q ON q.state = e.u
      GROUP BY n.state, p.d)
"""


def _sssp_oracle() -> str:
    steps = ",".join(
        _SSSP_STEP.format(k=k, prev=k - 1) for k in range(1, SSSP_ROUNDS + 1)
    )
    return f"""
    WITH seq AS (
      SELECT event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    edges AS (
      SELECT prev AS u, event_type AS v, COUNT(*) AS c
      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
    wedges AS (
      SELECT u, v,
             GREATEST(CAST(1 AS BIGINT), CAST({SSSP_WSCALE} AS BIGINT) // c) AS w
      FROM edges),
    nodes AS (SELECT DISTINCT event_type AS state FROM events),
    src AS (SELECT MIN(state) AS s FROM nodes),
    d0 AS (
      SELECT state,
             CASE WHEN state = (SELECT s FROM src)
                  THEN CAST(0 AS BIGINT)
                  ELSE CAST({SSSP_INF} AS BIGINT) END AS d
      FROM nodes),
    {steps}
    SELECT state,
           CASE WHEN d >= {SSSP_INF} THEN NULL ELSE d END AS dist_cost
    FROM d{SSSP_ROUNDS}
    """



def _weighted_edges(edges: DataFrame) -> DataFrame:
    """(u, v, w) with the SSSP weight w = GREATEST(1, WSCALE DIV c) —
    ONE definition for both SSSP variants and the plan test (the
    DuckDB oracle mirrors the same formula in _sssp_oracle)."""
    return edges.select(
        "u",
        "v",
        F.expr(
            f"GREATEST(CAST(1 AS BIGINT), CAST({SSSP_WSCALE} AS BIGINT) DIV c)"
        ).alias("w"),
    )


def _sssp_relax_round(wedges: DataFrame, dist: DataFrame) -> DataFrame:
    """One broadcast relaxation round: settled distances broadcast-
    joined to the edge frame, min-combined per target, least()'d into
    the current vector. Shared by ev_sssp_broadcast and the plan test
    so the asserted BroadcastHashJoin shape IS the production round."""
    settled = dist.where(F.col("d") < SSSP_INF)
    cand = (
        wedges.join(F.broadcast(settled), wedges["u"] == settled["node"])
        .select("v", (F.col("d") + F.col("w")).alias("cand"))
        .groupBy("v")
        .agg(F.min("cand").alias("cand"))
    )
    return dist.join(cand, dist["node"] == cand["v"], "left").select(
        "node",
        F.least(F.col("d"), F.coalesce(F.col("cand"), F.col("d"))).alias("d"),
    )


@register(
    "ev_sssp_bellman_ford",
    oracle=_sssp_oracle(),
    tags=("events", "graph", "sssp", "iterative", "beyond-reference"),
    eager=True,
)
def ev_sssp_bellman_ford(spark: SparkSession, sf: str) -> DataFrame:
    """Single-source shortest path over the weighted event-transition
    graph: source = MIN(event_type), edge cost = max(1, 1e6 // count)
    (frequent transitions are cheap), Bellman-Ford with FRONTIER
    relaxation — each round relaxes only the out-edges of nodes whose
    distance improved last round, and the loop exits as soon as the
    frontier empties. All arithmetic is integer, so the DuckDB oracle
    (the same relaxation unrolled as fixed CTE rounds — identity once
    converged) hash-matches exactly. Reference has no iterative
    algorithms at all; this extends the q32/ev_pagerank_states family
    with the early-exit shape.

    Scale shape: the edge list and node set are the SAME session-scoped
    cached frames PageRank builds (one events scan ever); each round
    ships the frontier's distance vector INTO the plan as a literal
    map — the degenerate broadcast for a driver-sized vector, so
    relaxation is one cached scan + pushed frontier filter + ≤types-row
    min-aggregate, no join and no broadcast-exchange round-trip
    (measured r11: 0.57 s/round as a broadcast hash join vs ~0.2 s as
    a map lookup — the exchange + per-round plan analysis dominated,
    not the data). The distance vector is node-sized and lives
    driver-side exactly like kmeans centroids — the bounded-collect
    regime (≤ event-type cardinality rows per round). At web-scale
    node counts the literal map generalizes back to a real broadcast
    (or a co-partitioned join against a bucketed edge table), trading
    early-exit for an improved-count accumulator."""
    edges, nodes = _transition_graph(spark, sf)
    wedges = _weighted_edges(edges)
    states = sorted(r[0] for r in nodes.collect())  # bounded: ≤types rows
    if len(states) > SSSP_ROUNDS + 1:
        raise ValueError(
            f"{len(states)} states need {len(states) - 1} relaxation rounds"
            f" but SSSP_ROUNDS={SSSP_ROUNDS}; raise it (oracle unrolls the"
            " same constant)"
        )
    src = states[0]
    dist: dict[str, int] = {s: (0 if s == src else SSSP_INF) for s in states}
    frontier = {src}
    for _ in range(SSSP_ROUNDS):
        if not frontier:
            break  # converged early — remaining oracle rounds are identity
        dmap = F.create_map(
            *[
                lit
                for u in sorted(frontier)
                for lit in (F.lit(u), F.lit(dist[u]).cast("long"))
            ]
        )
        relaxed = (
            wedges.where(F.col("u").isin(*frontier))
            .select("v", (dmap[F.col("u")] + F.col("w")).alias("cand"))
            .groupBy("v")
            .agg(F.min("cand").alias("cand"))
            .collect()
        )
        frontier = set()
        for row in relaxed:
            if row["cand"] < dist[row["v"]]:
                dist[row["v"]] = row["cand"]
                frontier.add(row["v"])
    # emit through the cached node set (not a driver-local frame): the
    # result stays a distributed projection of the graph index
    final = F.create_map(
        *[
            lit
            for s in states
            for lit in (F.lit(s), F.lit(dist[s]).cast("long"))
        ]
    )
    d = final[F.col("state")]
    return nodes.select(
        "state",
        F.when(d >= F.lit(SSSP_INF), F.lit(None)).otherwise(d).alias(
            "dist_cost"
        ),
    )


@register(
    "ev_sssp_broadcast",
    oracle=_sssp_oracle(),
    tags=("events", "graph", "sssp", "iterative", "beyond-reference"),
    eager=True,
)
def ev_sssp_broadcast(spark: SparkSession, sf: str) -> DataFrame:
    """The PRODUCTION twin of ev_sssp_bellman_ford: identical
    semantics and oracle, but the distance vector NEVER lives on the
    driver — it is a distributed (node, d) frame, each round relaxes
    via a real BROADCAST HASH JOIN of the settled distances against
    the shared cached edge frame, and convergence is a 1-row improved
    probe. This is the exact build SCALE.md's cutover row prescribes
    once the frontier outgrows the literal-map plan (~10⁴ nodes): the
    literal variant demonstrates the low-latency small-graph shape,
    this one the shape that survives web-scale node counts (swap
    F.broadcast for a co-partitioned join against a bucketed edge
    table past broadcast size, and the improved probe for an
    accumulator).

    Per round: relax ALL settled nodes (classic Bellman-Ford — no
    frontier, since frontier tracking is driver state by nature),
    min-combine candidates, least() against the current vector, and
    localCheckpoint to truncate the iteration lineage (the star-CC
    lesson: per-round plans otherwise nest and the analyzer becomes
    the bottleneck). Positive weights bound convergence at V-1 rounds;
    the build asserts V-1 <= SSSP_ROUNDS from one scalar count (no
    node collect anywhere), and extra oracle rounds are identity, so
    the early-exit and the fixed unroll meet at the same fixed
    point."""
    edges, nodes = _transition_graph(spark, sf)
    wedges = _weighted_edges(edges)
    # ONE driver round-trip for both scalars (review r12)
    n_nodes, src = nodes.agg(F.count("*"), F.min("state")).first()
    if n_nodes - 1 > SSSP_ROUNDS:
        raise ValueError(
            f"{n_nodes} states need {n_nodes - 1} relaxation rounds but"
            f" SSSP_ROUNDS={SSSP_ROUNDS}; raise it (oracle unrolls the"
            " same constant)"
        )
    dist = nodes.select(
        F.col("state").alias("node"),
        F.when(F.col("state") == F.lit(src), F.lit(0))
        .otherwise(F.lit(SSSP_INF))
        .cast("long")
        .alias("d"),
    ).localCheckpoint(eager=False)
    for _ in range(SSSP_ROUNDS):
        # lazy: the improved probe is the round's first action, so it
        # materializes the checkpoint and answers in one job (the
        # star-CC fusion — review r12)
        new = _sssp_relax_round(wedges, dist).localCheckpoint(eager=False)
        improved = (
            new.alias("n")
            .join(dist.alias("o"), F.col("n.node") == F.col("o.node"))
            .where(F.col("n.d") < F.col("o.d"))
            .limit(1)
            .count()
        )
        dist = new
        if improved == 0:
            break
    d = F.col("d")
    return dist.select(
        F.col("node").alias("state"),
        F.when(d >= F.lit(SSSP_INF), F.lit(None)).otherwise(d).alias(
            "dist_cost"
        ),
    )
