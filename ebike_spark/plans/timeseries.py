"""Time-series extension operators over the ``events`` table: gap-fill
(LOCF), hierarchical rollup by partial reaggregation, sweep-line
concurrency via a distributed prefix sum, and SCD-2 interval building.

The reference has no time-series surface (SURVEY §1.5); these are
Spark-native extensions in the TimescaleDB/ClickHouse idiom
(`time_bucket_gapfill`, continuous aggregates, `windowFunnel`-family),
re-expressed declaratively so Catalyst owns the physical plan.

Shared conventions with plans/analytics.py: timestamps are emitted as
epoch seconds (BIGINT), window orderings carry the unique ``event_id``
tiebreaker, floats are rounded at the output boundary only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ebike_spark.artifacts import persisted
from ebike_spark.plans.registry import register
from ebike_spark.sources.registry import load_table

# Sweep-line interval length: each event is an open presence interval
# [ts, ts + 30 min) — the sessionization gap family (SESSION_GAP_SEC/2
# would also do; the constant only has to match the oracle).
PRESENCE_US = 1_800_000_000
HOUR_US = 3_600_000_000


@register(
    "ev_gapfill_locf",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi FROM events),
    spine AS (
      SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    agg AS (
      SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n, SUM(value) AS total
      FROM events GROUP BY 1, 2)
    SELECT CAST(epoch(s.h) AS BIGINT) AS win_start, t.event_type,
           COALESCE(a.n, 0) AS n,
           ROUND(COALESCE(
             LAST_VALUE(a.total IGNORE NULLS) OVER (
               PARTITION BY t.event_type ORDER BY s.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0), 2) AS total_locf,
           (a.n IS NULL) AS filled
    FROM spine s CROSS JOIN types t
    LEFT JOIN agg a ON a.h = s.h AND a.event_type = t.event_type
    """,
    tags=("events", "time", "gapfill"),
)
def ev_gapfill_locf(spark: SparkSession, sf: str) -> DataFrame:
    """`time_bucket_gapfill` + LOCF: a dense (hour × event_type) spine
    left-joined onto the hourly aggregate, missing buckets carrying the
    last observed total forward.

    Scale shape: the raw table is touched exactly twice (bounds scalar
    + hourly groupBy) and only AGGREGATED rows flow onward. The spine is
    #hours × #types — bucket-grid-sized, not data-sized — so the grid
    side broadcasts and the LOCF window partitions over at most
    #types × #hours rows. At 100 TB the hourly aggregate is ~10⁵ rows;
    nothing downstream of the first groupBy scales with raw data.
    """
    return gapfill_locf(load_table(spark, sf, "events"))


def gapfill_locf(ev: DataFrame) -> DataFrame:
    """DataFrame-level core of ev_gapfill_locf (shared with the 10×
    scale probe)."""
    agg = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(F.count("*").alias("n"), F.sum("value").alias("total"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    types = ev.select("event_type").distinct()
    grid = F.broadcast(spine.crossJoin(types))
    locf = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.join(agg, ["h", "event_type"], "left").select(
        F.col("h").cast("long").alias("win_start"),
        "event_type",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.round(
            F.coalesce(F.last("total", ignorenulls=True).over(locf), F.lit(0.0)), 2
        ).alias("total_locf"),
        F.col("n").isNull().alias("filled"),
    )


@register(
    "ev_hierarchical_rollup",
    oracle="""
    SELECT 'minute' AS level, CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS bucket_start,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'hour', CAST(epoch(date_trunc('hour', ts)) AS BIGINT), event_type,
           COUNT(*), ROUND(SUM(value), 2)
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'day', CAST(epoch(date_trunc('day', ts)) AS BIGINT), event_type,
           COUNT(*), ROUND(SUM(value), 2)
    FROM events GROUP BY 2, 3
    """,
    tags=("events", "time", "rollup"),
)
def ev_hierarchical_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous-aggregate-style hierarchical rollup: the raw table is
    scanned ONCE into minute partials; hour re-aggregates the minute
    partials and day re-aggregates the hour partials (COUNT/SUM are
    decomposable, so reaggregation is exact).

    Scale shape: this is the materialized-rollup pattern — at 100 TB the
    hour and day levels read ~10⁶ partial rows instead of re-scanning
    10¹¹ raw rows. The minute partials are persisted so the three
    branches of the union share one scan+shuffle (Catalyst does not
    dedupe common subtrees across union branches on its own).
    """
    return hierarchical_rollup(load_table(spark, sf, "events"))


def hierarchical_rollup(ev: DataFrame) -> DataFrame:
    """DataFrame-level core of ev_hierarchical_rollup (shared with the
    10× scale probe)."""
    # pooled persist (not a bare .persist()): superseded entries are
    # unpersisted, so repeated invocations in a resident session don't
    # accumulate cached copies; identical inputs are served warm
    minute = persisted(
        ev.sparkSession,
        "rollup_minute_partials",
        ev.groupBy(F.date_trunc("minute", F.col("ts")).alias("b"), "event_type").agg(
            F.count("*").alias("n"), F.sum("value").alias("total")
        ),
    )
    hour = minute.groupBy(
        F.date_trunc("hour", F.col("b")).alias("b"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
    day = hour.groupBy(
        F.date_trunc("day", F.col("b")).alias("b"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("total").alias("total"))

    def out(df: DataFrame, level: str) -> DataFrame:
        return df.select(
            F.lit(level).alias("level"),
            F.col("b").cast("long").alias("bucket_start"),
            "event_type",
            "n",
            F.round("total", 2).alias("total"),
        )

    return out(minute, "minute").unionByName(out(hour, "hour")).unionByName(
        out(day, "day")
    )


@register(
    "ev_concurrency",
    oracle=f"""
    WITH deltas AS (
      SELECT epoch_us(ts) AS t, 1 AS d, event_id FROM events
      UNION ALL
      SELECT epoch_us(ts) + {PRESENCE_US} AS t, -1 AS d, event_id FROM events),
    run AS (
      SELECT t, SUM(d) OVER (ORDER BY t, d, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      FROM deltas)
    SELECT CAST(t // {HOUR_US} * 3600 AS BIGINT) AS hour_start,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrency, COUNT(*) AS n_deltas
    FROM run GROUP BY 1
    """,
    tags=("events", "time", "sweep-line"),
)
def ev_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    """Peak concurrency per hour by sweep line: each event contributes a
    +1 at ts and a -1 at ts+30min; concurrency is the running sum of
    deltas in global (t, d, event_id) order (-1 sorts before +1 at equal
    t: back-to-back intervals don't overlap).

    The naive plan — one running sum over a globally ordered window —
    is a single-task sort. This is the DISTRIBUTED PREFIX SUM instead:
    (1) per hour-bucket local running sums (shuffle partitioned by
    bucket, parallel); (2) per-bucket delta totals, prefix-summed over
    the tiny bucket axis (#hours rows — the only single-partition
    window, grid-sized not data-sized); (3) broadcast the bucket
    offsets back and add. Identical values to the global window at any
    scale, with the data-sized work fully partitioned.
    """
    return concurrency_sweep(load_table(spark, sf, "events"))


def concurrency_sweep(ev: DataFrame) -> DataFrame:
    """DataFrame-level core of ev_concurrency (shared with the 10×
    scale probe)."""
    starts = ev.select(
        F.unix_micros("ts").alias("t"), F.lit(1).alias("d"), "event_id"
    )
    ends = ev.select(
        (F.unix_micros("ts") + F.lit(PRESENCE_US)).alias("t"),
        F.lit(-1).alias("d"),
        "event_id",
    )
    deltas = starts.unionByName(ends).withColumn(
        "bucket", F.expr(f"t div {HOUR_US}")
    )
    local_w = (
        Window.partitionBy("bucket")
        .orderBy("t", "d", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = deltas.withColumn("local_sum", F.sum("d").over(local_w))
    # Bucket axis: one row per hour — prefix-sum it on a single
    # partition (grid-sized) and broadcast the offsets back.
    off_w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        deltas.groupBy("bucket")
        .agg(F.sum("d").alias("bsum"))
        .select(
            "bucket", F.coalesce(F.sum("bsum").over(off_w), F.lit(0)).alias("off")
        )
    )
    return (
        local.join(F.broadcast(offsets), "bucket")
        .groupBy((F.col("bucket") * 3600).alias("hour_start"))
        .agg(
            F.max(F.col("local_sum") + F.col("off")).alias("peak_concurrency"),
            F.count("*").alias("n_deltas"),
        )
    )


@register(
    "ev_scd2_intervals",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events),
    changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type),
    iv AS (
      -- epoch_us // 1e6 floors like Spark's timestamp->long cast
      -- (CAST(epoch(ts) AS BIGINT) would ROUND the sub-second part).
      SELECT user_id, event_type,
             epoch_us(ts) // 1000000 AS valid_from,
             LEAD(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      FROM changes)
    SELECT user_id, event_type, valid_from, valid_to,
           (valid_to IS NULL) AS is_current,
           valid_to - valid_from AS duration_sec
    FROM iv
    """,
    tags=("events", "time", "scd2"),
)
def ev_scd2_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """SCD-type-2 interval building from a change log: collapse
    consecutive equal states per user (LAG), then close each surviving
    state with the next change's timestamp (LEAD); the open interval is
    flagged current.

    Scale shape: both windows partition by user_id — one hash exchange,
    reused by the second window (same partitioning), per-user data is
    tiny. This is the streaming-CDC "snapshot compaction" expressed as
    two window passes; no join, no grid.
    """
    ev = load_table(spark, sf, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(order_w))
        .where(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .select("user_id", "event_type", "ts", "event_id")
    )
    valid_to = F.lead(F.col("ts").cast("long")).over(order_w)
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").cast("long").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
        (valid_to - F.col("ts").cast("long")).alias("duration_sec"),
    )


@register(
    "ev_path_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events)
    SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n,
           ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY event_type), 6) AS p
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
    tags=("events", "time", "markov"),
)
def ev_path_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix of user event paths:
    (from_type → to_type) counts via LEAD per user, row-normalized to
    transition probabilities.

    Scale shape: one user_id exchange for the LEAD window (per-user
    data tiny), then the count groupBy collapses to types² rows — the
    normalizing window runs over that types²-sized frame, not the
    event stream. The path-analysis primitive behind next-action
    prediction and funnel discovery."""
    ev = load_table(spark, sf, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(order_w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    counts = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count("*").alias("n"))
    norm = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(norm), 6).alias("p"),
    )


@register(
    "ev_markov_sessions",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000
                       OR LAG(epoch_us(ts)) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, event_id, event_type, t,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g),
    seq AS (
      SELECT event_type,
             LAG(event_type) OVER ws AS prev,
             LEAD(event_type) OVER ws AS next
      FROM s WINDOW ws AS (PARTITION BY user_id, sid ORDER BY t, event_id)),
    tr AS (
      SELECT COALESCE(prev, 'START') AS from_state, event_type AS to_state FROM seq
      UNION ALL
      SELECT event_type, 'END' FROM seq WHERE next IS NULL)
    SELECT from_state, to_state, COUNT(*) AS n,
           COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY from_state) AS p
    FROM tr GROUP BY 1, 2
    """,
    tags=("events", "time", "markov", "sessions"),
)
def ev_markov_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Session-bounded first-order Markov chain with virtual START/END
    states: transitions never cross a 30-minute session gap (same rule
    as ev_sessionize), each session contributes a START→first-event
    entry edge and a last-event→END exit edge. Unlike
    ev_path_transitions (corpus-wide LEAD, no boundaries), this yields
    the entry/exit distribution clickstream models actually train on.

    Scale shape: the gap test, the session-id running sum, and the
    within-session LAG/LEAD all share ONE user_id hash exchange
    (HashPartitioning(user_id) satisfies the (user_id, sid) clustering
    requirement — only a local re-sort is added). Each event emits its
    1-2 transition edges through ONE explode of a per-row array — no
    UNION re-windowing, no second scan. The count groupBy collapses to
    at most (types+1)² rows; the normalizing window runs over that
    constant-sized frame. p = n / total is a single IEEE division of
    two exact BIGINTs — bit-identical across engines, no rounding.
    (The oracle's UNION ALL re-reads a CTE; DuckDB-side cost only.)"""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    g = ev.select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("t")
    ).withColumn(
        "new_s",
        F.when(
            (F.col("t") - F.lag("t").over(w) > 1800 * 1_000_000)
            | F.lag("t").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    s = g.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    ws = Window.partitionBy("user_id", "sid").orderBy("t", "event_id")
    seq = s.select(
        "event_type",
        F.lag("event_type").over(ws).alias("prev"),
        F.lead("event_type").over(ws).alias("next"),
    )
    entry_edge = F.struct(
        F.coalesce("prev", F.lit("START")).alias("from_state"),
        F.col("event_type").alias("to_state"),
    )
    exit_edge = F.when(
        F.col("next").isNull(),
        F.struct(
            F.col("event_type").alias("from_state"), F.lit("END").alias("to_state")
        ),
    )
    tr = seq.select(
        F.explode(F.array_compact(F.array(entry_edge, exit_edge))).alias("e")
    ).select("e.from_state", "e.to_state")
    counts = tr.groupBy("from_state", "to_state").agg(F.count("*").alias("n"))
    norm = Window.partitionBy("from_state")
    return counts.select(
        "from_state",
        "to_state",
        "n",
        (F.col("n") / F.sum("n").over(norm)).alias("p"),
    )


@register(
    "ev_user_paths_topk",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000
                       OR LAG(epoch_us(ts)) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, event_id, event_type, t,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g),
    paths AS (
      SELECT user_id, sid,
             STRING_AGG(event_type, '>' ORDER BY t, event_id) AS path
      FROM s GROUP BY 1, 2)
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY 1
    ORDER BY n_sessions DESC, path LIMIT 10
    """,
    tags=("events", "time", "sessions", "paths"),
)
def ev_user_paths_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 user journeys: the most frequent full session paths
    ('view>cart>purchase'), sessions cut at the 30-minute gap. The
    product-analytics staple behind journey-discovery dashboards;
    deterministic tiebreak on the path string.

    Scale shape: sessionization shares the one user_id exchange as
    above; the per-session path is built by sorting each session's
    OWN events (array_sort over a struct array — per-session memory,
    bounded by session length, never a global sort); the path groupBy
    shuffles one row per session (not per event), and the final top-10
    is a TakeOrderedAndProject, never a full sort."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    g = ev.select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("t")
    ).withColumn(
        "new_s",
        F.when(
            (F.col("t") - F.lag("t").over(w) > 1800 * 1_000_000)
            | F.lag("t").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    s = g.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    paths = s.groupBy("user_id", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("t", "event_id", "event_type"))),
                lambda e: e.event_type,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(10)
    )


@register(
    "ev_gapfill_interp",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi FROM events),
    spine AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    agg AS (SELECT date_trunc('hour', ts) AS h, event_type,
                   ROUND(SUM(value), 6) AS total
            FROM events GROUP BY 1, 2),
    g AS (
      SELECT s.h, t.event_type, a.total FROM spine s CROSS JOIN types t
      LEFT JOIN agg a ON a.h = s.h AND a.event_type = t.event_type),
    ctx AS (
      SELECT h, event_type, total,
        LAST_VALUE(total IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        LAST_VALUE(CASE WHEN total IS NOT NULL THEN epoch(h) END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY h
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ph,
        FIRST_VALUE(total IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        FIRST_VALUE(CASE WHEN total IS NOT NULL THEN epoch(h) END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY h
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nh
      FROM g)
    -- no final ROUND: the raw doubles are bit-identical across engines
    -- (inputs snapped at 6 decimals), while round() itself diverges on
    -- interpolation midpoints - DuckDB rounds the shortest decimal
    -- representation (11.254999999999999 -> 11.26), Spark rounds the
    -- exact binary value (-> 11.25)
    SELECT CAST(epoch(h) AS BIGINT) AS win_start, event_type,
      CASE WHEN total IS NOT NULL THEN total
           WHEN pv IS NOT NULL AND nv IS NOT NULL
             THEN pv + (nv - pv) * (epoch(h) - ph) / (nh - ph)
      END AS total_interp,
      (total IS NULL) AS filled
    FROM ctx
    """,
    tags=("events", "time", "gapfill", "interpolation"),
)
def ev_gapfill_interp(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-fill with LINEAR INTERPOLATION (the `interpolate()` half of
    the TimescaleDB gapfill pair; ev_gapfill_locf is the carry-forward
    half): a missing bucket takes the time-weighted blend of the
    nearest real observations on each side; buckets outside the first/
    last real observation stay NULL.

    Scale shape: identical to LOCF — raw data is touched only by the
    hourly aggregate; both directional windows (last-before, first-
    after) run over the grid-sized frame and share one exchange (same
    partitioning + ordering; Spark computes ascending and descending
    frames in one Window operator pass)."""
    ev = load_table(spark, sf, "events")
    # ROUND(sum, 6) BEFORE the windows: partial-aggregation order makes
    # the raw double sums differ from the oracle's in the last ulp, and
    # the interpolation arithmetic amplifies that across the final
    # 2-decimal rounding boundary (measured: 23/3600 rows flipped).
    # Snapping both engines to 6 decimals first makes every downstream
    # double op bit-identical.
    agg = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(F.round(F.sum("value"), 6).alias("total"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    types = ev.select("event_type").distinct()
    grid = F.broadcast(spine.crossJoin(types))
    g = grid.join(agg, ["h", "event_type"], "left").select(
        F.col("h").cast("long").alias("hs"), "event_type", "total"
    )
    before = (
        Window.partitionBy("event_type")
        .orderBy("hs")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    after = (
        Window.partitionBy("event_type")
        .orderBy("hs")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    real_t = F.when(F.col("total").isNotNull(), F.col("hs"))
    pv = F.last("total", ignorenulls=True).over(before)
    ph = F.last(real_t, ignorenulls=True).over(before)
    nv = F.first("total", ignorenulls=True).over(after)
    nh = F.first(real_t, ignorenulls=True).over(after)
    interp = F.when(F.col("total").isNotNull(), F.col("total")).otherwise(
        F.when(
            pv.isNotNull() & nv.isNotNull(),
            pv + (nv - pv) * (F.col("hs") - ph) / (nh - ph),
        )
    )
    # emitted UNROUNDED (see the oracle comment): with 6-decimal-snapped
    # inputs the two engines' doubles are bit-identical, while a final
    # round() diverges on midpoints (engine rounding semantics differ)
    return g.select(
        F.col("hs").alias("win_start"),
        "event_type",
        interp.alias("total_interp"),
        F.col("total").isNull().alias("filled"),
    )


@register(
    "ev_rate_moving",
    oracle="""
    WITH m AS (
      SELECT event_type, CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS b,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2)
    SELECT event_type, b AS bucket_start, n,
      CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY b
                   RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_1h,
      n - LAG(n) OVER (PARTITION BY event_type ORDER BY b) AS delta_n
    FROM m
    """,
    tags=("events", "time", "window", "range-frame", "rate"),
)
def ev_rate_moving(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 1h moving event count + per-bucket rate delta over the
    minute rollup — the alerting primitive behind spike detection. The
    frame is a RANGE (time-based) frame, not ROWS: sparse minutes mean
    row-offset frames silently span more than an hour, so the window
    must be value-bounded on epoch seconds (RANGE BETWEEN 3599
    PRECEDING). delta_n is vs the previous EXISTING bucket (LAG), the
    same convention both engines share. All outputs integer-exact — no
    float parity risk.

    Scale shape: the raw stream reduces to minute×type partials FIRST
    (map-side combined groupBy — the only event-data shuffle); the
    RANGE window then runs over the bounded partial frame (~types ×
    minutes rows), sorted within each event_type partition. Same
    partial-reduction contract as ev_hierarchical_rollup."""
    m = (
        load_table(spark, sf, "events")
        .groupBy("event_type", F.date_trunc("minute", F.col("ts")).alias("bt"))
        .agg(F.count("*").alias("n"))
        .select("event_type", F.col("bt").cast("long").alias("b"), "n")
    )
    w_range = (
        Window.partitionBy("event_type").orderBy("b").rangeBetween(-3599, 0)
    )
    w_prev = Window.partitionBy("event_type").orderBy("b")
    return m.select(
        "event_type",
        F.col("b").alias("bucket_start"),
        "n",
        F.sum("n").over(w_range).alias("n_1h"),
        (F.col("n") - F.lag("n").over(w_prev)).alias("delta_n"),
    )


@register(
    "ev_value_histogram",
    oracle="""
    SELECT event_type, CAST(FLOOR(value / 10) AS BIGINT) AS bin,
           COUNT(*) AS n, ROUND(MIN(value), 2) AS min_v, ROUND(MAX(value), 2) AS max_v
    FROM events GROUP BY 1, 2
    """,
    tags=("events", "histogram"),
)
def ev_value_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width value histogram per event type (bin width 10) —
    the distribution profile behind alert thresholds and bin-packed
    downsampling. Binning is a scan-speed expression; the groupBy
    carries types × bins partials (map-side combined)."""
    ev = load_table(spark, sf, "events")
    return ev.groupBy(
        "event_type",
        F.floor(F.col("value") / 10).cast("long").alias("bin"),
    ).agg(
        F.count("*").alias("n"),
        F.round(F.min("value"), 2).alias("min_v"),
        F.round(F.max("value"), 2).alias("max_v"),
    )


FUNNEL_WINDOW_US = 86_400_000_000  # 24h: the whole chain must fit


@register(
    "ev_funnel_windowed",
    oracle=f"""
    WITH f1 AS (SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY 1),
    f2 AS (SELECT e.user_id, f1.t1, MIN(epoch_us(e.ts)) AS t2 FROM events e
           JOIN f1 ON e.user_id = f1.user_id
           WHERE e.event_type = 'click' AND epoch_us(e.ts) > f1.t1
             AND epoch_us(e.ts) <= f1.t1 + {FUNNEL_WINDOW_US} GROUP BY 1, 2),
    f3 AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3 FROM events e
           JOIN f2 ON e.user_id = f2.user_id
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > f2.t2
             AND epoch_us(e.ts) <= f2.t1 + {FUNNEL_WINDOW_US} GROUP BY 1)
    SELECT * FROM (
      SELECT CAST(1 AS INTEGER) AS stage_idx, 'view' AS stage,
             (SELECT COUNT(*) FROM f1) AS n_users
      UNION ALL
      SELECT CAST(2 AS INTEGER), 'click', (SELECT COUNT(*) FROM f2)
      UNION ALL
      SELECT CAST(3 AS INTEGER), 'purchase', (SELECT COUNT(*) FROM f3))
    WHERE n_users > 0
    """,
    tags=("events", "funnel", "windowed", "sequence"),
)
def ev_funnel_windowed(spark: SparkSession, sf: str) -> DataFrame:
    """Windowed ordered funnel (the `windowFunnel(T)` constraint):
    stages advance strictly in time AND the whole chain must complete
    within 24h of the user's first stage-1 event (the anchor). Same
    single-shuffle sorted-scan shape as ev_funnel — the accumulator
    additionally carries the anchor time; the oracle's nested-min
    joins add the `<= t1 + T` bound per stage.

    Scale shape: identical to ev_funnel — ONE user_id shuffle, linear
    Catalyst-HOF scan per user, stage filter pushed to the parquet
    scan; the window constraint is pure accumulator arithmetic."""
    from ebike_spark.plans.analytics import FUNNEL_STAGES

    stage_arr = F.array(*[F.lit(s) for s in FUNNEL_STAGES])
    n_stages = len(FUNNEL_STAGES)
    evs = load_table(spark, sf, "events").where(
        F.col("event_type").isin(*FUNNEL_STAGES)
    ).select(
        "user_id",
        F.struct(F.unix_micros("ts").alias("t"), F.col("event_type").alias("et")).alias("e"),
    )
    init = F.struct(
        F.lit(0).alias("s"), F.lit(0).cast("long").alias("t"), F.lit(0).cast("long").alias("anchor")
    )

    def step(acc, x):
        want = F.element_at(stage_arr, F.least(acc["s"] + 1, F.lit(n_stages)))
        can = (
            (acc["s"] < n_stages)
            & (x["et"] == want)
            & ((acc["s"] == 0) | ((x["t"] > acc["t"]) & (x["t"] <= acc["anchor"] + FUNNEL_WINDOW_US)))
        )
        new_anchor = F.when(acc["s"] == 0, x["t"]).otherwise(acc["anchor"])
        return F.when(
            can,
            F.struct((acc["s"] + 1).alias("s"), x["t"].alias("t"), new_anchor.alias("anchor")),
        ).otherwise(acc)

    reached = (
        evs.groupBy("user_id")
        .agg(F.array_sort(F.collect_list("e")).alias("seq"))
        .select(F.aggregate("seq", init, step)["s"].alias("s"))
        .where(F.col("s") >= 1)
    )
    return (
        reached.select(F.explode(F.sequence(F.lit(1), F.col("s"))).alias("stage_idx"))
        .groupBy("stage_idx")
        .agg(F.count("*").alias("n_users"))
        .select(
            "stage_idx",
            F.element_at(stage_arr, F.col("stage_idx")).alias("stage"),
            "n_users",
        )
    )


@register(
    "ev_funnel_sliding",
    oracle=f"""
    WITH a AS (SELECT user_id, epoch_us(ts) AS t1 FROM events
               WHERE event_type = 'view'),
    s2 AS (SELECT a.user_id, a.t1, MIN(epoch_us(e.ts)) AS t2 FROM a JOIN events e
             ON e.user_id = a.user_id AND e.event_type = 'click'
            AND epoch_us(e.ts) > a.t1
            AND epoch_us(e.ts) <= a.t1 + {FUNNEL_WINDOW_US} GROUP BY 1, 2),
    s3 AS (SELECT s2.user_id FROM s2 JOIN events e
             ON e.user_id = s2.user_id AND e.event_type = 'purchase'
            AND epoch_us(e.ts) > s2.t2
            AND epoch_us(e.ts) <= s2.t1 + {FUNNEL_WINDOW_US} GROUP BY 1),
    lvl AS (SELECT u.user_id,
              CASE WHEN u.user_id IN (SELECT user_id FROM s3) THEN 3
                   WHEN u.user_id IN (SELECT user_id FROM s2) THEN 2
                   ELSE 1 END AS level
            FROM (SELECT DISTINCT user_id FROM a) u)
    SELECT level, COUNT(*) AS n_users FROM lvl GROUP BY 1
    """,
    tags=("events", "funnel", "windowed", "sequence", "any-anchor"),
)
def ev_funnel_sliding(spark: SparkSession, sf: str) -> DataFrame:
    """ClickHouse-exact sliding windowFunnel: a user's level is the
    DEEPEST stage chain completable within 24h of ANY of their stage-1
    events, not just the first (ev_funnel_windowed's anchor). Per
    anchor, greedily taking the earliest valid next-stage event is
    optimal (exchange argument: an earlier t never excludes a later
    chain step), so max-over-anchors of the greedy depth is exact —
    the same per-anchor nested-min chain the oracle runs.

    Scale shape: ONE user_id shuffle; per user a nested Catalyst HOF —
    outer transform over that user's anchors, inner aggregate over the
    anchor's 24h slice — JVM-interpreted HOFs (HOF lambdas evaluate
    outside whole-stage codegen, see functions/textfns.py), but
    JVM-side and Python-free. Per-user cost is
    O(anchors × events), bounded by the per-user event count (the same
    bound sessionize and ev_funnel already assume); the stage filter
    is pushed to the parquet scan."""
    from ebike_spark.plans.analytics import FUNNEL_STAGES

    n_stages = len(FUNNEL_STAGES)
    stage_arr = F.array(*[F.lit(s) for s in FUNNEL_STAGES])
    evs = load_table(spark, sf, "events").where(
        F.col("event_type").isin(*FUNNEL_STAGES)
    ).select(
        "user_id",
        F.struct(
            F.unix_micros("ts").alias("t"), F.col("event_type").alias("et")
        ).alias("e"),
    )

    def depth_from(anchor):
        # anchor consumed as stage 1; chain stages 2..n greedily inside
        # the anchor's window slice
        init = F.struct(F.lit(1).alias("s"), anchor["t"].alias("t"))

        def step(acc, x):
            want = F.element_at(stage_arr, F.least(acc["s"] + 1, F.lit(n_stages)))
            can = (acc["s"] < n_stages) & (x["et"] == want) & (x["t"] > acc["t"])
            return F.when(
                can, F.struct((acc["s"] + 1).alias("s"), x["t"].alias("t"))
            ).otherwise(acc)

        return F.aggregate(
            F.filter(
                F.col("seq"),
                lambda x: (x["t"] > anchor["t"])
                & (x["t"] <= anchor["t"] + F.lit(FUNNEL_WINDOW_US)),
            ),
            init,
            step,
        )["s"]

    anchors = F.filter(F.col("seq"), lambda e: e["et"] == FUNNEL_STAGES[0])
    return (
        evs.groupBy("user_id")
        .agg(F.array_sort(F.collect_list("e")).alias("seq"))
        .select(F.array_max(F.transform(anchors, depth_from)).alias("level"))
        .where(F.col("level").isNotNull())
        .groupBy("level")
        .agg(F.count("*").alias("n_users"))
    )


@register(
    "ev_active_users",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events)
    SELECT 'day' AS level, CAST(epoch(d) AS BIGINT) AS bucket_start,
           COUNT(DISTINCT user_id) AS n_active
    FROM ud GROUP BY 2
    UNION ALL
    SELECT 'week', CAST(epoch(date_trunc('week', d)) AS BIGINT), COUNT(DISTINCT user_id)
    FROM ud GROUP BY 2
    UNION ALL
    SELECT 'month', CAST(epoch(date_trunc('month', d)) AS BIGINT), COUNT(DISTINCT user_id)
    FROM ud GROUP BY 2
    """,
    tags=("events", "time", "active-users"),
)
def ev_active_users(spark: SparkSession, sf: str) -> DataFrame:
    """DAU / WAU / MAU in one query: the raw stream reduces ONCE to the
    distinct (user, day) frame — bounded by users × calendar days, not
    event volume — and every granularity derives from that compact
    frame (day = its row counts; week/month = count-distinct over it).
    The same partial-reduction idea as the hierarchical rollup, applied
    to the non-decomposable COUNT DISTINCT: distinct-by-day IS the
    reaggregatable partial for any coarser calendar window."""
    ev = load_table(spark, sf, "events")
    ud = persisted(
        spark,
        "active_users_user_day",
        lambda: ev.select(
            "user_id", F.date_trunc("day", F.col("ts")).alias("d")
        ).distinct(),
        key=sf,
    )
    day = ud.groupBy("d").agg(F.count("*").alias("n_active")).select(
        F.lit("day").alias("level"), F.col("d").cast("long").alias("bucket_start"), "n_active"
    )
    week = (
        ud.groupBy(F.date_trunc("week", F.col("d")).alias("w"))
        .agg(F.count_distinct("user_id").alias("n_active"))
        .select(F.lit("week").alias("level"), F.col("w").cast("long").alias("bucket_start"), "n_active")
    )
    month = (
        ud.groupBy(F.date_trunc("month", F.col("d")).alias("m"))
        .agg(F.count_distinct("user_id").alias("n_active"))
        .select(F.lit("month").alias("level"), F.col("m").cast("long").alias("bucket_start"), "n_active")
    )
    return day.unionByName(week).unionByName(month)


@register(
    "ev_active_users_hll",
    # The sketch ESTIMATE is engine-specific, so the externally-checked
    # output is the bounds-checked verdict: exact per-bucket distinct
    # count + a boolean asserting the HLL estimate landed within ±2%
    # (TIGHTENED r10 from ±5%, VERDICT-r9 task 4 — measured max
    # per-bucket deviation: 0 at sf0.001/0.01 where sparse mode is
    # exact, 0.8% at sf0.1; the sketch is deterministic at fixed
    # data, so 2% is 2.5× the worst measured while a real estimator
    # regression lands far outside it). The oracle is trivially exact
    # — it emits the same exact counts and a constant TRUE. A sketch
    # drifting out of bounds flips the boolean and fails the hash
    # compare. Same recall-verdict trick as the ANN sketch queries
    # (VERDICT-r5 task 6).
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', ts) AS b, COUNT(DISTINCT user_id) AS n
      FROM events GROUP BY 1),
    m AS (
      SELECT date_trunc('month', ts) AS b, COUNT(DISTINCT user_id) AS n
      FROM events GROUP BY 1)
    SELECT 'day' AS level, CAST(epoch_us(b) // 1000000 AS BIGINT) AS bucket_start,
           CAST(n AS BIGINT) AS n_active_exact, TRUE AS est_within_2pct
    FROM d
    UNION ALL
    SELECT 'month', CAST(epoch_us(b) // 1000000 AS BIGINT), CAST(n AS BIGINT), TRUE
    FROM m
    """,
    tags=("events", "sketch", "hll", "active-users"),
)
def ev_active_users_hll(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-based DAU→MAU: one HLL (Apache DataSketches) per day,
    month totals from hll_union_agg over the DAY SKETCHES — no raw
    re-scan, no (user, day) materialization. This is the scale path
    when ev_active_users' distinct frame stops being compact (10⁹ users
    × 365 days): sketches are ~KB each, mergeable associatively, and
    the coarser level's cost is sketch-count-sized.

    The emitted rows carry the EXACT count (audit twin, computed here
    at test scale so the external oracle can hash-match) plus a boolean
    verdict that the sketch estimate is within ±5% of it. In the 100 TB
    production shape the exact branch is dropped and the estimate
    column stands alone; the verdict column is what makes the sketch
    externally checkable without hashing an engine-specific estimate.
    """
    ev = load_table(spark, sf, "events")
    day = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    # single-subtree form (r14): the old daily ∪ monthly union planned
    # the day-sketch aggregate TWICE (Spark does not reuse identical
    # shuffle stages across union branches — measured, even for
    # byte-identical children), i.e. two full raw-event scans. Instead
    # the month union rides a month-partitioned window over the one
    # day frame (calendar-days-sized, so the extra exchange is ~KBs)
    # and both levels leave via one explode — hll_union_agg is
    # order-insensitive (max-register merge), so the window union is
    # bit-identical to the groupBy union it replaces.
    wm = Window.partitionBy(F.date_trunc("month", F.col("d")))
    enr = day.select(
        "d",
        F.date_trunc("month", F.col("d")).alias("m"),
        F.hll_sketch_estimate("sk").alias("day_est"),
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(wm)).alias(
            "month_est"
        ),
        F.row_number().over(wm.orderBy("d")).alias("rn"),
    )
    levels = F.explode(
        F.array(
            F.struct(
                F.lit("day").alias("level"),
                F.col("d").cast("long").alias("bucket_start"),
                F.col("day_est").alias("n_active_est"),
            ),
            F.when(
                F.col("rn") == 1,
                F.struct(
                    F.lit("month").alias("level"),
                    F.col("m").cast("long").alias("bucket_start"),
                    F.col("month_est").alias("n_active_est"),
                ),
            ),
        )
    ).alias("p")
    est = enr.select(levels).where(F.col("p").isNotNull()).select("p.*")
    # the exact audit derives from ONE distinct (user, day) partial —
    # the same persisted frame ev_active_users builds (shared cache
    # tag), so the audit adds no extra raw-events scan: day exact is
    # its row count per day, month exact its per-month user distinct
    # (a monthly-active user necessarily has a day row)
    ud = persisted(
        spark,
        "active_users_user_day",
        lambda: ev.select(
            "user_id", F.date_trunc("day", F.col("ts")).alias("d")
        ).distinct(),
        key=sf,
    )
    exact_day = ud.groupBy(F.col("d").alias("b")).agg(
        F.count("*").alias("n_active_exact")
    )
    exact_month = ud.groupBy(
        F.date_trunc("month", F.col("d")).alias("b")
    ).agg(F.count_distinct("user_id").alias("n_active_exact"))
    exact = exact_day.select(
        F.lit("day").alias("level"),
        F.col("b").cast("long").alias("bucket_start"),
        "n_active_exact",
    ).unionByName(
        exact_month.select(
            F.lit("month").alias("level"),
            F.col("b").cast("long").alias("bucket_start"),
            "n_active_exact",
        )
    )
    return est.join(exact, ["level", "bucket_start"]).select(
        "level",
        "bucket_start",
        "n_active_exact",
        (
            F.abs(F.col("n_active_est") - F.col("n_active_exact"))
            <= 0.02 * F.col("n_active_exact")
        ).alias("est_within_2pct"),
    )


@register(
    "ev_session_stats",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, epoch_us(ts) AS t,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000
                       OR LAG(epoch_us(ts)) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, t,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g),
    sess AS (
      SELECT user_id, sid, COUNT(*) AS n_events,
             (MAX(t) - MIN(t)) // 1000000 AS duration_sec
      FROM s GROUP BY 1, 2)
    SELECT n_events, COUNT(*) AS n_sessions,
           CAST(SUM(duration_sec) AS BIGINT) AS total_duration_sec,
           CAST(MAX(duration_sec) AS BIGINT) AS max_duration_sec
    FROM sess GROUP BY 1
    """,
    tags=("events", "time", "sessions"),
)
def ev_session_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Session-depth distribution: sessions (30-min gap rule, same as
    ev_sessionize) summarized by event count — how many sessions have k
    events, their total and max durations. The engagement-depth profile
    behind bounce-rate and session-length dashboards.

    Scale shape: the gap test and session-id running sum share ONE
    user_id exchange (same partitioning + ordering); the per-session
    aggregate reuses it; only the tiny depth histogram reshuffles.
    Integer microsecond arithmetic end to end — exact across engines."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    g = ev.select(
        "user_id", "event_id", F.unix_micros("ts").alias("t")
    ).withColumn(
        "new_s",
        F.when(
            (F.col("t") - F.lag("t").over(w) > 1800 * 1_000_000)
            | F.lag("t").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    s = g.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    sess = s.groupBy("user_id", "sid").agg(
        F.count("*").alias("n_events"),
        ((F.max("t") - F.min("t")) / 1_000_000).cast("long").alias("duration_sec"),
    )
    return sess.groupBy("n_events").agg(
        F.count("*").alias("n_sessions"),
        F.sum("duration_sec").alias("total_duration_sec"),
        F.max("duration_sec").alias("max_duration_sec"),
    )


EWMA_K = 16  # truncation depth: weights 3^d/4^(d+1), d = 0..K-1
EWMA_SCALE = 4**EWMA_K  # common denominator after cross-multiplying


def _ewma_lag_terms() -> str:
    """DuckDB SQL: SUM over d=0..K-1 of lag(n, d+1) * 3^d * 4^(K-1-d) —
    the integer-scaled truncated EWMA of the PREVIOUS K buckets (lag
    d+1: the forecast excludes the current observation). The Spark side
    builds the same terms inline in ev_ewma_spike."""
    return " + ".join(
        f"COALESCE(lag(n, {d + 1}) OVER (PARTITION BY event_type ORDER BY b), 0)"
        f" * {3**d * 4 ** (EWMA_K - 1 - d)}"
        for d in range(EWMA_K)
    )


@register(
    "ev_ewma_spike",
    oracle=f"""
    WITH m AS (
      SELECT event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS b,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    e AS (
      SELECT event_type, b, n,
             CAST({_ewma_lag_terms()} AS BIGINT) AS s_prev,
             CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY b
                  ROWS BETWEEN {EWMA_K} PRECEDING AND 1 PRECEDING) AS BIGINT) AS n_hist
      FROM m)
    SELECT event_type, b AS bucket_start, n, s_prev,
           (n_hist >= {EWMA_K} AND n * {EWMA_SCALE} > 2 * s_prev) AS is_spike
    FROM e
    """,
    tags=("events", "time", "anomaly", "ewma", "integer-exact"),
)
def ev_ewma_spike(spark: SparkSession, sf: str) -> DataFrame:
    """EWMA spike detection over the hourly event-count series, INTEGER
    EXACT: with alpha = 1/4 the truncated exponential forecast
    s = (1/4) * sum d=0..{EWMA_K - 1} (3/4)^d * n[t-1-d] cross-multiplies
    to BIGINT arithmetic (scale 4^{EWMA_K}), so the spike predicate
    n > 2*s compares exact integers — no pow()/float EWMA that could
    flip a boundary between engines (house rule: sample_weighted,
    corpus_temperature_mix). The spike flag arms only once {EWMA_K}
    history buckets exist (n_hist gate), avoiding cold-start noise.
    EWMA runs over OBSERVED buckets (sparse series semantics — pair
    with ev_gapfill_locf for a calendar spine).

    Scale shape: the rollup shuffles (type, hour) partials once; the
    {EWMA_K} LAG terms all share ONE window spec = one pass over the
    bucket series (bucket-count-sized, not event-sized). Expressible
    as a RANGE frame dot-product only with HOFs — the fixed-depth LAG
    fan-out stays in codegen."""
    ev = load_table(spark, sf, "events")
    m = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").cast("long").alias("b")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("b")
    s_prev = None
    for d in range(EWMA_K):
        weight = 3**d * 4 ** (EWMA_K - 1 - d)
        term = F.coalesce(F.lag("n", d + 1).over(w), F.lit(0)).cast("long") * weight
        s_prev = term if s_prev is None else s_prev + term
    n_hist = F.count("*").over(w.rowsBetween(-EWMA_K, -1))
    e = m.select(
        "event_type",
        F.col("b").alias("bucket_start"),
        "n",
        s_prev.cast("long").alias("s_prev"),
        n_hist.cast("long").alias("n_hist"),
    )
    return e.select(
        "event_type",
        "bucket_start",
        "n",
        "s_prev",
        (
            (F.col("n_hist") >= EWMA_K)
            & (F.col("n") * EWMA_SCALE > 2 * F.col("s_prev"))
        ).alias("is_spike"),
    )


@register(
    "ev_seasonality_profile",
    oracle="""
    WITH g AS (
      SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
             CAST(hour(ts) AS BIGINT) AS hod, COUNT(*) AS n
      FROM events GROUP BY 1, 2, 3)
    SELECT event_type, dow, hod, n,
           CAST((n * 1000000) // SUM(n) OVER (PARTITION BY event_type)
                AS BIGINT) AS share_ppm
    FROM g
    """,
    tags=("events", "time", "seasonality", "integer-exact"),
)
def ev_seasonality_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly seasonality profile: event counts per (type, ISO
    day-of-week, hour-of-day) cell with each cell's share of its
    type's traffic in INTEGER parts-per-million (n*1e6 floor-div
    total — exact in both engines; a float share could flip a
    last-digit). Day-of-week is ISO (Mon=1): DuckDB isodow == Spark
    weekday()+1 (Spark's dayofweek() counts Sun=1 — a cross-engine
    trap pinned here).

    Scale shape: the event scan partial-aggregates to at most
    |types|x7x24 grid cells before anything global; the share window
    runs over that grid, not events. One shuffle, grid-sized output."""
    ev = load_table(spark, sf, "events")
    g = ev.groupBy(
        "event_type",
        (F.weekday("ts") + 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(F.count("*").alias("n"))
    total = F.sum("n").over(Window.partitionBy("event_type"))
    return g.select(
        "event_type",
        "dow",
        "hod",
        "n",
        F.expr("n * 1000000").cast("long").alias("__num"),
        total.alias("__tot"),
    ).select(
        "event_type",
        "dow",
        "hod",
        "n",
        # integer DIV, never float-divide-then-cast: a double quotient
        # can land a hair above the true ratio and truncate to a
        # different floor than the oracle's BIGINT //
        F.expr("__num DIV __tot").alias("share_ppm"),
    )


@register(
    "ev_interarrival_histogram",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
      FROM events)
    SELECT event_type,
           CAST(length(bin(gap)) AS BIGINT) AS log2_bucket,
           COUNT(*) AS n,
           CAST(MIN(gap) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap) AS BIGINT) AS max_gap_us
    FROM g WHERE gap IS NOT NULL AND gap > 0
    GROUP BY 1, 2
    """,
    tags=("events", "time", "histogram", "integer-exact"),
)
def ev_interarrival_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Inter-arrival (burstiness) profile: per-user event gaps bucketed
    on a log2 scale — bucket = bit length of the gap in microseconds,
    computed as length(bin(gap)), which is floor(log2)+1 in EXACT
    integer arithmetic in both engines (a float log2 can land a hair
    under a power-of-two boundary and flip the bucket). Zero gaps
    (same-microsecond events) are excluded; ties order on event_id so
    both engines see identical sequences. The latency-histogram shape
    every ops dashboard wants, over ~40 buckets max for BIGINT gaps.

    Scale shape: one user_id window shuffle (shared ordering with the
    whole sessionize/funnel family), then a partial-aggregating groupBy
    to |types|x40 cells. Nothing after the window scales with events."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    g = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap"),
    )
    return (
        g.where(F.col("gap").isNotNull() & (F.col("gap") > 0))
        .groupBy(
            "event_type",
            F.length(F.bin("gap")).cast("long").alias("log2_bucket"),
        )
        .agg(
            F.count("*").alias("n"),
            F.min("gap").cast("long").alias("min_gap_us"),
            F.max("gap").cast("long").alias("max_gap_us"),
        )
    )


@register(
    "ev_new_vs_returning",
    oracle="""
    WITH f AS (
      SELECT user_id, date_trunc('day', MIN(ts)) AS first_day
      FROM events GROUP BY 1),
    a AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events)
    SELECT CAST(epoch(a.d) AS BIGINT) AS day_start,
           CAST(SUM(CASE WHEN a.d = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
             AS new_users,
           CAST(SUM(CASE WHEN a.d <> f.first_day THEN 1 ELSE 0 END) AS BIGINT)
             AS returning_users
    FROM a JOIN f USING (user_id)
    GROUP BY 1
    """,
    tags=("events", "time", "active-users", "acquisition"),
)
def ev_new_vs_returning(spark: SparkSession, sf: str) -> DataFrame:
    """Daily new-vs-returning split: each active (user, day) is 'new'
    exactly on the user's first-ever day — the acquisition-vs-retention
    decomposition of the DAU curve (new + returning = DAU, and
    sum(new) over all days = total users, both good audit invariants).

    Scale shape: the activity side pre-distincts to (user, day) — the
    ev_active_users partial — and the first-day side is ONE min
    aggregate per user; both hash-partition on user_id for the join,
    then a calendar-sized day rollup. No window over raw events."""
    ev = load_table(spark, sf, "events")
    f = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("first_day")
    )
    a = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    return (
        a.join(f, "user_id")
        .groupBy(F.col("d").cast("long").alias("day_start"))
        .agg(
            F.sum((F.col("d") == F.col("first_day")).cast("long")).alias("new_users"),
            F.sum((F.col("d") != F.col("first_day")).cast("long")).alias(
                "returning_users"
            ),
        )
    )


@register(
    "ev_stickiness_weekly",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
    dau AS (SELECT d, COUNT(*) AS n FROM ud GROUP BY 1),
    wk AS (
      SELECT CAST(epoch(date_trunc('week', d)) AS BIGINT) AS week_start,
             CAST(SUM(n) AS BIGINT) AS dau_user_days,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM dau GROUP BY 1),
    wau AS (
      SELECT CAST(epoch(date_trunc('week', d)) AS BIGINT) AS week_start,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      FROM ud GROUP BY 1)
    SELECT week_start, dau_user_days, n_days, wau
    FROM wk JOIN wau USING (week_start)
    """,
    tags=("events", "time", "active-users", "stickiness"),
)
def ev_stickiness_weekly(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly stickiness inputs: per ISO week, the summed daily DAU
    (user-days), the day count, and WAU — stickiness = dau_user_days /
    (n_days × wau) downstream (house rule: emit the exact integers, let
    the dashboard divide). The DAU/MAU-style engagement-intensity
    metric at weekly grain.

    Scale shape: one distinct (user, day) reduction of the raw scan
    feeds BOTH the day-count rollup and the weekly count-distinct —
    the same compact-partial discipline as ev_active_users; outputs
    are calendar-sized."""
    ev = load_table(spark, sf, "events")
    # SAME tag as ev_active_users/_hll: the frame is identical, so a
    # session running the family shares one scan + one cache (review
    # finding: a private tag duplicated both)
    ud = persisted(
        spark,
        "active_users_user_day",
        lambda: ev.select(
            "user_id", F.date_trunc("day", F.col("ts")).alias("d")
        ).distinct(),
        key=sf,
    )
    week = F.date_trunc("week", F.col("d")).cast("long").alias("week_start")
    dau = ud.groupBy("d").agg(F.count("*").alias("n"))
    wk = dau.groupBy(week).agg(
        F.sum("n").alias("dau_user_days"), F.count("*").alias("n_days")
    )
    wau = ud.groupBy(week).agg(F.count_distinct("user_id").alias("wau"))
    return wk.join(wau, "week_start")


SNAIVE_LAG_SEC = 7 * 24 * 3600  # seasonal-naive lag: same weekday last week


@register(
    "ev_forecast_snaive_backtest",
    oracle=f"""
    WITH d AS (
      SELECT event_type, CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2)
    SELECT a.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days_scored,
           CAST(SUM(ABS(a.n - f.n)) AS BIGINT) AS total_abs_err,
           CAST(SUM(a.n) AS BIGINT) AS total_actual
    FROM d a JOIN d f
      ON f.event_type = a.event_type AND f.d = a.d - {SNAIVE_LAG_SEC}
    GROUP BY 1
    """,
    tags=("events", "time", "forecast", "backtest"),
)
def ev_forecast_snaive_backtest(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's per-type
    event count with the same weekday's count one week earlier, and
    score the whole history — days scored, summed absolute error, and
    summed actuals (MAE = err/n and WAPE = err/actual are downstream
    division; the house integer rule keeps the backtest hash-exact).
    Seasonal-naive is THE baseline every forecasting system must beat
    (the M-competition yardstick) — shipping the backtest as a query
    makes 'is the fancy model better than lag-7' a one-liner.

    Scale shape: the raw scan reduces ONCE to the types×days count
    frame; the lag join is a self-equi-join on (type, day−7) over that
    calendar-bounded frame (tiny at any event volume — Spark may
    broadcast it); final rollup is one row per type."""
    ev = load_table(spark, sf, "events")
    daily = persisted(
        spark,
        "snaive_daily_counts",
        lambda: ev.groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("long").alias("d"),
        ).agg(F.count("*").alias("n")),
        key=sf,
    )
    f = daily.select(
        "event_type",
        (F.col("d") + SNAIVE_LAG_SEC).alias("d"),
        F.col("n").alias("n_forecast"),
    )
    return (
        daily.join(f, ["event_type", "d"])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_days_scored"),
            F.sum(F.abs(F.col("n") - F.col("n_forecast"))).alias("total_abs_err"),
            F.sum("n").alias("total_actual"),
        )
    )


@register(
    "ev_error_budget_burn",
    oracle="""
    WITH h AS (
      SELECT epoch_us(ts) // 3600000000 AS hr,
             CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS err,
             CAST(COUNT(*) AS BIGINT) AS tot
      FROM events GROUP BY 1),
    s AS (
      SELECT hr // 6 AS six, CAST(SUM(err) AS BIGINT) AS err6,
             CAST(SUM(tot) AS BIGINT) AS tot6
      FROM h GROUP BY 1)
    SELECT CAST(h.hr AS BIGINT) AS hr, h.err AS err_1h, h.tot AS tot_1h,
           s.err6 AS err_6h, s.tot6 AS tot_6h,
           h.err / h.tot AS rate_1h,
           (h.err * 2 > h.tot AND s.err6 * 2 > s.tot6) AS page_alert
    FROM h JOIN s ON h.hr // 6 = s.six
    """,
    tags=("events", "sre", "sli", "alerting"),
)
def ev_error_budget_burn(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-window error-budget burn alert (the SRE workbook rule): an
    hourly error-rate SLI plus its 6-hour rollup, paging only when BOTH
    windows burn faster than 2× budget — the short window gives speed,
    the long window kills flappy pages. With a 50%-error budget the
    burn>2× predicate reduces to the INTEGER cross-multiplication
    err*2 > tot, so the alert boolean is exact (never a float-boundary
    flip); the emitted rate is one exact-BIGINT division.

    Scale shape: one scan collapses to the hour axis (map-side
    partials); the 6-hour rollup is a SUM WINDOW partitioned by the
    six-hour bucket over that bounded axis — corpus-days × 24 rows,
    constant at any event volume. (The former agg + join-back on
    hr DIV 6 re-executed the hourly subtree for both join sides and
    paid 5 jobs per run vs 3 after — the r12 aggregate-then-window
    recipe, r13 job-count audit.)"""
    ev = load_table(spark, sf, "events")
    h = ev.groupBy(F.expr("unix_micros(ts) DIV 3600000000").alias("hr")).agg(
        F.count(F.when(F.col("event_type") == "error", 1)).alias("err"),
        F.count("*").alias("tot"),
    )
    w6 = Window.partitionBy(F.expr("hr DIV 6"))
    return h.select(
        "hr",
        F.col("err").alias("err_1h"),
        F.col("tot").alias("tot_1h"),
        F.sum("err").over(w6).alias("err_6h"),
        F.sum("tot").over(w6).alias("tot_6h"),
        (F.col("err") / F.col("tot")).alias("rate_1h"),
        (
            (F.col("err") * 2 > F.col("tot"))
            & (F.sum("err").over(w6) * 2 > F.sum("tot").over(w6))
        ).alias("page_alert"),
    )
