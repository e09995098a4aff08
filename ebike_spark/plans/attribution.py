"""Marketing/product analytics over the events stream: attribution,
cohort retention matrix, RFM segmentation.

The reference engine has no events surface at all (SURVEY §1.5); these
extend the Spark-native analytics family (`plans/analytics.py`,
`plans/timeseries.py`) with the three workhorse growth-analytics
queries a warehouse team runs daily. All money flows as integer CENTS
(value is 2-decimal currency; value*100 is integer-valued) and all
time arithmetic as epoch microseconds/seconds BIGINT, so every output
is integer-exact and the cross-engine value hash can never diverge on
float representation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ebike_spark.artifacts import persisted
from ebike_spark.plans.registry import register
from ebike_spark.sources.registry import load_table

ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # 7-day lookback
CENTS = "CAST(ROUND(value * 100, 0) AS BIGINT)"


@register(
    "ev_attribution_last_touch",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
             {CENTS} AS cents
      FROM events WHERE event_type IN ('click', 'view', 'purchase')),
    tagged AS (
      SELECT *,
        last_value(CASE WHEN event_type IN ('click', 'view') THEN t END
                   IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY t, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_t,
        last_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END
                   IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY t, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_type
      FROM e),
    attributed AS (
      SELECT CASE WHEN lt_t IS NOT NULL AND t - lt_t <= {ATTR_WINDOW_US}
                  THEN lt_type ELSE 'direct' END AS touch_type,
             cents
      FROM tagged WHERE event_type = 'purchase')
    SELECT touch_type, COUNT(*) AS n_purchases,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM attributed GROUP BY 1
    """,
    tags=("events", "attribution", "window"),
)
def ev_attribution_last_touch(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent click/view within the preceding 7 days, else 'direct'.
    One pass, no self-join: a per-user ordered window carries the last
    touch's (time, type) forward via last(ignorenulls) — the same
    LOCF machinery ev_gapfill_locf uses, here over the event stream
    itself. Ordering ties break on event_id so both engines see the
    identical sequence.

    Scale shape: ONE user_id shuffle (the window), then a scan-speed
    CASE and a 3-row groupBy with map-side partials. Per-user window
    frames are bounded by per-user event count — the standing events
    assumption (sessionize, funnels). The event-type filter is pushed
    to the parquet scan."""
    ev = load_table(spark, sf, "events").where(
        F.col("event_type").isin("click", "view", "purchase")
    )
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("t"),
        F.expr(CENTS).alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("click", "view")
    tagged = e.select(
        "*",
        F.last(F.when(is_touch, F.col("t")), ignorenulls=True).over(w).alias("lt_t"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("lt_type"),
    )
    touch = F.when(
        F.col("lt_t").isNotNull() & (F.col("t") - F.col("lt_t") <= ATTR_WINDOW_US),
        F.col("lt_type"),
    ).otherwise(F.lit("direct"))
    return (
        tagged.where(F.col("event_type") == "purchase")
        .select(touch.alias("touch_type"), "cents")
        .groupBy("touch_type")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum("cents").alias("revenue_cents"),
        )
    )


WEEK_SEC = 7 * 24 * 3600


@register(
    "ev_cohort_matrix",
    oracle=f"""
    WITH su AS (
      SELECT user_id,
             CAST(epoch(date_trunc('week', MIN(ts))) AS BIGINT) AS cohort_week
      FROM events WHERE event_type = 'signup' GROUP BY 1),
    act AS (
      SELECT DISTINCT e.user_id,
             CAST(epoch(date_trunc('week', e.ts)) AS BIGINT) AS w
      FROM events e),
    j AS (
      SELECT su.cohort_week, (act.w - su.cohort_week) // {WEEK_SEC} AS week_offset,
             act.user_id
      FROM su JOIN act ON act.user_id = su.user_id
      WHERE act.w >= su.cohort_week)
    SELECT cohort_week, week_offset, COUNT(DISTINCT user_id) AS n_active
    FROM j GROUP BY 1, 2
    """,
    tags=("events", "cohort", "retention"),
)
def ev_cohort_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention triangle: users cohorted by the week of
    their first signup event; n_active = distinct cohort members with
    ANY activity at each week offset. The long-form (cohort_week,
    week_offset, n_active) output is the standard retention heatmap
    input — ev_retention's day-offset cousin at product-analytics
    grain. Both engines truncate weeks to Monday 00:00 UTC, and the
    offset is exact integer division of epoch seconds.

    Scale shape: signup scan aggregates to one row per cohorted user;
    the activity side pre-distincts to (user, week) BEFORE the join —
    the join's right side is bounded by users × active-weeks, not raw
    events. The join shuffles on user_id; AQE may broadcast the cohort
    side when small. Final distinct-count shuffles (cohort, offset,
    user) partials."""
    ev = load_table(spark, sf, "events")
    week = lambda c: F.date_trunc("week", c).cast("long")  # noqa: E731
    su = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(week(F.min("ts")).alias("cohort_week"))
    )
    act = ev.select("user_id", week(F.col("ts")).alias("w")).distinct()
    j = su.join(act, "user_id").where(F.col("w") >= F.col("cohort_week"))
    offset = ((F.col("w") - F.col("cohort_week")) / WEEK_SEC).cast("long")
    return (
        j.select("cohort_week", offset.alias("week_offset"), "user_id")
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@register(
    "ev_rfm_segments",
    oracle=f"""
    WITH p AS (
      SELECT user_id,
             MAX(epoch_us(ts)) AS last_t,
             COUNT(*) AS freq,
             CAST(SUM({CENTS}) AS BIGINT) AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    ref AS (SELECT MAX(epoch_us(ts)) AS ref_t FROM events),
    rfm AS (
      SELECT user_id, (ref_t - last_t) // 86400000000 AS recency_days,
             freq, monetary
      FROM p, ref),
    q AS (
      SELECT quantile_cont(recency_days, [0.25, 0.5, 0.75]) AS rq,
             quantile_cont(freq, [0.25, 0.5, 0.75]) AS fq,
             quantile_cont(monetary, [0.25, 0.5, 0.75]) AS mq
      FROM rfm),
    scored AS (
      SELECT
        -- R: LOWER recency is better -> score counts cutoffs ABOVE
        1 + CAST(recency_days < rq[1] AS INT) + CAST(recency_days < rq[2] AS INT)
          + CAST(recency_days < rq[3] AS INT) AS r,
        1 + CAST(freq > fq[1] AS INT) + CAST(freq > fq[2] AS INT)
          + CAST(freq > fq[3] AS INT) AS f,
        1 + CAST(monetary > mq[1] AS INT) + CAST(monetary > mq[2] AS INT)
          + CAST(monetary > mq[3] AS INT) AS m,
        monetary
      FROM rfm, q)
    SELECT r || '-' || f || '-' || m AS segment, COUNT(*) AS n_users,
           CAST(SUM(monetary) AS BIGINT) AS total_monetary_cents
    FROM scored GROUP BY 1
    """,
    tags=("events", "rfm", "segmentation"),
)
def ev_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    """RFM segmentation: per purchasing user, Recency (days since last
    purchase vs the corpus's latest event), Frequency (#purchases) and
    Monetary (cents) are each scored 1-4 against the exact quartiles of
    the user population, then users roll up to segment counts. Scores
    assign by comparing against BROADCAST quartile cutoffs (strict
    inequalities, identical in both engines) — NOT by a global NTILE,
    which would order every user through one window partition; the
    cutoff approach keeps scoring scan-speed and fully parallel at any
    user count. Both engines' continuous quantile is the same R-7
    interpolation, and the inputs are integers, so cutoffs are exact
    binary fractions — comparisons can't diverge.

    Scale shape: one purchase-scan aggregation to per-user rows; one
    3×3-scalar quantile aggregate (distributed sort-based, grid-sized
    result broadcast back); one scan-speed CASE pass; one ≤64-row
    groupBy. No data-sized window, no driver loop."""
    ev = load_table(spark, sf, "events")

    def build_rfm():
        p = (
            ev.where(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(
                F.max(F.unix_micros("ts")).alias("last_t"),
                F.count("*").alias("freq"),
                F.sum(F.expr(CENTS)).alias("monetary"),
            )
        )
        ref = ev.agg(F.max(F.unix_micros("ts")).alias("ref_t"))
        return p.crossJoin(F.broadcast(ref)).select(
            "user_id",
            # integer DIV (house rule): float-divide-then-cast loses
            # exactness near the double half-ulp boundary (ADVICE r5)
            F.expr("(ref_t - last_t) DIV 86400000000").alias("recency_days"),
            "freq",
            "monetary",
        )

    # the per-user aggregate feeds TWO passes (quantile cutoffs, then
    # scoring) — persist it so raw events scan once, not twice
    rfm = persisted(spark, "rfm_user", build_rfm, key=sf)
    q = rfm.agg(
        F.percentile("recency_days", F.lit([0.25, 0.5, 0.75])).alias("rq"),
        F.percentile("freq", F.lit([0.25, 0.5, 0.75])).alias("fq"),
        F.percentile("monetary", F.lit([0.25, 0.5, 0.75])).alias("mq"),
    )
    s = rfm.crossJoin(F.broadcast(q))

    def score_low_good(col, qcol):
        return (
            F.lit(1)
            + (F.col(col) < F.col(qcol)[0]).cast("int")
            + (F.col(col) < F.col(qcol)[1]).cast("int")
            + (F.col(col) < F.col(qcol)[2]).cast("int")
        )

    def score_high_good(col, qcol):
        return (
            F.lit(1)
            + (F.col(col) > F.col(qcol)[0]).cast("int")
            + (F.col(col) > F.col(qcol)[1]).cast("int")
            + (F.col(col) > F.col(qcol)[2]).cast("int")
        )

    seg = F.concat_ws(
        "-",
        score_low_good("recency_days", "rq"),
        score_high_good("freq", "fq"),
        score_high_good("monetary", "mq"),
    )
    return (
        s.select(seg.alias("segment"), "monetary")
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("monetary").alias("total_monetary_cents"),
        )
    )


@register(
    "ev_funnel_latency",
    oracle="""
    WITH f1 AS (SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY 1),
    f2 AS (SELECT e.user_id, f1.t1, MIN(epoch_us(e.ts)) AS t2 FROM events e
           JOIN f1 ON e.user_id = f1.user_id
           WHERE e.event_type = 'click' AND epoch_us(e.ts) > f1.t1 GROUP BY 1, 2),
    f3 AS (SELECT f2.user_id, f2.t1, MIN(epoch_us(e.ts)) AS t3 FROM events e
           JOIN f2 ON e.user_id = f2.user_id
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > f2.t2 GROUP BY 1, 2),
    lat AS (SELECT t3 - t1 AS latency_us FROM f3)
    SELECT COUNT(*) AS n_converted,
           CAST(MIN(latency_us) AS BIGINT) AS min_us,
           quantile_cont(latency_us, 0.25) AS p25_us,
           quantile_cont(latency_us, 0.50) AS p50_us,
           quantile_cont(latency_us, 0.75) AS p75_us,
           CAST(MAX(latency_us) AS BIGINT) AS max_us
    FROM lat
    """,
    tags=("events", "funnel", "latency", "percentile"),
)
def ev_funnel_latency(spark: SparkSession, sf: str) -> DataFrame:
    """Time-to-convert distribution for the strict first-anchor funnel
    (view → click → purchase): per converting user, the microseconds
    from the first view to the purchase that completes the greedy
    chain, summarized as exact quartiles. The greedy sorted scan is
    exactly ev_funnel's single-pass aggregate (earliest-valid-next is
    optimal), extended to carry the anchor time so latency falls out
    of the same pass — no per-stage self-join chain (the oracle's
    shape). Latencies are integer microseconds; the continuous
    quartiles of integers are exact binary fractions in both engines
    (the ev_rfm_segments rule).

    Scale shape: ONE user_id shuffle + per-user linear scan; the final
    percentile is a single distributed sort-based aggregate over one
    latency value per CONVERTED user."""
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
    init = F.struct(
        F.lit(0).alias("s"),
        F.lit(0).cast("long").alias("t"),
        F.lit(0).cast("long").alias("t1"),
    )

    def step(acc, x):
        want = F.element_at(stage_arr, F.least(acc["s"] + 1, F.lit(n_stages)))
        can = (acc["s"] < n_stages) & (x["et"] == want) & ((acc["s"] == 0) | (x["t"] > acc["t"]))
        new_t1 = F.when(acc["s"] == 0, x["t"]).otherwise(acc["t1"])
        return F.when(
            can,
            F.struct((acc["s"] + 1).alias("s"), x["t"].alias("t"), new_t1.alias("t1")),
        ).otherwise(acc)

    per_user = (
        evs.groupBy("user_id")
        .agg(F.array_sort(F.collect_list("e")).alias("seq"))
        .select(F.aggregate("seq", init, step).alias("a"))
        .where(F.col("a.s") >= n_stages)
        .select((F.col("a.t") - F.col("a.t1")).alias("latency_us"))
    )
    return per_user.agg(
        F.count("*").alias("n_converted"),
        F.min("latency_us").alias("min_us"),
        F.percentile("latency_us", F.lit(0.25)).alias("p25_us"),
        F.percentile("latency_us", F.lit(0.50)).alias("p50_us"),
        F.percentile("latency_us", F.lit(0.75)).alias("p75_us"),
        F.max("latency_us").alias("max_us"),
    )


PARETO_BUCKETS = 10


@register(
    "ev_pareto_share",
    oracle=f"""
    WITH u AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
    d AS (SELECT user_id, n,
                 NTILE({PARETO_BUCKETS}) OVER (ORDER BY n DESC, user_id) AS decile
          FROM u),
    a AS (SELECT decile,
                 CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(SUM(n) AS BIGINT) AS n_events
          FROM d GROUP BY 1)
    SELECT decile, n_users, n_events,
           CAST(SUM(n_events) OVER (ORDER BY decile) AS BIGINT) AS cum_events
    FROM a
    """,
    tags=("events", "concentration", "window"),
)
def ev_pareto_share(spark: SparkSession, sf: str) -> DataFrame:
    """Activity concentration (Lorenz/Pareto): users ranked by event
    count into {PARETO_BUCKETS} NTILE buckets (count DESC, user_id
    tiebreak — fully deterministic), with per-bucket user/event counts
    and the cumulative event total. The "top 10% of users drive X% of
    events" readout. All counts integer-exact; share ratios are
    downstream division.

    Scale shape: the event scan partial-aggregates to one row per user
    before anything global happens (users << events), and the ranking
    is the DISTRIBUTED rank, not a single-partition NTILE window:
    repartitionByRange on the sort key spreads users across tasks in
    global order, each task row_numbers its own range (a window keyed
    by spark_partition_id), and the per-partition counts — one row per
    task — prefix-sum into rank offsets (the ev_concurrency pattern on
    the partition axis). NTILE's remainder semantics are reproduced
    exactly from the global rank by closed form (first total%B buckets
    get the extra row), verified against DuckDB's NTILE. The decile
    rollup and {PARETO_BUCKETS}-row cumulative window are
    constant-sized."""
    from ebike_spark.functions.ranking import ntile_over_global_order

    ev = load_table(spark, sf, "events")
    u = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    # distributed rank + exact-NTILE closed form: the shared helper
    # (functions/ranking.py) carries the persist pin and the
    # one-row-per-task offsets shape this docstring describes
    d = ntile_over_global_order(
        spark,
        u,
        [F.col("n").desc(), F.col("user_id")],
        PARETO_BUCKETS,
        "pareto_local_ranks",
        sf,
    ).select("n", F.col("__bucket").cast("int").alias("decile"))
    a = d.groupBy("decile").agg(
        F.count("*").alias("n_users"), F.sum("n").alias("n_events")
    )
    return a.select(
        "decile",
        "n_users",
        "n_events",
        F.sum("n_events")
        .over(Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_events"),
    )


@register(
    "ev_attribution_touchpoints",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS t
      FROM events WHERE event_type IN ('click', 'view', 'purchase')),
    tagged AS (
      SELECT *,
        min(CASE WHEN event_type IN ('click', 'view') THEN
              lpad(CAST(t AS VARCHAR), 20, '0') || '|' ||
              lpad(CAST(event_id AS VARCHAR), 10, '0') || '|' || event_type
            END)
          OVER (PARTITION BY user_id ORDER BY t
                RANGE BETWEEN {ATTR_WINDOW_US} PRECEDING AND CURRENT ROW) AS ft_key,
        last_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END
                   IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY t, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_any,
        last_value(CASE WHEN event_type IN ('click', 'view') THEN t END
                   IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY t, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_t,
        COUNT(CASE WHEN event_type = 'click' THEN 1 END)
          OVER (PARTITION BY user_id ORDER BY t
                RANGE BETWEEN {ATTR_WINDOW_US} PRECEDING AND CURRENT ROW) AS n_click,
        COUNT(CASE WHEN event_type = 'view' THEN 1 END)
          OVER (PARTITION BY user_id ORDER BY t
                RANGE BETWEEN {ATTR_WINDOW_US} PRECEDING AND CURRENT ROW) AS n_view
      FROM e),
    conv AS (
      -- DuckDB split_part(NULL, ...) returns '' not NULL, so the
      -- no-touch branch must test ft_key itself
      SELECT CASE WHEN ft_key IS NULL THEN 'direct'
                  ELSE split_part(ft_key, '|', 3) END AS ft,
             CASE WHEN lt_t IS NOT NULL AND t - lt_t <= {ATTR_WINDOW_US}
                  THEN lt_any ELSE 'direct' END AS lt,
             n_click, n_view
      FROM tagged WHERE event_type = 'purchase')
    SELECT 'click' AS channel,
           CAST(SUM(CASE WHEN ft = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS first_touch_convs,
           CAST(SUM(CASE WHEN lt = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS last_touch_convs,
           CAST(SUM(n_click) AS BIGINT) AS touches_credited
    FROM conv
    UNION ALL
    SELECT 'view',
           CAST(SUM(CASE WHEN ft = 'view' THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN lt = 'view' THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(n_view) AS BIGINT)
    FROM conv
    UNION ALL
    SELECT 'direct',
           CAST(SUM(CASE WHEN ft = 'direct' THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN lt = 'direct' THEN 1 ELSE 0 END) AS BIGINT),
           CAST(0 AS BIGINT)
    FROM conv
    """,
    tags=("events", "attribution", "window", "range-frame"),
)
def ev_attribution_touchpoints(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-touch position attribution: for each purchase, the FIRST
    and LAST click/view inside the trailing 7-day window, plus how many
    touches of each channel fell in the window — the U-shaped-report
    inputs, kept as integer counts (per-conversion fractional credit is
    downstream division). First-touch-in-range needs an arg-min over a
    moving time range; that is ONE string MIN over a RANGE frame with
    the (t, event_id, type) key zero-padded so lexicographic = numeric
    order (the min_by-via-encoded-key trick — both engines share
    identical RANGE inclusion semantics, so no tie divergence). Last
    touch reuses the LOCF ROWS frame from ev_attribution_last_touch.

    Scale shape: ONE user_id shuffle feeds all five window frames
    (same partitioning, Spark stacks the Window operators without
    re-exchanging); RANGE frames bound per-row state by the 7-day
    window's per-user event count. All nine output numbers come from a
    SINGLE aggregate pass (map-side partials into a one-row reduce);
    the 3-row channel layout is a constant stack() unpivot of that
    row — never a per-channel re-scan."""
    ev = load_table(spark, sf, "events").where(
        F.col("event_type").isin("click", "view", "purchase")
    )
    e = ev.select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("t")
    )
    is_touch = F.col("event_type").isin("click", "view")
    wr = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(-ATTR_WINDOW_US, 0)
    )
    wl = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch_key = F.concat(
        F.lpad(F.col("t").cast("string"), 20, "0"),
        F.lit("|"),
        F.lpad(F.col("event_id").cast("string"), 10, "0"),
        F.lit("|"),
        F.col("event_type"),
    )
    tagged = e.select(
        "event_type",
        "t",
        F.min(F.when(is_touch, touch_key)).over(wr).alias("ft_key"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(wl)
        .alias("lt_any"),
        F.last(F.when(is_touch, F.col("t")), ignorenulls=True).over(wl).alias("lt_t"),
        F.count(F.when(F.col("event_type") == "click", 1)).over(wr).alias("n_click"),
        F.count(F.when(F.col("event_type") == "view", 1)).over(wr).alias("n_view"),
    )
    conv = tagged.where(F.col("event_type") == "purchase").select(
        F.coalesce(F.split_part("ft_key", F.lit("|"), F.lit(3)), F.lit("direct")).alias(
            "ft"
        ),
        F.when(
            F.col("lt_t").isNotNull() & (F.col("t") - F.col("lt_t") <= ATTR_WINDOW_US),
            F.col("lt_any"),
        )
        .otherwise(F.lit("direct"))
        .alias("lt"),
        "n_click",
        "n_view",
    )

    # ONE aggregate pass produces all nine numbers (a 3-way union of
    # per-channel aggregates re-scans events and re-runs both windows
    # per branch — plan-verified); the constant 3-row unpivot is a
    # stack over the single aggregate row. direct credits count(*)*0
    # (not SUM of a literal) so an EMPTY conversion set still yields 0,
    # matching the oracle's literal.
    def cnt(col: str, name: str):
        return F.sum(F.when(F.col(col) == name, 1).otherwise(0))

    aggd = conv.agg(
        cnt("ft", "click").alias("ft_click"),
        cnt("ft", "view").alias("ft_view"),
        cnt("ft", "direct").alias("ft_direct"),
        cnt("lt", "click").alias("lt_click"),
        cnt("lt", "view").alias("lt_view"),
        cnt("lt", "direct").alias("lt_direct"),
        F.sum("n_click").alias("tc_click"),
        F.sum("n_view").alias("tc_view"),
        (F.count(F.lit(1)) * 0).cast("long").alias("tc_direct"),
    )
    return aggd.selectExpr(
        "stack(3, 'click', ft_click, lt_click, tc_click,"
        " 'view', ft_view, lt_view, tc_view,"
        " 'direct', ft_direct, lt_direct, tc_direct)"
        " AS (channel, first_touch_convs, last_touch_convs, touches_credited)"
    )


DAY_US = 24 * 3600 * 1_000_000
DECAY_DAYS = 7  # lookback; day-bucket d gets weight 2^(DECAY_DAYS-1-d)


def _decay_bucket_sql(channel: str, d: int) -> str:
    lo = (d + 1) * DAY_US - 1
    hi = d * DAY_US
    return (
        f"COUNT(CASE WHEN event_type = '{channel}' THEN 1 END) OVER "
        f"(PARTITION BY user_id ORDER BY t "
        f"RANGE BETWEEN {lo} PRECEDING AND {hi} PRECEDING)"
    )


@register(
    "ev_attribution_time_decay",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS t
      FROM events WHERE event_type IN ('click', 'view', 'purchase')),
    tagged AS (
      SELECT *,
        {", ".join(f"{_decay_bucket_sql(ch, d)} AS n_{ch}_{d}"
                   for ch in ("click", "view") for d in range(DECAY_DAYS))}
      FROM e),
    conv AS (SELECT * FROM tagged WHERE event_type = 'purchase')
    SELECT 'click' AS channel,
           CAST(SUM({" + ".join(f"n_click_{d} * {2 ** (DECAY_DAYS - 1 - d)}"
                                for d in range(DECAY_DAYS))}) AS BIGINT) AS decayed_credit,
           CAST(SUM({" + ".join(f"n_click_{d}" for d in range(DECAY_DAYS))})
                AS BIGINT) AS touches
    FROM conv
    UNION ALL
    SELECT 'view',
           CAST(SUM({" + ".join(f"n_view_{d} * {2 ** (DECAY_DAYS - 1 - d)}"
                                for d in range(DECAY_DAYS))}) AS BIGINT),
           CAST(SUM({" + ".join(f"n_view_{d}" for d in range(DECAY_DAYS))})
                AS BIGINT)
    FROM conv
    """,
    tags=("events", "attribution", "window", "range-frame", "integer-exact"),
)
def ev_attribution_time_decay(spark: SparkSession, sf: str) -> DataFrame:
    """Time-decay attribution, INTEGER EXACT: each purchase credits
    every click/view in its trailing 7 days with weight 2^(6-d) for a
    touch d whole days old (most recent day 64 ... oldest 1) — the
    exponential-decay model cross-multiplied to integers (house rule:
    ev_ewma_spike). A window aggregate cannot reference the CURRENT
    row's timestamp against frame rows, so per-pair age is not
    expressible in one frame; the decomposition into {DECAY_DAYS}
    fixed-bound day buckets — each a RANGE frame with CONSTANT weight —
    is, and is exact.

    Scale shape: all 2x{DECAY_DAYS} bucket counts ride ONE user_id
    shuffle (identical partitioning and ordering, one Window operator
    stack); frames bound per-row state by the 7-day per-user event
    count; the final 2-row channel aggregate is map-side partials. The
    event-type filter reaches the parquet scan."""
    ev = load_table(spark, sf, "events").where(
        F.col("event_type").isin("click", "view", "purchase")
    )
    e = ev.select("user_id", "event_type", F.unix_micros("ts").alias("t"))
    buckets = {}
    for ch in ("click", "view"):
        for d in range(DECAY_DAYS):
            w = (
                Window.partitionBy("user_id")
                .orderBy("t")
                .rangeBetween(-((d + 1) * DAY_US - 1), -(d * DAY_US))
            )
            buckets[f"n_{ch}_{d}"] = F.count(
                F.when(F.col("event_type") == ch, 1)
            ).over(w)
    tagged = e.select("event_type", *[c.alias(n) for n, c in buckets.items()])
    conv = tagged.where(F.col("event_type") == "purchase")

    # ONE aggregate pass for both channels, constant 2-row stack unpivot
    # (a per-channel union would re-run the scan and all 14 windows)
    aggs = []
    for ch in ("click", "view"):
        total = None
        raw = None
        for d in range(DECAY_DAYS):
            term = F.col(f"n_{ch}_{d}") * (2 ** (DECAY_DAYS - 1 - d))
            cnt = F.col(f"n_{ch}_{d}")
            total = term if total is None else total + term
            raw = cnt if raw is None else raw + cnt
        aggs.append(F.sum(total).cast("long").alias(f"dc_{ch}"))
        aggs.append(F.sum(raw).cast("long").alias(f"tc_{ch}"))
    return conv.agg(*aggs).selectExpr(
        "stack(2, 'click', dc_click, tc_click, 'view', dc_view, tc_view)"
        " AS (channel, decayed_credit, touches)"
    )


CREDIT_UNITS = 1_000_000  # micro-credits per conversion (exact integer)


def _conversion_touch_pairs(spark: SparkSession, sf: str):
    """Shared frame for fractional-credit attribution: one row per
    (conversion, in-window touch), tagged with the conversion's touch
    count k and the touch's recency rank rn (1 = most recent; ties on
    identical timestamps break on event_id, so the rank is fully
    deterministic in both engines). Returns (pairs, conv).

    Scale shape: ONE equi-join shuffle on user_id (the range predicate
    rides the sort-merge join as a post-condition), per-user pair
    volume bounded by conversions × 7-day touch count — never a
    corpus cross join. k and rn are windows over cid: conversion-sized
    partitions (a handful of rows each), no global window anywhere."""
    ev = load_table(spark, sf, "events").where(
        F.col("event_type").isin("click", "view", "purchase")
    )
    e = ev.select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("t")
    )
    conv = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("cid"), F.col("t").alias("ct")
    )
    touch = e.where(F.col("event_type") != "purchase").select(
        "user_id", "event_id", F.col("event_type").alias("channel"), "t"
    )
    in_window = (F.col("t") >= F.col("ct") - ATTR_WINDOW_US) & (
        (F.col("t") < F.col("ct"))
        | ((F.col("t") == F.col("ct")) & (F.col("event_id") < F.col("cid")))
    )
    joined = conv.join(touch, "user_id").where(in_window)
    wk = Window.partitionBy("cid")
    wr = Window.partitionBy("cid").orderBy(F.col("t").desc(), F.col("event_id").desc())
    pairs = joined.select(
        "cid",
        "channel",
        F.count("*").over(wk).alias("k"),
        F.row_number().over(wr).alias("rn"),
    )
    return pairs, conv


def _credit_rollup(pairs: DataFrame, conv: DataFrame, mc) -> DataFrame:
    """Aggregate per-touch micro-credits `mc` to the 3-row channel
    layout. ONE aggregate pass computes both channel sums, touch
    counts, and the attributed-conversion count; 'direct' credit is
    (total conversions − attributed conversions) × CREDIT_UNITS — no
    second range join for the no-touch conversions. Constant 3-row
    stack unpivot of the single aggregate row (house rule: never a
    per-channel union that re-runs the join)."""
    agg = pairs.select("cid", "channel", mc.alias("mc")).agg(
        F.coalesce(
            F.sum(F.when(F.col("channel") == "click", F.col("mc"))), F.lit(0)
        ).cast("long").alias("click_mc"),
        F.coalesce(
            F.sum(F.when(F.col("channel") == "view", F.col("mc"))), F.lit(0)
        ).cast("long").alias("view_mc"),
        F.count(F.when(F.col("channel") == "click", 1)).alias("click_n"),
        F.count(F.when(F.col("channel") == "view", 1)).alias("view_n"),
        F.count_distinct("cid").alias("n_attr"),
    )
    nconv = conv.agg(F.count("*").alias("n_conv"))
    return agg.crossJoin(F.broadcast(nconv)).selectExpr(
        f"stack(3, 'click', click_mc, click_n,"
        f" 'view', view_mc, view_n,"
        f" 'direct', (n_conv - n_attr) * {CREDIT_UNITS}, CAST(0 AS BIGINT))"
        " AS (channel, micro_credits, touches_credited)"
    )


_PAIRS_SQL = f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS t
      FROM events WHERE event_type IN ('click', 'view', 'purchase')),
    conv AS (SELECT user_id, event_id AS cid, t AS ct FROM e
             WHERE event_type = 'purchase'),
    touch AS (SELECT user_id, event_id, event_type AS channel, t FROM e
              WHERE event_type IN ('click', 'view')),
    pairs AS (
      SELECT c.cid, tc.channel,
             COUNT(*) OVER (PARTITION BY c.cid) AS k,
             ROW_NUMBER() OVER (PARTITION BY c.cid
                                ORDER BY tc.t DESC, tc.event_id DESC) AS rn
      FROM conv c JOIN touch tc
        ON c.user_id = tc.user_id
       AND tc.t >= c.ct - {ATTR_WINDOW_US}
       AND (tc.t < c.ct OR (tc.t = c.ct AND tc.event_id < c.cid)))
"""

_ROLLUP_SQL = f"""
    agg AS (
      SELECT
        CAST(COALESCE(SUM(CASE WHEN channel='click' THEN mc END), 0) AS BIGINT) AS click_mc,
        CAST(COALESCE(SUM(CASE WHEN channel='view' THEN mc END), 0) AS BIGINT) AS view_mc,
        CAST(COALESCE(SUM(CASE WHEN channel='click' THEN 1 END), 0) AS BIGINT) AS click_n,
        CAST(COALESCE(SUM(CASE WHEN channel='view' THEN 1 END), 0) AS BIGINT) AS view_n,
        COUNT(DISTINCT cid) AS n_attr
      FROM credit),
    nc AS (SELECT COUNT(*) AS n_conv FROM conv)
    SELECT 'click' AS channel, click_mc AS micro_credits,
           click_n AS touches_credited FROM agg
    UNION ALL
    SELECT 'view', view_mc, view_n FROM agg
    UNION ALL
    SELECT 'direct',
           CAST((SELECT n_conv FROM nc) - n_attr AS BIGINT) * {CREDIT_UNITS},
           CAST(0 AS BIGINT)
    FROM agg
"""


@register(
    "ev_attribution_linear",
    oracle=_PAIRS_SQL
    + f""",
    credit AS (
      SELECT cid, channel,
             {CREDIT_UNITS} // k
             + CASE WHEN rn <= {CREDIT_UNITS} % k THEN 1 ELSE 0 END AS mc
      FROM pairs),
    """
    + _ROLLUP_SQL,
    tags=("events", "attribution", "range-join"),
)
def ev_attribution_linear(spark: SparkSession, sf: str) -> DataFrame:
    """Linear (equal-weight) multi-touch attribution with EXACT integer
    credit: each conversion distributes {CREDIT_UNITS} micro-credits
    equally over its trailing-7-day touches by Hamilton apportionment —
    every touch gets units DIV k, the units % k most recent touches get
    +1 — so per-conversion credit conserves exactly (sum of credits ==
    conversions × {CREDIT_UNITS}, asserted in tests) and the channel
    rollup is a BIGINT sum no float-summation order can perturb. The
    fractional-credit report VERDICT r4/r5 asked for, in the
    float-stable shape the integer-credit variants established;
    conversions with no in-window touch credit 'direct' in full.

    Scale shape: see _conversion_touch_pairs (one user_id shuffle,
    window-bounded pair volume) and _credit_rollup (single aggregate
    pass, constant 3-row unpivot)."""
    pairs, conv = _conversion_touch_pairs(spark, sf)
    mc = F.expr(
        f"{CREDIT_UNITS} DIV k + IF(rn <= {CREDIT_UNITS} % k, 1, 0)"
    )
    return _credit_rollup(pairs, conv, mc)


U_EDGE = 400_000  # U-shaped: 40% first touch, 40% last, 20% split middle
U_MID = CREDIT_UNITS - 2 * U_EDGE


@register(
    "ev_attribution_position",
    oracle=_PAIRS_SQL
    + f""",
    credit AS (
      SELECT cid, channel,
             CASE WHEN k = 1 THEN {CREDIT_UNITS}
                  WHEN k = 2 THEN {CREDIT_UNITS // 2}
                  WHEN rn = 1 OR rn = k THEN {U_EDGE}
                  ELSE {U_MID} // (k - 2)
                       + CASE WHEN rn - 1 <= {U_MID} % (k - 2) THEN 1 ELSE 0 END
             END AS mc
      FROM pairs),
    """
    + _ROLLUP_SQL,
    tags=("events", "attribution", "range-join"),
)
def ev_attribution_position(spark: SparkSession, sf: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) multi-touch attribution,
    integer-exact: first and last in-window touch each take {U_EDGE}
    micro-credits, the middle touches split {U_MID} by Hamilton
    apportionment (most recent middles take the remainder); k=1 takes
    everything, k=2 splits evenly. Same conservation guarantee and
    3-row channel rollup as ev_attribution_linear — the two queries
    share the pair frame builder and differ only in the per-touch
    credit expression, which is how a real attribution library should
    factor (models = credit formulas over one canonical touch frame)."""
    pairs, conv = _conversion_touch_pairs(spark, sf)
    mc = F.expr(
        f"CASE WHEN k = 1 THEN {CREDIT_UNITS}"
        f" WHEN k = 2 THEN {CREDIT_UNITS // 2}"
        f" WHEN rn = 1 OR rn = k THEN {U_EDGE}"
        f" ELSE {U_MID} DIV (k - 2)"
        f"      + IF(rn - 1 <= {U_MID} % (k - 2), 1, 0) END"
    )
    return _credit_rollup(pairs, conv, mc)


@register(
    "ev_cohort_ltv",
    oracle=f"""
    WITH first_seen AS (
      SELECT user_id,
             CAST(epoch(date_trunc('week', MIN(ts))) AS BIGINT) AS cohort_week
      FROM events GROUP BY 1),
    rev AS (
      SELECT user_id, CAST(epoch(date_trunc('week', ts)) AS BIGINT) AS w,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase')
    SELECT f.cohort_week,
           (r.w - f.cohort_week) // {WEEK_SEC} AS age_weeks,
           CAST(COUNT(DISTINCT r.user_id) AS BIGINT) AS payers,
           CAST(SUM(r.cents) AS BIGINT) AS revenue_cents
    FROM first_seen f JOIN rev r USING (user_id)
    GROUP BY 1, 2
    """,
    tags=("events", "cohort", "ltv"),
)
def ev_cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort lifetime value: purchase revenue (integer cents, house
    money rule) bucketed by first-activity cohort week × weeks-since —
    the revenue companion to ev_cohort_matrix's retention counts, and
    together the standard LTV-curve input. Weekly grain matches
    ev_cohort_matrix (Monday-truncated epoch seconds, exact integer
    offset division — no calendar-month float anywhere).

    Scale shape: first-seen is ONE user-keyed aggregate of the scan
    (min ts per user — map-side partial); revenue filters to purchases
    before joining, so the join's left side is purchase-sized, its
    right side user-sized, both hash-partitioned on user_id once. The
    final aggregate is cohorts × ages — calendar-bounded, tiny."""
    ev = load_table(spark, sf, "events")
    week = lambda c: F.date_trunc("week", c).cast("long")  # noqa: E731
    first_seen = ev.groupBy("user_id").agg(week(F.min("ts")).alias("cohort_week"))
    rev = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        week(F.col("ts")).alias("w"),
        F.expr(CENTS).alias("cents"),
    )
    age = F.expr(f"(w - cohort_week) DIV {WEEK_SEC}")
    return (
        rev.join(first_seen, "user_id")
        .select("cohort_week", age.alias("age_weeks"), "user_id", "cents")
        .groupBy("cohort_week", "age_weeks")
        .agg(
            F.count_distinct("user_id").alias("payers"),
            F.sum("cents").alias("revenue_cents"),
        )
    )
