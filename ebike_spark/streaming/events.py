"""Structured Streaming over the events table.

The reference has no streaming surface whatsoever (SURVEY §2.B:
"streaming: none anywhere") — this module is the Spark-native extension:
the *same logical plans* as plans/analytics.py run over ``readStream``,
which is exactly how Spark is meant to unify batch and streaming.

Local smoke strategy (no Kafka in this container): stage the events
table as N time-ordered parquet files in a scratch directory, stream
them with ``maxFilesPerTrigger=1`` so the query processes N micro-
batches, and drain synchronously with ``processAllAvailable`` into a
memory sink. At production scale the source line changes to
``readStream.format("kafka")`` — every transformation below is
unchanged, watermarks bound state, and the memory sink becomes a
parquet/Delta sink with checkpointing for exactly-once.

The streamed results are verified against the SAME DuckDB oracles as
their batch twins — streaming correctness is part of the driver's
correctness gate, not a side demo.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

import ebike_spark.plans.attribution  # noqa: F401  (registers the batch oracle this module reuses)
import ebike_spark.plans.timeseries  # noqa: F401  (ev_new_vs_returning's oracle, reused below)
from ebike_spark.plans.analytics import SESSION_GAP_SEC
from ebike_spark.plans.registry import REGISTRY, register
from ebike_spark.sources.registry import load_table

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


# Staged 'topics' are immutable replay input — shareable across every
# streaming query in a process (each query keeps its own checkpoint and
# sink). Re-staging per query cost ~4-6 s × ~24 drives in the test
# suite for identical bytes. Callers that MUTATE the staged dir (the
# dedup double-replay copies files into it) must pass shared=False.
_STAGE_CACHE: dict[tuple[str, int], str] = {}


def stage_stream_dir(
    spark: SparkSession, sf_dir: str, n_files: int = 4, shared: bool = True
) -> str:
    """Materialize events as n time-ordered parquet files in a scratch
    dir — the 'topic' our file stream replays micro-batch by micro-batch
    (micros timestamps, so the streaming reader needs no legacy conf)."""
    if shared:
        cached = _STAGE_CACHE.get((sf_dir, n_files))
        if cached is not None and os.path.isdir(cached):
            return cached
    out = os.path.join(tempfile.gettempdir(), f"ebike_stream_{uuid.uuid4().hex[:10]}")
    ev = load_table(spark, sf_dir, "events")
    ev.repartitionByRange(n_files, "ts").write.parquet(out)
    # FileStreamSource replays files oldest-mtime-first; the parallel
    # write gives all parts the same mtime, so replay order would be
    # arbitrary — a late-range file processed first advances the
    # watermark and silently DROPS the earlier ranges. Stamp strictly
    # increasing mtimes in range order (part-00000 = lowest ts range).
    import time as _time

    base = _time.time()
    for i, fname in enumerate(sorted(os.listdir(out))):
        if fname.endswith(".parquet"):
            p = os.path.join(out, fname)
            os.utime(p, (base + i, base + i))
    if shared:
        _STAGE_CACHE[(sf_dir, n_files)] = out
    return out


def read_event_stream(spark: SparkSession, staged_dir: str, files_per_trigger: int = 1) -> DataFrame:
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(staged_dir)
    )


def run_to_table(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Drive a streaming query to completion into a memory sink and
    return the sink as a batch DataFrame."""
    name = f"sink_{uuid.uuid4().hex[:10]}"
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark = stream_df.sparkSession
    return spark.table(name)


# ------------------------------------------------------------ transforms
# (identical plan shapes to plans/analytics.py, applied to a stream)


def tumbling_agg(ev: DataFrame, with_watermark: bool = True) -> DataFrame:
    src = ev.withWatermark("ts", "2 hours") if with_watermark else ev
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").cast("long").alias("win_start"), "event_type", "n", "total")
    )


def session_window_agg(ev: DataFrame) -> DataFrame:
    """Native gap-based session windows (the streaming twin of the
    batch lag-gap-cumsum sessionizer)."""
    return (
        ev.groupBy(F.session_window("ts", f"{SESSION_GAP_SEC} seconds").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("sw.start").cast("long").alias("s_start"), "n_events")
    )


def make_running_counter():
    """Custom stateful operator: per-user running event count + sum via
    applyInPandasWithState. Closure-built so executors don't need this
    package on PYTHONPATH. State is one (count, total_cents) pair per
    user — constant memory per key, merge-on-batch: the
    applyInPandasWithState pattern that scales to arbitrary custom
    streaming state. The monetary total accumulates as integer CENTS
    (value is 2-decimal currency; value*100 is integer-valued), making
    the running sum order-independent and bit-identical to any batch
    engine — a float accumulator's result depends on micro-batch
    arrival order and can flip a final ROUND at a half boundary."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            cnt, cents = state.get
        else:
            cnt, cents = 0, 0
        for pdf in pdfs:
            cnt += len(pdf)
            cents += int((pdf["value"] * 100).round().sum())
        state.update((cnt, cents))
        yield pd.DataFrame(
            {"user_id": [user_id], "n": [cnt], "total_cents": [cents]}
        )

    return fn


RUNNING_OUT_SCHEMA = "user_id long, n long, total_cents long"
RUNNING_STATE_SCHEMA = "cnt long, cents long"


def running_counts_stream(ev: DataFrame) -> DataFrame:
    return ev.groupBy("user_id").applyInPandasWithState(
        make_running_counter(),
        RUNNING_OUT_SCHEMA,
        RUNNING_STATE_SCHEMA,
        "update",
        "NoTimeout",
    )


def stream_stream_interval_join(ev: DataFrame) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's view events within the preceding hour. Both sides carry
    watermarks and the join predicate bounds event time on both sides —
    that pair of constraints is what lets Spark expire join state
    (otherwise a stream-stream join buffers forever)."""
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("p_event"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "2 hours")
    )
    return purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("p_event", F.unix_micros("p_ts").alias("p_ts_us"), F.unix_micros("v_ts").alias("v_ts_us"))


# ------------------------------------------------------------ registered
# streaming queries: full stream runs whose final results must match the
# batch oracles.


@register(
    "stream_tumbling_window",
    oracle=REGISTRY["ev_tumbling_window"].oracle,
    tags=("streaming", "window-agg"),
    eager=True,
)
def stream_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    """readStream → tumbling window agg → memory sink, drained over 4
    micro-batches. Complete mode: the final table must equal the batch
    answer (same oracle as ev_tumbling_window)."""
    staged = stage_stream_dir(spark, sf)
    out = run_to_table(tumbling_agg(read_event_stream(spark, staged), with_watermark=False), "complete")
    return out


@register(
    "stream_sliding_window",
    oracle=REGISTRY["ev_sliding_window"].oracle,
    tags=("streaming", "window-agg", "sliding"),
    eager=True,
)
def stream_sliding(spark: SparkSession, sf: str) -> DataFrame:
    """readStream → sliding (1h / 30m) window agg → memory sink; final
    complete-mode table must equal the batch sliding-window answer."""
    staged = stage_stream_dir(spark, sf)
    ev = read_event_stream(spark, staged)
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").cast("long").alias("win_start"), "event_type", "n", "total")
    )
    return run_to_table(agg, "complete")


@register(
    "stream_dedup_exact",
    oracle="""
    SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
    """,
    tags=("streaming", "dedup"),
    eager=True,
)
def stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming exact dedup: the staged files are replayed TWICE (every
    event arrives two times); dropDuplicatesWithinWatermark must emit
    each exactly once, so per-type counts equal the plain batch counts.
    State = one key per event inside the watermark horizon."""
    import shutil

    # shared=False: this query MUTATES its staged dir (duplicate files)
    staged = stage_stream_dir(spark, sf, n_files=2, shared=False)
    for f in sorted(os.listdir(staged)):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(staged, f), os.path.join(staged, "dup_" + f))
    ev = read_event_stream(spark, staged)
    deduped = ev.withWatermark("ts", "30 days").dropDuplicatesWithinWatermark(["event_id"])
    out = run_to_table(deduped.select("event_id", "event_type"), "append")
    return out.groupBy("event_type").agg(F.count("*").alias("n"))


@register(
    "stream_stateful_running_counts",
    oracle="""
    SELECT user_id, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful", "applyInPandasWithState"),
    eager=True,
)
def stream_stateful(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running totals across micro-batches; the final per-user
    state must equal the batch per-user count + integer-cents sum — a
    full value oracle (the batch twin of the same per-user state
    logic, the stream_funnel precedent). Update mode emits one row per
    (user, batch); n is strictly monotone, so the row holding the max
    (n, total_cents) struct per user IS the final state."""
    staged = stage_stream_dir(spark, sf, n_files=3)
    sink = run_to_table(running_counts_stream(read_event_stream(spark, staged)), "update")
    final = sink.groupBy("user_id").agg(
        F.max(F.struct("n", "total_cents")).alias("s")
    )
    return final.select(
        "user_id", F.col("s.n").alias("n"), F.col("s.total_cents").alias("total_cents")
    )


@register(
    "stream_sessionize",
    oracle=REGISTRY["ev_sessionize"].oracle,
    tags=("streaming", "session-window"),
    eager=True,
)
def stream_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """readStream → session_window agg → memory sink, then a batch
    rollup to sessions-per-user. Must equal the batch lag-gap
    sessionizer (same oracle). Session merge uses a strict `< gap`
    bound vs the batch `> gap` new-session rule — identical except for
    gaps of exactly 30:00.000000, absent in real-valued data."""
    staged = stage_stream_dir(spark, sf)
    sessions = run_to_table(session_window_agg(read_event_stream(spark, staged)), "complete")
    return sessions.groupBy("user_id").agg(F.count("*").cast("long").alias("n_sessions"))


def make_funnel_tracker():
    """Custom stateful operator: per-user funnel progress via
    applyInPandasWithState. State is one (stage, t) pair per user —
    the same strict-> greedy advancement the batch ev_funnel's sorted
    scan applies, resumed across micro-batches. Correct because the
    staged replay delivers each user's events in non-decreasing ts
    order across batches (range-staged files) and each batch is sorted
    (t, event_type) before the scan — matching the batch array_sort
    order. Closure-built; executors never import this package."""
    from ebike_spark.plans.analytics import FUNNEL_STAGES

    stages = tuple(FUNNEL_STAGES)

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            s, t = state.get
        else:
            s, t = 0, 0
        frames = [p[["t", "event_type"]] for p in pdfs]
        ev = pd.concat(frames).sort_values(["t", "event_type"]) if frames else None
        if ev is not None:
            for tt, et in zip(ev["t"], ev["event_type"]):
                if s < len(stages) and et == stages[s] and (s == 0 or tt > t):
                    s, t = s + 1, int(tt)
        state.update((int(s), int(t)))
        yield pd.DataFrame({"user_id": [user_id], "s": [int(s)]})

    return fn


def funnel_stream(ev: DataFrame) -> DataFrame:
    from ebike_spark.plans.analytics import FUNNEL_STAGES

    src = ev.where(F.col("event_type").isin(*FUNNEL_STAGES)).select(
        "user_id", F.unix_micros("ts").alias("t"), "event_type"
    )
    return src.groupBy("user_id").applyInPandasWithState(
        make_funnel_tracker(),
        "user_id long, s int",
        "s int, t long",
        "update",
        "NoTimeout",
    )


@register(
    "stream_funnel",
    oracle=REGISTRY["ev_funnel"].oracle,
    tags=("streaming", "stateful", "funnel", "applyInPandasWithState"),
    eager=True,
)
def stream_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming funnel: per-user stage state advanced across 4
    micro-batches, final stage counts must hash-match the BATCH
    funnel's oracle — a custom-state streaming operator with a full
    value oracle (stream_stateful_running_counts is the rows-only
    precedent; this one closes the loop). Stage is monotone, so the
    final per-user stage is the max over update-mode emissions."""
    staged = stage_stream_dir(spark, sf)
    sink = run_to_table(funnel_stream(read_event_stream(spark, staged)), "update")
    from ebike_spark.plans.analytics import FUNNEL_STAGES

    stage_arr = F.array(*[F.lit(s) for s in FUNNEL_STAGES])
    final = sink.groupBy("user_id").agg(F.max("s").alias("s")).where(F.col("s") >= 1)
    return (
        final.select(F.explode(F.sequence(F.lit(1), F.col("s"))).alias("stage_idx"))
        .groupBy("stage_idx")
        .agg(F.count("*").alias("n_users"))
        .select(
            "stage_idx",
            F.element_at(stage_arr, F.col("stage_idx")).alias("stage"),
            "n_users",
        )
    )


@register(
    "stream_static_join",
    oracle="""
    SELECT CAST(epoch(date_trunc('hour', e.ts)) AS BIGINT) AS win_start,
           c.c_mktsegment AS segment, COUNT(*) AS n,
           ROUND(SUM(e.value), 2) AS total
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    tags=("streaming", "join", "enrichment"),
    eager=True,
)
def stream_static_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joined to the
    static customer dimension (user_id = c_custkey), then a tumbling
    window aggregate per market segment — the canonical streaming
    enrichment topology (stream ⋈ broadcast dim → windowed rollup).

    The static side is broadcast: Structured Streaming re-plans the
    join every micro-batch, the stream side never shuffles for the
    join, and no state is kept for it (unlike stream-stream joins).
    At 100 TB/day the dim refresh is a Delta snapshot re-broadcast;
    the aggregation state is bounded by windows × segments. Complete
    mode over 4 replayed micro-batches must equal the batch join —
    same oracle a batch engine would use."""
    staged = stage_stream_dir(spark, sf)
    ev = read_event_stream(spark, staged)
    cust = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    agg = (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "segment")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").cast("long").alias("win_start"), "segment", "n", "total")
    )
    return run_to_table(agg, "complete")


def make_scd2_closer():
    """Custom stateful operator: per-user SCD2 interval builder via
    applyInPandasWithState. State is the open interval (current type,
    valid_from in micros); each state CHANGE emits the closed interval.
    Correct under the staged replay's per-user non-decreasing ts order
    across batches; each batch is sorted (t, event_id) to match the
    batch operator's (ts, event_id) window order. Closure-built;
    executors never import this package."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        cur_type, t_from = state.get if state.exists else (None, 0)
        frames = [p[["t", "event_id", "event_type"]] for p in pdfs]
        out_type, out_from, out_to = [], [], []
        if frames:
            ev = pd.concat(frames).sort_values(["t", "event_id"])
            for tt, et in zip(ev["t"], ev["event_type"]):
                if cur_type is None:
                    cur_type, t_from = et, int(tt)
                elif et != cur_type:
                    out_type.append(cur_type)
                    out_from.append(t_from)
                    out_to.append(int(tt))
                    cur_type, t_from = et, int(tt)
        state.update((cur_type, int(t_from)))
        yield pd.DataFrame(
            {
                "user_id": user_id,
                "event_type": out_type,
                "from_us": out_from,
                "to_us": out_to,
            }
        )

    return fn


def scd2_stream(ev: DataFrame) -> DataFrame:
    src = ev.select(
        "user_id", F.unix_micros("ts").alias("t"), "event_id", "event_type"
    )
    return src.groupBy("user_id").applyInPandasWithState(
        make_scd2_closer(),
        "user_id long, event_type string, from_us long, to_us long",
        "cur_type string, t_from long",
        "update",
        "NoTimeout",
    )


@register(
    "stream_scd2_closed",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events),
    changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type),
    iv AS (
      SELECT user_id, event_type,
             epoch_us(ts) // 1000000 AS valid_from,
             LEAD(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      FROM changes)
    SELECT user_id, event_type, valid_from, valid_to,
           valid_to - valid_from AS duration_sec
    FROM iv WHERE valid_to IS NOT NULL
    """,
    tags=("streaming", "stateful", "scd2", "applyInPandasWithState"),
    eager=True,
)
def stream_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming SCD2: per-user open-interval state advanced across 4
    micro-batches; every state change emits a CLOSED interval, and the
    union of emissions must hash-match the batch ev_scd2_intervals
    restricted to closed intervals (the open interval per user lives in
    operator state — exactly the CDC-compaction contract: closed
    history in the sink, current state in the store)."""
    staged = stage_stream_dir(spark, sf)
    sink = run_to_table(scd2_stream(read_event_stream(spark, staged)), "update")
    return sink.select(
        "user_id",
        "event_type",
        F.expr("from_us div 1000000").alias("valid_from"),
        F.expr("to_us div 1000000").alias("valid_to"),
        (F.expr("to_us div 1000000") - F.expr("from_us div 1000000")).alias(
            "duration_sec"
        ),
    )


def _merge_rollup_batch(target_dir: str):
    """foreachBatch merge via DYNAMIC PARTITION OVERWRITE: the rollup
    is day-partitioned; each batch reads back only the day partitions
    it touches (partition-pruned scan), merges its minute partials in,
    and overwrites just those partitions — per-batch cost scales with
    the batch's day span, never with the aggregate's total history.
    This is the plain-parquet form of a lakehouse MERGE; swapping the
    sink to Delta changes only the write call."""
    import os as _os

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # Idempotence guard: foreachBatch may REPLAY the last
        # in-flight batch after a crash-restart (exactly-once requires
        # the sink to dedupe by batchId). A read-merge-write that
        # reapplies a replayed batch double-counts it — so the highest
        # merged batchId rides INSIDE each day partition's data
        # (`last_bid`), committing atomically with the merge itself:
        # there is no window where the data landed but its provenance
        # didn't (a side-file marker written after the data write has
        # exactly that window). This is the same transactional-sink
        # contract a Delta MERGE gets from its log.
        partial = (
            batch_df.groupBy(
                F.date_trunc("minute", F.col("ts")).alias("b"), "event_type"
            )
            .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
            .withColumn("d", F.to_date("b"))
        )
        if _os.path.exists(target_dir):
            days = [r["d"] for r in partial.select("d").distinct().collect()]
            cur = spark.read.parquet(target_dir).where(F.col("d").isin(days))
            done = {
                r["d"]
                for r in cur.groupBy("d")
                .agg(F.max("last_bid").alias("m"))
                .where(F.col("m") >= batch_id)
                .collect()
            }
            fresh = [d for d in days if d not in done]
            if not fresh:
                return  # replayed batch: every touched day already has it
            partial = partial.where(F.col("d").isin(fresh))
            cur = cur.where(F.col("d").isin(fresh)).drop("last_bid")
            partial = cur.unionByName(partial).groupBy("b", "event_type", "d").agg(
                F.sum("n").alias("n"), F.sum("total").alias("total")
            )
        partial = partial.withColumn("last_bid", F.lit(batch_id))
        saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            partial.write.partitionBy("d").mode("overwrite").parquet(target_dir)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)

    return fn


@register(
    "stream_rollup_maintain",
    oracle="""
    SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS bucket_start,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "foreachBatch", "rollup", "incremental-view"),
    eager=True,
)
def stream_rollup_maintain(spark: SparkSession, sf: str) -> DataFrame:
    """Incrementally MAINTAINED materialized rollup: the stream's 4
    micro-batches each merge their minute partials into a materialized
    aggregate table via foreachBatch (COUNT/SUM are decomposable, so
    batch-wise merge is exact); the final table must hash-match the
    batch minute rollup computed from scratch. This is the streaming
    half of ev_hierarchical_rollup — together they are the continuous-
    aggregate pattern: maintain the finest level incrementally, derive
    coarser levels by reaggregation, never rescan history."""
    staged = stage_stream_dir(spark, sf)
    target = os.path.join(
        tempfile.gettempdir(), f"ebike_rollup_{uuid.uuid4().hex[:10]}"
    )
    q = (
        read_event_stream(spark, staged)
        .writeStream.outputMode("append")
        .foreachBatch(_merge_rollup_batch(target))
        .option("checkpointLocation", target + ".ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(target).select(
        F.col("b").cast("long").alias("bucket_start"),
        "event_type",
        "n",
        F.round("total", 2).alias("total"),
    )


@register(
    "stream_interval_join",
    oracle="""
    SELECT p.event_id AS p_event, epoch_us(p.ts) AS p_ts_us,
           epoch_us(v.ts) AS v_ts_us
    FROM events p JOIN events v
      ON v.user_id = p.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
    """,
    tags=("streaming", "stream-stream-join", "interval"),
    eager=True,
)
def stream_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-STREAM interval join driven to completion: purchases ×
    same-user views in the trailing hour, both sides watermarked so
    Spark can expire join state (the unbounded-buffer failure mode of
    an unconstrained stream-stream join). Every emitted pair must
    hash-match the batch interval join — the staged range-ordered
    replay plus the 2h watermark guarantees no view leaves state while
    a joinable purchase can still arrive."""
    staged = stage_stream_dir(spark, sf)
    return run_to_table(
        stream_stream_interval_join(read_event_stream(spark, staged)), "append"
    )


GAP_ALERT_US = 7 * 24 * 3600 * 1_000_000  # 7-day silence threshold


def make_gap_detector():
    """Custom stateful operator: per-user silence detection. State is
    the user's last event time; each arriving event whose gap from the
    previous one exceeds GAP_ALERT_US emits one alert fact. Works
    because the staged replay delivers each user's events in
    non-decreasing ts order across micro-batches (range-staged files)
    and each batch sorts (t, event_id) — the funnel tracker's
    assumption. Closure-built; executors never import this package."""
    gap = GAP_ALERT_US

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        prev = state.get[0] if state.exists else None
        starts, ends = [], []
        frames = [p[["t", "event_id"]] for p in pdfs]
        if frames:
            ev = pd.concat(frames).sort_values(["t", "event_id"])
            for t in ev["t"]:
                t = int(t)
                if prev is not None and t - prev > gap:
                    starts.append(prev)
                    ends.append(t)
                prev = t
        if prev is not None:
            state.update((int(prev),))
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(starts),
                "gap_start": starts,
                "gap_end": ends,
            }
        )

    return fn


def gap_alert_stream(ev: DataFrame) -> DataFrame:
    src = ev.select("user_id", F.unix_micros("ts").alias("t"), "event_id")
    return src.groupBy("user_id").applyInPandasWithState(
        make_gap_detector(),
        "user_id long, gap_start long, gap_end long",
        "last_t long",
        "update",
        "NoTimeout",
    )


@register(
    "stream_gap_alerts",
    oracle=f"""
    WITH g AS (
      SELECT user_id,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id) AS prev_t,
             epoch_us(ts) AS t
      FROM events)
    SELECT user_id, COUNT(*) AS n_gaps,
           CAST(MAX(t - prev_t) AS BIGINT) AS max_gap_us
    FROM g WHERE t - prev_t > {GAP_ALERT_US} GROUP BY 1
    """,
    tags=("streaming", "stateful", "alerting", "applyInPandasWithState"),
    eager=True,
)
def stream_gap_alerts(spark: SparkSession, sf: str) -> DataFrame:
    """Silence/gap alerting: a custom stateful operator carries each
    user's last event time across micro-batches and emits an alert
    fact whenever the inter-event gap exceeds 7 days — the streaming
    dual of sessionization (gaps ARE the session boundaries) and the
    deterministic, event-time formulation of a silence alert (a
    processing-time timeout alert cannot be oracled — wall clock).
    The emitted alert facts aggregate per user and must hash-match
    the batch LAG-gap query."""
    staged = stage_stream_dir(spark, sf)
    sink = run_to_table(gap_alert_stream(read_event_stream(spark, staged)), "update")
    return sink.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.max(F.col("gap_end") - F.col("gap_start")).alias("max_gap_us"),
    )


def make_last_touch_attributor(window_us: int):
    """Custom stateful operator: per-user last-touch attribution via
    applyInPandasWithState. State is the user's most recent (touch
    time, touch type); each purchase is attributed against the state
    AS OF strictly-earlier (t, event_id) order — exactly the batch
    window's ROWS ... 1 PRECEDING frame, resumed across micro-batches
    (staged replay keeps per-user ts non-decreasing across batches).
    Closure-built; executors never import this package."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.exists:
            lt_t, lt_type = state.get
        else:
            lt_t, lt_type = -1, ""
        frames = [p[["t", "event_id", "event_type", "cents"]] for p in pdfs]
        # per touch_type: (purchases, cents_sum, any_non_null_cents) —
        # a NULL-value purchase still counts but contributes no cents
        # (Arrow hands NULL as NaN; int(NaN) would kill the query), and
        # an all-NULL group emits NULL so the sink SUM matches the
        # batch oracle's NULL-skipping SUM exactly
        out: dict[str, tuple[int, int, bool]] = {}
        if frames:
            ev = pd.concat(frames).sort_values(["t", "event_id"])
            for tt, et, cents in zip(ev["t"], ev["event_type"], ev["cents"]):
                if et == "purchase":
                    if lt_t >= 0 and tt - lt_t <= window_us:
                        touch = lt_type
                    else:
                        touch = "direct"
                    n, c, seen = out.get(touch, (0, 0, False))
                    if pd.isna(cents):
                        out[touch] = (n + 1, c, seen)
                    else:
                        out[touch] = (n + 1, c + int(cents), True)
                else:
                    lt_t, lt_type = int(tt), et
        state.update((int(lt_t), lt_type))
        if out:
            yield pd.DataFrame(
                {
                    "touch_type": list(out),
                    "n": [v[0] for v in out.values()],
                    "cents": pd.array(
                        [v[1] if v[2] else None for v in out.values()],
                        dtype="Int64",
                    ),
                }
            )

    return fn


def attribution_stream(ev: DataFrame) -> DataFrame:
    from ebike_spark.plans.attribution import ATTR_WINDOW_US, CENTS

    src = ev.where(F.col("event_type").isin("click", "view", "purchase")).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("t"),
        F.expr(CENTS).alias("cents"),
    )
    return src.groupBy("user_id").applyInPandasWithState(
        make_last_touch_attributor(ATTR_WINDOW_US),
        "touch_type string, n long, cents long",
        "t long, typ string",
        "update",
        "NoTimeout",
    )


@register(
    "stream_attribution_last_touch",
    oracle=REGISTRY["ev_attribution_last_touch"].oracle,
    tags=("streaming", "stateful", "attribution", "applyInPandasWithState"),
    eager=True,
)
def stream_attribution_last_touch(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming last-touch attribution: per-user (last touch time,
    type) state carried across 4 micro-batches; every purchase is
    attributed exactly once, in the batch it arrives — the per-batch
    partial (touch_type, n, cents) emissions sum to the BATCH
    ev_attribution_last_touch oracle (full value hash; the
    stream_funnel precedent). Cents stay integer end-to-end (the CENTS
    cast runs JVM-side before the Arrow transfer).

    Scale shape: state is two scalars per user; per-batch work is the
    user's batch events sorted once — the same per-user bound every
    stateful operator here carries. The sink aggregate reduces
    (touch_type)-keyed partials, 3 rows."""
    staged = stage_stream_dir(spark, sf)
    sink = run_to_table(attribution_stream(read_event_stream(spark, staged)), "update")
    return sink.groupBy("touch_type").agg(
        F.sum("n").alias("n_purchases"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


def make_first_seen_tagger():
    """Custom stateful operator: per-user first-seen day via
    applyInPandasWithState. State is ONE epoch-day long per user —
    constant memory per key at any stream length. Each batch emits one
    row per (user, active-day-in-batch) tagged is_new = (day ==
    first-seen day); correct across batches because the staged replay
    delivers each user's events in non-decreasing ts order (range-
    staged files), so the first batch that sees a user contains their
    true first day. Closure-built; executors never import this
    package."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        days = set()
        for p in pdfs:
            days.update(int(d) for d in p["d"])
        if not days:
            return
        if state.exists:
            (first,) = state.get
        else:
            first = min(days)
        state.update((int(first),))
        out_days = sorted(days)
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out_days),
                "d": out_days,
                "is_new": [d == first for d in out_days],
            }
        )

    return fn


FIRST_SEEN_OUT_SCHEMA = "user_id long, d long, is_new boolean"
FIRST_SEEN_STATE_SCHEMA = "first_day long"


def first_seen_stream(ev: DataFrame) -> DataFrame:
    src = ev.select(
        "user_id",
        # epoch-day in seconds == date_trunc('day') in UTC
        F.expr("unix_micros(ts) DIV 86400000000 * 86400").alias("d"),
    )
    return src.groupBy("user_id").applyInPandasWithState(
        make_first_seen_tagger(),
        FIRST_SEEN_OUT_SCHEMA,
        FIRST_SEEN_STATE_SCHEMA,
        "update",
        "NoTimeout",
    )


@register(
    "stream_new_vs_returning",
    oracle=REGISTRY["ev_new_vs_returning"].oracle,
    tags=("streaming", "stateful", "applyInPandasWithState", "active-users"),
    eager=True,
)
def stream_new_vs_returning(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming twin of ev_new_vs_returning: the per-user first-seen
    day is custom state advanced across micro-batches, each batch
    emitting its active (user, day) rows tagged new/returning; the
    day rollup of the DISTINCT sink rows must hash-match the batch
    oracle exactly (a day spanning two micro-batches emits twice with
    identical tags — distinct collapses the replays, the idempotent-
    sink discipline). The production shape of the acquisition/
    retention DAU split: state is one long per user, so a billion-user
    stream carries ~8 GB of state across the cluster, and each batch
    touches only its own users."""
    staged = stage_stream_dir(spark, sf)
    sink = run_to_table(first_seen_stream(read_event_stream(spark, staged)), "update")
    return (
        sink.select("user_id", "d", "is_new")
        .distinct()
        .groupBy(F.col("d").alias("day_start"))
        .agg(
            F.sum(F.col("is_new").cast("long")).alias("new_users"),
            F.sum((~F.col("is_new")).cast("long")).alias("returning_users"),
        )
    )


def make_cdc_upserter():
    """Custom stateful CDC applier (applyInPandasWithState): state is
    the latest change per key by (ts, event_id) — last-write-wins upsert
    semantics, 'error' rows acting as tombstones that stay IN state (a
    later upsert must be able to resurrect the key). Emits the current
    state row each batch (update mode); the final table filters
    tombstones batch-side. Closure-built for executor pickling; constant
    memory per key."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            t, eid, typ, cents = state.get
        else:
            t, eid, typ, cents = -1, -1, "", 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            top = pdf.sort_values(["t", "event_id"]).iloc[-1]
            if (int(top["t"]), int(top["event_id"])) > (t, eid):
                t, eid = int(top["t"]), int(top["event_id"])
                typ, cents = str(top["event_type"]), int(top["cents"])
        state.update((t, eid, typ, cents))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "last_ts_us": [t],
                "last_event_id": [eid],
                "last_type": [typ],
                "last_cents": [cents],
            }
        )

    return fn


CDC_OUT_SCHEMA = "user_id long, last_ts_us long, last_event_id long, last_type string, last_cents long"
CDC_STATE_SCHEMA = "t long, eid long, typ string, cents long"


@register(
    "stream_cdc_upsert",
    oracle="""
    WITH latest AS (
      SELECT user_id, epoch_us(ts) AS t, event_id, event_type,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, t AS last_ts_us, event_id AS last_event_id,
           event_type AS last_type, cents AS last_cents
    FROM latest WHERE rn = 1 AND event_type != 'error'
    """,
    tags=("streaming", "stateful", "cdc", "applyInPandasWithState"),
    eager=True,
)
def stream_cdc_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """CDC changelog apply: the event stream is read as a change feed
    keyed by user_id — every row is an upsert carrying the new state,
    'error' rows are delete tombstones — and a custom stateful operator
    maintains the CURRENT TABLE per key (last write by (ts, event_id)
    wins). The final materialized table must equal the batch
    latest-row-per-key answer with tombstoned keys absent — the
    foreachBatch-MERGE production pattern expressed as bounded
    per-key state. Tombstones stay in state so later upserts resurrect
    the key (delete-then-reinsert replays correctly).

    Scale shape: state is ONE fixed-width row per live key (no history),
    update-mode emissions are key-count-sized per batch, and the
    batch-side max-struct fold is the same monotone-state trick as
    stream_stateful_running_counts. At 100 TB the memory sink becomes a
    Delta MERGE in foreachBatch; the state logic is unchanged. Monetary
    state is integer cents (house rule: no float accumulators in
    state)."""
    staged = stage_stream_dir(spark, sf, n_files=3)
    src = read_event_stream(spark, staged).select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    sink = run_to_table(
        src.groupBy("user_id").applyInPandasWithState(
            make_cdc_upserter(), CDC_OUT_SCHEMA, CDC_STATE_SCHEMA, "update", "NoTimeout"
        ),
        "update",
    )
    final = sink.groupBy("user_id").agg(
        F.max(
            F.struct("last_ts_us", "last_event_id", "last_type", "last_cents")
        ).alias("s")
    )
    return final.select(
        "user_id",
        F.col("s.last_ts_us").alias("last_ts_us"),
        F.col("s.last_event_id").alias("last_event_id"),
        F.col("s.last_type").alias("last_type"),
        F.col("s.last_cents").alias("last_cents"),
    ).where(F.col("last_type") != "error")


@register(
    "stream_error_budget_burn",
    oracle=REGISTRY["ev_error_budget_burn"].oracle,
    tags=("streaming", "window-agg", "sre", "alerting"),
    eager=True,
)
def stream_error_budget_burn(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming twin of the SRE burn alert: the hourly SLI counters
    maintain as a streaming tumbling-window aggregate (complete mode
    over the staged replay); the 6-hour rollup, the exact rate, and the
    integer cross-multiplied page predicate fold batch-side off the
    final counter table — exactly how a monitoring pipeline runs it
    (streaming maintains the small counter state; alert evaluation
    reads counters, never raw events). Must hash-match the batch
    ev_error_budget_burn oracle.

    Scale shape: streaming state is one (hour) → (err, tot) pair per
    bucket — calendar-bounded; the fold work is counter-table-sized."""
    staged = stage_stream_dir(spark, sf)
    ev = read_event_stream(spark, staged)
    hourly = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.when(F.col("event_type") == "error", 1)).alias("err"),
            F.count("*").alias("tot"),
        )
        .select(
            F.expr("unix_micros(w.start) DIV 3600000000").alias("hr"), "err", "tot"
        )
    )
    h = run_to_table(hourly, "complete")
    s = h.groupBy(F.expr("hr DIV 6").alias("six")).agg(
        F.sum("err").alias("err6"), F.sum("tot").alias("tot6")
    )
    j = h.join(s, F.expr("hr DIV 6") == F.col("six"))
    return j.select(
        "hr",
        F.col("err").alias("err_1h"),
        F.col("tot").alias("tot_1h"),
        F.col("err6").alias("err_6h"),
        F.col("tot6").alias("tot_6h"),
        (F.col("err") / F.col("tot")).alias("rate_1h"),
        ((F.col("err") * 2 > F.col("tot")) & (F.col("err6") * 2 > F.col("tot6"))).alias(
            "page_alert"
        ),
    )


def make_lifecycle_profiler():
    """Custom stateful per-user PROFILE aggregate (applyInPandasWithState):
    state is (first_ts_us, last_ts_us, n_events) — three longs per user,
    the streaming form of the MIN/MAX/COUNT partial that
    ev_lifecycle_stages computes batch-side. Each batch a user appears
    in emits the user's updated profile; n is strictly increasing, so
    the final profile per user is the max-n emission. Closure-built for
    executor pickling; constant memory per key."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            ft, lt, n = state.get
        else:
            ft, lt, n = None, None, 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            bmin, bmax = int(pdf["t"].min()), int(pdf["t"].max())
            ft = bmin if ft is None else min(ft, bmin)
            lt = bmax if lt is None else max(lt, bmax)
            n += len(pdf)
        state.update((ft, lt, n))
        yield pd.DataFrame(
            {"user_id": [user_id], "ft": [ft], "lt": [lt], "n": [n]}
        )

    return fn


LIFECYCLE_OUT_SCHEMA = "user_id long, ft long, lt long, n long"
LIFECYCLE_STATE_SCHEMA = "ft long, lt long, n long"


@register(
    "stream_lifecycle_stages",
    oracle=REGISTRY["ev_lifecycle_stages"].oracle,
    tags=("streaming", "stateful", "applyInPandasWithState", "lifecycle"),
    eager=True,
)
def stream_lifecycle_stages(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming twin of ev_lifecycle_stages (VERDICT-r6 task 6): the
    per-user (first_seen, last_seen, count) profile is custom state
    advanced across micro-batches — a NON-overlapping state shape vs
    the family's other twins (first-seen keeps one long; CDC keeps the
    latest row; this keeps the min/max/count profile aggregate). The
    stage classification (new/active/at_risk/churned by integer-day
    recency/age from the horizon) folds batch-side off the final
    profile table and must hash-match the batch oracle exactly.

    Scale shape: state is three longs per user (~24 GB per billion
    users across a cluster); each batch touches only its own users;
    the fold work is user-count-sized, never event-volume-sized. The
    horizon is the max last-seen over profiles — the same 1-row
    broadcast as the batch plan."""
    staged = stage_stream_dir(spark, sf)
    ev = read_event_stream(spark, staged)
    src = ev.select("user_id", F.unix_micros("ts").alias("t"))
    profiles = src.groupBy("user_id").applyInPandasWithState(
        make_lifecycle_profiler(),
        LIFECYCLE_OUT_SCHEMA,
        LIFECYCLE_STATE_SCHEMA,
        "update",
        "NoTimeout",
    )
    sink = run_to_table(profiles, "update")
    # n strictly increases per emission, so max-n row = final profile
    # (ft/lt are monotone too — min/max across emissions equal it)
    final = sink.groupBy("user_id").agg(
        F.min("ft").alias("ft"), F.max("lt").alias("lt"), F.max("n").alias("n")
    )
    day_us = 86_400_000_000
    g = final.agg(F.max("lt").alias("gmax"))
    lab = final.crossJoin(F.broadcast(g)).select(
        F.when(F.expr(f"(gmax - ft) DIV {day_us}") < 7, "new")
        .when(F.expr(f"(gmax - lt) DIV {day_us}") < 7, "active")
        .when(F.expr(f"(gmax - lt) DIV {day_us}") < 14, "at_risk")
        .otherwise("churned")
        .alias("stage"),
        "n",
    )
    return lab.groupBy("stage").agg(
        F.count("*").alias("n_users"), F.sum("n").alias("n_events")
    )
