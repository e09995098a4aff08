"""Distributed global-order ranking.

The single source of truth for the two-pass distributed rank and the
exact ANSI-NTILE closed form — used by ``ev_pareto_share``
(plans/attribution.py) and ``corpus_curriculum_stages``
(operators/corpus.py). Extracted after a review pass found the second
caller re-implementing the pattern WITHOUT the persist pin, which is
not an optimization detail but a correctness requirement:
``spark_partition_id`` after ``repartitionByRange`` is an execution
artifact — the range exchange samples its boundaries per physical
instance, so a branch that counts per-partition offsets and a branch
that row_numbers within partitions MUST read the same materialization
or global ranks come out duplicated/gapped on skewed keys.

Scale shape (the reason this exists instead of a global NTILE window):
a single-partition ``Window.orderBy`` serializes the whole input
through one task; here ``repartitionByRange`` spreads rows across
tasks in global order, each task row_numbers its own range, and the
per-partition counts — ONE ROW PER TASK at any data size — prefix-sum
into rank offsets. NTILE's remainder semantics are reproduced exactly
from the global rank by closed form (the first ``total % n`` buckets
hold one extra row), verified against DuckDB's native NTILE by both
callers' oracles. No driver-side collect anywhere; the offsets frame is
one row per task and carries the grand total alongside each offset
(one broadcast, not two — r13 job-count audit).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ebike_spark.artifacts import persisted


def _idiv(a, b):
    """Integer floor division of two non-negative integer Columns (the
    Python Column API has no DIV operator; the subtraction keeps the
    double division exact)."""
    return ((a - a % b) / b).cast("long")


def ntile_over_global_order(
    spark: SparkSession,
    df: DataFrame,
    order_cols: list,
    n_buckets: int,
    cache_tag: str,
    cache_key: str | None,
) -> DataFrame:
    """Append ``__bucket`` (1..n_buckets) — exactly ANSI
    ``NTILE(n_buckets) OVER (ORDER BY order_cols)`` — to ``df``.

    ``order_cols`` must define a TOTAL order (add a unique tiebreak),
    or the result is engine-dependent exactly as NTILE itself would be.
    ``cache_tag``/``cache_key`` name the persist pin (see module
    docstring for why the pin is mandatory, not optional).
    """
    # Partition count follows the session's shuffle parallelism (not a
    # literal) so the shape scales with the cluster: offsets stays one
    # row per task at any size. Some distributions set this conf to a
    # non-numeric token ("auto"); fall back to 32 rather than crash.
    try:
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    except (ValueError, TypeError):
        n_part = 32
    ranged = df.repartitionByRange(n_part, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    local_w = Window.partitionBy("__pid").orderBy(*order_cols)
    local = persisted(
        spark,
        cache_tag,
        lambda: ranged.withColumn("__lrn", F.row_number().over(local_w)),
        key=cache_key,
    )
    # ONE broadcast frame carries both the rank offsets and the grand
    # total (total = full-window sum of the same per-partition counts);
    # a separate `local.agg(count)` frame cost its own broadcast-build
    # job per caller for a scalar already derivable here (r13 job-count
    # audit, VERDICT-r12 task 3).
    off_w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    tot_w = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = (
        local.groupBy("__pid")
        .agg(F.count("*").alias("__c"))
        .select(
            "__pid",
            F.coalesce(F.sum("__c").over(off_w), F.lit(0)).alias("__off"),
            F.sum("__c").over(tot_w).alias("__total"),
        )
    )
    # NTILE closed form from the 0-based global rank: the first
    # (total % n) buckets hold q+1 rows, the rest q. q == 0 (fewer
    # rows than buckets) needs no special case: every row satisfies
    # rn0 < big, landing one row per bucket, exactly NTILE.
    rn0 = F.col("__off") + F.col("__lrn") - 1
    qd = F.expr(f"__total DIV {n_buckets}")
    r = F.col("__total") % n_buckets
    big = r * (qd + 1)
    bucket = F.when(rn0 < big, _idiv(rn0, qd + 1) + 1).otherwise(
        r + _idiv(rn0 - big, qd) + 1
    )
    return local.join(F.broadcast(offsets), "__pid").select(
        *df.columns, bucket.cast("long").alias("__bucket")
    )
