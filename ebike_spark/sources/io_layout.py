"""Output-layout round-trip: hive-partitioned, sorted, size-capped
parquet — the layout story for a 100 TB corpus sink.

The io_* round-trips cover FORMATS; this covers LAYOUT, which at scale
matters more: a corpus written as ``.../lang=XX/part-*.parquet`` with
rows sorted on the residual key and files capped to a target row count
gives (1) partition pruning — a per-language read touches only that
directory, proven here by filtering the read-back and in
tests/test_scale_plans.py by the PartitionFilters assertion on the
same pattern; (2) row-group skipping — min/max stats on the sorted
key; (3) bounded file sizes for downstream parallelism.

Registered after the streaming family (same reason as semdedup): the
externally-checked registry prefix is reserved for families without
driver correctness rows.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ebike_spark.plans.registry import register
from ebike_spark.sources.registry import load_table

LAYOUT_LANGS = ("en", "fr")  # the read-back probe prunes to these


def _nfiles(d: str) -> int:
    """Count the parquet part files a local write produced (shared by
    the compaction audit and the z-order bucket guard — review r12)."""
    return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))


def _sweep_scratch(base: str, prefix: str) -> None:
    """Remove prior scratch dirs named ``{prefix}{pid}_{suffix}`` that
    belong to THIS process (an earlier invocation, fully consumed) or
    to a DEAD one (orphan). A live other process's in-flight dir is
    never touched — an unscoped same-tag sweep raced a concurrent
    bench/test run between its write and read-back (review r13).
    Unparsable names are left alone."""
    me = os.getpid()
    for d in os.listdir(base):
        if not d.startswith(prefix):
            continue
        pid_part = d[len(prefix) :].split("_", 1)[0]
        if not pid_part.isdigit():
            continue
        pid = int(pid_part)
        if pid == me or not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)


def _scratch_dir(tag: str) -> str:
    """Fresh scratch dir per invocation; PRIOR invocations' dirs for
    the same (tag, pid) — plus dead processes' orphans — are removed
    first (each eager io_* call fully consumes its own write before
    the next invocation starts, and a bench loop otherwise leaves
    hundreds of orphan dirs per round; 544 found in /tmp at r13
    start)."""
    base = tempfile.gettempdir()
    prefix = f"ebike_layout_{tag}_"
    _sweep_scratch(base, prefix)
    return os.path.join(
        base, f"{prefix}{os.getpid()}_{uuid.uuid4().hex[:10]}"
    )


@register(
    "io_partitioned_layout",
    oracle=f"""
    SELECT lang, source, COUNT(*) AS n,
           CAST(SUM(doc_id % 1000003) AS BIGINT) AS id_check,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE lang IN {LAYOUT_LANGS!r}
    GROUP BY lang, source
    """,
    tags=("io", "layout", "partitioning"),
    eager=True,
)
def io_partitioned_layout(spark: SparkSession, sf: str) -> DataFrame:
    """documents → partitionBy(lang) + sortWithinPartitions(doc_id) +
    maxRecordsPerFile → read back ONLY two languages → per-source audit.
    The write repartitions on lang first so each partition directory is
    produced by the executors that own it (no tiny-file explosion); the
    read-back filter becomes a PartitionFilter (directory pruning), so
    the scan never opens the other languages' files."""
    path = _scratch_dir("hive")
    docs = load_table(spark, sf, "documents")
    (
        docs.repartition("lang")
        .sortWithinPartitions("lang", "doc_id")
        .write.option("maxRecordsPerFile", 100_000)
        .partitionBy("lang")
        .parquet(path)
    )
    back = spark.read.parquet(path).where(F.col("lang").isin(*LAYOUT_LANGS))
    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n"),
        F.sum(F.col("doc_id") % 1_000_003).cast("long").alias("id_check"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


COMPACT_BEFORE = 64  # small-file explosion to simulate
COMPACT_AFTER = 4  # range-compacted target file count


@register(
    "io_compact_small_files",
    oracle=f"""
    SELECT CAST({COMPACT_BEFORE} AS BIGINT) AS files_before,
           CAST({COMPACT_AFTER} AS BIGINT) AS files_after,
           COUNT(*) AS n_rows,
           CAST(SUM(epoch_us(ts) % 1000000007) AS BIGINT) AS ts_check
    FROM events
    """,
    tags=("io", "layout", "compaction"),
    eager=True,
)
def io_compact_small_files(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction — the other half of the layout story: an
    ingestion that lands {COMPACT_BEFORE} tiny parquet files (the
    micro-batch/many-writer explosion every lake hits) is rewritten by
    repartitionByRange(ts) into {COMPACT_AFTER} range-clustered files.
    The emitted audit carries both file counts (read from the directory
    listings — bounded driver metadata, never data) plus the row count
    and modular ts digest of the COMPACTED copy, so a compaction that
    drops/duplicates rows fails the value hash, and one that doesn't
    actually reduce file count fails the count columns. Both counts are
    deterministic: round-robin repartition(n) fills every partition at
    n ≤ rows, and repartitionByRange(n) yields exactly n non-empty
    ranges.

    Scale shape: compaction is one scan + one range exchange sized by
    the TARGET layout; range clustering on ts additionally buys
    min/max row-group skipping for time-predicate reads (the zone-map
    story io_partitioned_layout proves for hive partitioning). At
    100 TB this runs per-partition-directory as a maintenance job, not
    corpus-wide."""
    small = _scratch_dir("compact_small")
    packed = _scratch_dir("compact_packed")
    ev = load_table(spark, sf, "events").select(
        "event_id", F.unix_micros("ts").alias("ts_us"), "event_type"
    )
    ev.repartition(COMPACT_BEFORE).write.parquet(small)
    small_back = spark.read.parquet(small)
    small_back.repartitionByRange(COMPACT_AFTER, "ts_us").write.parquet(
        packed
    )

    back = spark.read.parquet(packed)
    # File counts come from the READS' own file indexes (inputFiles —
    # data files only, _SUCCESS excluded), not a second directory
    # listing: each scratch dir is listed exactly once per run (r14,
    # guide §6 / VERDICT-r13 task 5 — directory listing is driver-side
    # work that at lake scale costs more than the scan it audits).
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("ts_us") % 1_000_000_007).cast("long").alias("ts_check"),
    ).select(
        F.lit(len(small_back.inputFiles())).cast("long").alias("files_before"),
        F.lit(len(back.inputFiles())).cast("long").alias("files_after"),
        "n_rows",
        "ts_check",
    )


# ------------------------------------------------------- z-order layout

ZORDER_BITS = 16  # per-dimension resolution after min/max normalization
ZORDER_FILES = 8  # range partitions = top-3-z-bit buckets
ZORDER_MOD = 1_000_003


def _z_terms(u: str, t: str, dialect: str) -> str:
    """The 2*ZORDER_BITS-term bit-interleave SUM for both dialects —
    u at even bit positions, t at odd — generated from ONE loop so the
    Spark expression and the DuckDB oracle can never drift. Operands
    are forced to BIGINT inside every term: an INT32 operand overflows
    DuckDB's << at bit 31 (raises) and silently WRAPS Spark's
    shiftleft — found by the r11 interleave property on raw integer
    literals (the registered query's inputs were already BIGINT)."""
    ub = f"CAST({u} AS BIGINT)"
    tb = f"CAST({t} AS BIGINT)"
    terms = []
    for i in range(ZORDER_BITS):
        if dialect == "spark":
            terms.append(f"SHIFTLEFT(SHIFTRIGHT({ub}, {i}) & 1, {2 * i})")
            terms.append(f"SHIFTLEFT(SHIFTRIGHT({tb}, {i}) & 1, {2 * i + 1})")
        else:
            terms.append(f"((({ub} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({tb} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_ZORDER_ORACLE = f"""
WITH b AS (
  SELECT CAST(user_id AS BIGINT) AS uid, epoch_us(ts) AS te FROM events),
g AS (SELECT MIN(uid) AS umin, GREATEST(MAX(uid) - MIN(uid), 1) AS uspan,
             MIN(te) AS tmin, GREATEST(MAX(te) - MIN(te), 1) AS tspan
      FROM b),
nz AS (
  SELECT {_z_terms(
      f"((b.uid - g.umin) * {(1 << ZORDER_BITS) - 1} // g.uspan)",
      f"((b.te - g.tmin) * {(1 << ZORDER_BITS) - 1} // g.tspan)",
      "duck",
  )} AS z
  FROM b, g)
SELECT CAST({ZORDER_FILES} AS BIGINT) AS files_written,
       COUNT(*) AS n_rows,
       CAST(SUM(z % {ZORDER_MOD}) AS BIGINT) AS z_check,
       TRUE AS z_ranges_disjoint,
       TRUE AS dims_cluster
FROM nz
"""


@register(
    "io_zorder_layout",
    oracle=_ZORDER_ORACLE,
    tags=("io", "layout", "zorder", "beyond-reference"),
    eager=True,
)
def io_zorder_layout(spark: SparkSession, sf: str) -> DataFrame:
    """Z-ORDER clustering — the multi-dimensional half of the layout
    story (io_partitioned_layout proves 1-D partition pruning): events
    get a z-value interleaving the bits of min/max-normalized
    (user_id, event time), are range-partitioned on it into
    {ZORDER_FILES} files, and the read-back audits REAL per-file stats
    (via input_file_name) — the Delta/Iceberg OPTIMIZE ZORDER shape,
    where one clustered copy serves selective reads on EITHER
    dimension via file-level min/max skipping.

    Audit columns: n_rows + z_check prove the round trip moved every
    row with its z-value intact (the oracle RECOMPUTES the normalized
    32-term interleave from the raw table — the z math itself is
    cross-engine-checked, integer-exact: `* 65535 //
    span` floor division both sides). z_ranges_disjoint is
    THEOREM-backed: range partitioning gives files contiguous
    non-overlapping z-intervals, so the per-file z-span sum cannot
    exceed the global span plus one tie row per boundary.
    dims_cluster is the measured payoff: the AVG per-file span
    FRACTION of each dimension must stay under 0.75 for u and t —
    the z-prefix argument (8 files = 3 fixed top bits = u halved, t
    quartered, before boundary-file slack; measured 0.58/0.38,
    0.58/0.36, 0.59/0.35 at sf0.001/0.01/0.1 — the bound bites: an
    unclustered write measures ~1.0 on both).

    Scale shape: the z-value is one codegen'd integer expression on
    the scan; the clustered write is ONE range exchange (the same
    cost class as any sorted write); min/max normalization needs a
    2-scalar pre-pass at ingest (or fixed domain bounds at 100 TB —
    recompute-free). Reads then skip files on either predicate."""
    path = _scratch_dir("zorder")
    ev = load_table(spark, sf, "events").select(
        F.col("user_id").cast("long").alias("uid"),
        F.unix_micros("ts").alias("te"),
    )
    g = ev.agg(
        F.min("uid"), F.max("uid"), F.min("te"), F.max("te")
    ).first()
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
    ev.select("uid", "te", z.alias("z")).repartitionByRange(
        ZORDER_FILES, "z"
    ).write.parquet(path)

    # The oracle pins files_written to the constant ZORDER_FILES, but
    # Spark writes NO parquet file for an empty range partition — a
    # regenerated fixture whose z-distribution leaves a bucket empty
    # would flake the driver row instead of failing loudly. Guard it
    # here with an explicit error (ADVICE-r11, same pattern as the
    # SSSP round guard).
    n_files = _nfiles(path)
    if n_files != ZORDER_FILES:
        raise AssertionError(
            f"z-order write produced {n_files} parquet files, expected"
            f" {ZORDER_FILES}: the fixture's z-distribution left a range"
            " bucket empty — regenerate the fixture or lower"
            " ZORDER_FILES; the DuckDB oracle pins this constant"
        )

    back = spark.read.parquet(path).select(
        "uid", "te", "z", F.input_file_name().alias("f")
    )
    per_file = back.groupBy("f").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("z") % ZORDER_MOD).alias("zc"),
        F.min("z").alias("z0"),
        F.max("z").alias("z1"),
        F.min("uid").alias("u0"),
        F.max("uid").alias("u1"),
        F.min("te").alias("t0"),
        F.max("te").alias("t1"),
    )
    gmax = F.greatest
    return per_file.agg(
        F.count("*").cast("long").alias("files_written"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.sum("zc").cast("long").alias("z_check"),
        # theorem: contiguous disjoint ranges => span sum <= global
        # span (+1 tie row per internal boundary)
        (
            F.sum(F.col("z1") - F.col("z0"))
            <= (F.max("z1") - F.min("z0")) + F.count("*")
        ).alias("z_ranges_disjoint"),
        (
            (
                F.avg(F.col("u1") - F.col("u0"))
                / gmax(F.max("u1") - F.min("u0"), F.lit(1))
                <= 0.75
            )
            & (
                F.avg(F.col("t1") - F.col("t0"))
                / gmax(F.max("t1") - F.min("t0"), F.lit(1))
                <= 0.75
            )
        ).alias("dims_cluster"),
    )
