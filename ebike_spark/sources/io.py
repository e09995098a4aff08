"""Source/sink round-trips: CSV, JSON, ORC.

The reference's only sources are its sled KV tables and a 1-row
MemTable (SURVEY §2.B 'sources'); Spark's reader/writer matrix is a
superset. Each round-trip query writes the events table to a scratch
directory in format X with explicit schema, reads it back, and
aggregates — the oracle aggregates the original parquet, so a
round-trip that loses rows, types, or timestamp precision fails the
value-hash.

Format notes (documented, and load-bearing for the assertions):
- CSV has no timestamp type → written as epoch micros (BIGINT column),
  the same lossless convention the oracles use everywhere.
- JSON likewise ships micros as numbers (JSON numbers are doubles in
  many readers, so we ship them as strings and cast back — exact).
- ORC keeps real timestamps.
- JDBC: no database server exists in this container; gated stub below
  documents the call shape (format('jdbc') options) without executing.
"""

from __future__ import annotations

import os
import tempfile
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ebike_spark.artifacts import persisted
from ebike_spark.functions.textfns import md5_long, md5_long_sql
from ebike_spark.plans.registry import register
from ebike_spark.sources.registry import load_table

# ts checksum is a MODULAR sum: epoch-micros values are ~1.7e15, so a
# plain SUM overflows int64 once a group exceeds ~5k rows (found at
# sf0.1 — and an ANSI-on session turns the wrap into a hard error).
_AGG_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total,
       CAST(SUM(epoch_us(ts) % 1000000007) AS BIGINT) AS ts_check
FROM events GROUP BY event_type
"""


def _scratch(fmt: str) -> str:
    return os.path.join(tempfile.gettempdir(), f"ebike_io_{fmt}_{uuid.uuid4().hex[:10]}")


def _events_flat(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return ev.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def _agg(df: DataFrame) -> DataFrame:
    return df.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
        F.sum(F.col("ts_us") % 1_000_000_007).cast("long").alias("ts_check"),
    )


@register("io_csv_roundtrip", oracle=_AGG_ORACLE, tags=("io", "csv"), eager=True)
def io_csv(spark: SparkSession, sf: str) -> DataFrame:
    """CSV write→read with explicit schema (never inferSchema at scale —
    it double-reads the data). Header on; timestamps as epoch micros."""
    path = _scratch("csv")
    _events_flat(spark, sf).write.option("header", True).csv(path)
    back = spark.read.option("header", True).schema(
        "event_id long, ts_us long, user_id long, event_type string, value double, props string"
    ).csv(path)
    return _agg(back)


@register("io_json_roundtrip", oracle=_AGG_ORACLE, tags=("io", "json"), eager=True)
def io_json(spark: SparkSession, sf: str) -> DataFrame:
    """JSON-lines write→read with explicit schema (longs round-trip
    exactly via Jackson; no schema inference pass)."""
    path = _scratch("json")
    _events_flat(spark, sf).write.json(path)
    back = spark.read.schema(
        "event_id long, ts_us long, user_id long, event_type string, value double, props string"
    ).json(path)
    return _agg(back)


@register("io_orc_roundtrip", oracle=_AGG_ORACLE, tags=("io", "orc"), eager=True)
def io_orc(spark: SparkSession, sf: str) -> DataFrame:
    """ORC write→read — the second columnar format; vectorized reader,
    predicate pushdown, same plan shape as parquet."""
    path = _scratch("orc")
    _events_flat(spark, sf).write.orc(path)
    back = spark.read.orc(path)
    return _agg(back)


@register("io_zstd_roundtrip", oracle=_AGG_ORACLE, tags=("io", "parquet", "zstd"), eager=True)
def io_zstd(spark: SparkSession, sf: str) -> DataFrame:
    """Parquet with ZSTD column compression — the storage-cost lever at
    100 TB: zstd runs ~30-50% smaller than snappy at comparable read
    throughput, one writer option, zero plan change (scans, pushdown,
    and row-group pruning are codec-agnostic). Write→read→agg must
    hash-match the source; the codec actually landing in the footers
    (not silently falling back) is asserted in
    tests/test_io_zstd_codec."""
    path = _scratch("zstd")
    _events_flat(spark, sf).write.option("compression", "zstd").parquet(path)
    back = spark.read.parquet(path)
    return _agg(back)


def read_jdbc_stub(spark: SparkSession, url: str, table: str, **options) -> DataFrame:
    """JDBC source call shape (no database server in this container).

    In deployment::

        spark.read.format("jdbc").option("url", url)
             .option("dbtable", table)
             .option("partitionColumn", ...).option("numPartitions", ...)
             .load()

    partitionColumn/numPartitions are what make a JDBC read parallel —
    without them the whole table streams through one task.
    """
    raise NotImplementedError("no JDBC endpoint in this environment; see docstring")


_TEXT_ORACLE = f"""
SELECT COUNT(*) AS n_lines,
       CAST(SUM({md5_long_sql("text")} % 1000000007) AS BIGINT) AS content_check
FROM documents
"""


@register("io_text_roundtrip", oracle=_TEXT_ORACLE, tags=("io", "text"), eager=True)
def io_text(spark: SparkSession, sf: str) -> DataFrame:
    """Plain-text write→read (one document per line — the raw-corpus
    interchange format). Line order is partition-dependent, so the check
    aggregates order-insensitively: line count + modular digest sum. The
    corpus has no embedded newlines; a real pipeline would escape or
    length-prefix them."""
    path = _scratch("text")
    docs = load_table(spark, sf, "documents")
    docs.select("text").write.text(path)
    back = spark.read.text(path)
    return back.agg(
        F.count("*").alias("n_lines"),
        F.sum(md5_long(F.col("value")) % 1_000_000_007).alias("content_check"),
    )


@register(
    "io_schema_evolution",
    oracle="""
    WITH sim AS (
      SELECT event_type, epoch_us(ts) AS ts_us,
             CASE WHEN user_id % 2 = 1 THEN value END AS value,
             CASE WHEN user_id % 2 = 1 THEN user_id END AS user_id
      FROM events)
    SELECT event_type, COUNT(*) AS n,
           CAST(COUNT(value) AS BIGINT) AS n_valued,
           ROUND(SUM(value), 2) AS total,
           CAST(SUM(ts_us % 1000000007) AS BIGINT) AS ts_check
    FROM sim GROUP BY event_type
    """,
    tags=("io", "parquet", "schema-evolution"),
    eager=True,
)
def io_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Parquet schema evolution: batch 1 is written with the ORIGINAL
    narrow schema (event_id, ts_us, event_type), batch 2 with two added
    columns (user_id, value) — the additive-column evolution every
    long-lived ingestion pipeline goes through. One read with
    mergeSchema=true must unify the file schemas, null-filling the old
    files — the aggregate counts non-null values per type so a reader
    that drops either the old or the new columns fails the value hash.

    Scale shape: mergeSchema reconciles FILE FOOTERS (schema-sized
    metadata, not data); each file still prunes to the columns it has.
    The two batches land under one root as subdirectories, the layout
    partition discovery expects. At 100 TB the same read works across
    years of drifting daily drops — additive evolution needs no
    rewrite of old files."""
    path = _scratch("evolve")
    ev = _events_flat(spark, sf)
    old = ev.where(F.col("user_id") % 2 == 0).select("event_id", "ts_us", "event_type")
    new = ev.where(F.col("user_id") % 2 == 1).select(
        "event_id", "ts_us", "event_type", "user_id", "value"
    )
    old.write.parquet(os.path.join(path, "batch=1"))
    new.write.parquet(os.path.join(path, "batch=2"))
    back = spark.read.option("mergeSchema", True).parquet(path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.count("value").alias("n_valued"),
        F.round(F.sum("value"), 2).alias("total"),
        F.sum(F.col("ts_us") % 1_000_000_007).cast("long").alias("ts_check"),
    )


@register(
    "io_csv_malformed",
    oracle="""
    WITH g AS (
      SELECT COUNT(*) AS n_good,
             CAST(SUM(epoch_us(ts) % 1000000007) AS BIGINT) AS ts_check
      FROM events)
    SELECT CAST(n_good AS BIGINT) AS n_good,
           CAST(n_good // 50 AS BIGINT) AS n_bad,
           ts_check
    FROM g
    """,
    tags=("io", "csv", "malformed", "robustness"),
    eager=True,
)
def io_csv_malformed(spark: SparkSession, sf: str) -> DataFrame:
    """Malformed-input robustness: the CSV drop is polluted with one
    unparseable line per 50 real rows (wrong arity + non-numeric key —
    the torn/garbage lines every real ingestion eventually meets), then
    read back in PERMISSIVE mode with a columnNameOfCorruptRecord
    column. The reader must (a) keep every good row intact — checked by
    the modular ts digest — and (b) route every bad line to the corrupt
    column, never silently drop it (DROPMALFORMED's failure mode) or
    abort the job (FAILFAST's). n_bad is corpus-proportional so the
    check scales with SF instead of pinning a constant.

    Scale shape: quarantining happens per-task at parse time (no extra
    pass, no shuffle); the cache() before filtering on the corrupt
    column is a documented Spark requirement (the internal column can't
    be referenced by a post-hoc filter over the lazy parse) and holds
    scratch-sized data. At 100 TB the corrupt rows land in a dead-letter
    sink from the same single read."""
    from pyspark.sql import Observation

    path = _scratch("badcsv")
    flat = _events_flat(spark, sf)
    # headerless on purpose: with header=true the reader would swallow
    # the FIRST line of every file — including the corrupt file's first
    # pollution line — as a header. The row count that sizes the
    # pollution rides the WRITE job as an Observation (r14, guide §1/
    # §2.4): the former separate flat.count() re-scanned the events
    # table once per invocation purely to produce this scalar.
    obs = Observation("io_csv_malformed_rows")
    flat.observe(obs, F.count(F.lit(1)).alias("n")).write.csv(path)
    n_bad = obs.get["n"] // 50  # bounded driver scalar, sizes the pollution
    bad = spark.range(n_bad).select(
        F.concat(F.lit("corrupt,line,number,"), F.col("id").cast("string")).alias(
            "value"
        )
    )
    bad.coalesce(1).write.mode("append").text(path)
    schema = (
        "event_id long, ts_us long, user_id long, event_type string, "
        "value double, props string, _bad string"
    )
    # persisted, never a bare .cache(): keyed by the fresh scratch
    # path so each invocation releases the previous run's cached copy
    # (the session-lifetime leak rule of ebike_spark/artifacts.py)
    back = persisted(
        spark,
        "io_csv_malformed_back",
        lambda: spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .schema(schema)
        .csv(path),
        key=path,
    )
    # ONE pass over the cached read-back produces the good/bad audit
    # (r14, guide §2.4): the former good-agg ⨯ broadcast(bad-agg) shape
    # scanned the cached parse twice and staged a broadcast per run.
    # Conditional aggregates are exact equivalents: corrupt rows carry
    # NULL ts_us (PERMISSIVE parse), good rows carry NULL _bad.
    return back.agg(
        F.count(F.when(F.col("_bad").isNull(), F.lit(1))).alias("n_good"),
        F.count(F.when(F.col("_bad").isNotNull(), F.lit(1))).alias("n_bad"),
        F.sum(
            F.when(F.col("_bad").isNull(), F.col("ts_us") % 1_000_000_007)
        )
        .cast("long")
        .alias("ts_check"),
    )
