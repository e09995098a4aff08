"""Distributed Lloyd's k-means over the embedding column — the
iterative-algorithm shape (assign → update → reassign) expressed as
repeated DataFrame passes with a driver-bounded model exchange.

Not present in the reference (no array types — SURVEY §1.3); this is
the IVF-training / corpus-bucketing primitive a training-data pipeline
runs before semantic dedup or cluster-stratified sampling. The learned
pyspark.ml variant already backs ``ann_ivf_topk`` (rows-only check);
THIS module is the exactly-reproducible twin: all arithmetic is
integer (embeddings quantized to 1e-4 fixed point, centroid update by
truncating integer division), so two full Lloyd iterations are
bit-reproducible AND SQL-expressible — the DuckDB oracle recomputes
the identical trajectory and the driver hash-compares every cluster's
size, within-cluster squared distance, and centroid checksum.

Cross-engine parity rules (BENCH_NOTES "Engine rounding divergence"):
quantization is ``FLOOR(x*10000.0 + 0.5)`` on BOTH sides — the float→
double cast and the double multiply are bit-identical in both engines,
FLOOR is exact, so no round() half-case can flip. Centroid division is
Spark ``div`` / DuckDB ``//`` — both truncate toward zero.

Scale shape (100 TB): each iteration is ONE codegen'd scan + one
Arrow-batched integer GEMM per partition (map-side), emitting K
partial rows (count, Σvec, Σdist²) per batch — the classic map-side
combine. The shuffle that follows moves only ``partitions × K``
partial rows (independent of data size); the model exchanged through
the driver is O(K·dim) — 8×64 longs here. No iteration ever shuffles
the data itself, so T iterations cost T scans, not T shuffles. For K
in the thousands, the same partial-emission shape holds (partials grow
as K·dim, still data-independent).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ebike_spark.functions.local_frames import local_df
from ebike_spark.plans.registry import register, sf_bound
from ebike_spark.sources.registry import load_table

K = 8  # seed centroids = quantized embeddings of vec_id 0..K-1
SCALE_Q = 10000.0  # 1e-4 fixed point
_QUANT_SPARK = f"transform(cast(embedding as array<double>), x -> cast(floor(x * {SCALE_Q} + 0.5d) as bigint))"


def _quantized(spark: SparkSession, sf: str) -> DataFrame:
    """(vec_id, xq array<bigint>): the corpus in 1e-4 fixed point."""
    return load_table(spark, sf, "embeddings").select(
        "vec_id", F.expr(_QUANT_SPARK).alias("xq")
    )


def _seed_centroids(spark: SparkSession, sf: str) -> list[tuple[int, list[int]]]:
    """Quantized seed vectors — bounded O(K·dim) driver fetch (K rows),
    the same shape as clustering._seed_centroids."""
    rows = (
        _quantized(spark, sf)
        .where(F.col("vec_id") < K)
        .collect()
    )
    return sorted((int(r["vec_id"]), [int(v) for v in r["xq"]]) for r in rows)


def _partials_fn(centroids: list[tuple[int, list[int]]]):
    """Arrow-batched assign-and-combine: one integer GEMM per batch,
    argmin row-wise (numpy first-min == lowest cid, centroid rows are
    cid-sorted), then ONE partial row per non-empty cluster:
    (cid, n, wss, s[dim]). Everything bound by value — executors never
    import this module."""
    import numpy as _np

    cids = _np.array([c for c, _ in centroids], dtype=_np.int32)
    C = _np.array([v for _, v in centroids], dtype=_np.int64)  # K×dim
    c2 = (C * C).sum(axis=1)  # K

    def gen(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            X = _np.array(list(pdf["xq"]), dtype=_np.int64)  # n×dim
            # ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖², all int64 and exact:
            # |x| ≤ ~5.3e3 ⇒ x·c ≤ 64·2.8e7 ≈ 1.8e9, dist ≤ 7.1e9
            d = (X * X).sum(axis=1)[:, None] - 2 * (X @ C.T) + c2[None, :]
            best = d.argmin(axis=1)  # first min ⇒ lowest cid
            out = []
            for j in range(len(cids)):
                m = best == j
                if not m.any():
                    continue
                out.append(
                    {
                        "cid": int(cids[j]),
                        "n": int(m.sum()),
                        "wss": int(d[m, j].sum()),
                        "s": X[m].sum(axis=0).tolist(),
                    }
                )
            yield pd.DataFrame(out)

    return gen


_PARTIAL_SCHEMA = "cid int, n long, wss long, s array<long>"


def _iterate(
    spark: SparkSession, xq: DataFrame, centroids: list[tuple[int, list[int]]]
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """One Lloyd step: returns (partials_df under the GIVEN centroids,
    UPDATED centroids). The update aggregates per-dim sums from the
    bounded partial set (partitions×K rows — posexplode here is over
    partials, never the corpus) and pulls K×dim longs to the driver;
    empty clusters keep their previous centroid (mirrored by the
    oracle's LEFT JOIN … COALESCE)."""
    partials = xq.mapInPandas(_partials_fn(centroids), _PARTIAL_SCHEMA)
    sums = (
        partials.select("cid", "n", F.posexplode("s").alias("d", "x"))
        .groupBy("cid", "d")
        .agg(F.sum("x").alias("sx"), F.sum("n").alias("cnt"))
        .select("cid", "d", F.expr("sx div cnt").alias("c"))
        .collect()
    )
    by_cid: dict[int, dict[int, int]] = {}
    for r in sums:
        by_cid.setdefault(int(r["cid"]), {})[int(r["d"])] = int(r["c"])
    new = []
    for cid, prev in centroids:
        got = by_cid.get(cid)
        if got is None:
            new.append((cid, prev))  # empty cluster: keep previous
        else:
            new.append((cid, [got[d] for d in range(len(prev))]))
    return partials, new


def _cluster_stats(
    xq: DataFrame, centroids: list[tuple[int, list[int]]], spark: SparkSession
) -> DataFrame:
    """(cluster_id, n_members, wss, centroid_l1) under the GIVEN
    centroids — clusters empty at this assignment still emit a row
    (n=0, wss=0), exactly as the oracle's centroid-side LEFT JOIN."""
    partials = xq.mapInPandas(_partials_fn(centroids), _PARTIAL_SCHEMA)
    stats = partials.groupBy("cid").agg(
        F.sum("n").alias("n_members"), F.sum("wss").alias("wss")
    )
    cent = local_df(
        spark, [(cid, sum(v)) for cid, v in centroids], "cid int, centroid_l1 long"
    )
    return (
        cent.join(stats, "cid", "left")
        .select(
            F.col("cid").cast("long").alias("cluster_id"),
            F.coalesce("n_members", F.lit(0)).cast("long").alias("n_members"),
            F.coalesce("wss", F.lit(0)).cast("long").alias("wss"),
            "centroid_l1",
        )
    )


_ORACLE_QUANT = f"CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {SCALE_Q} + 0.5) AS BIGINT)"

_KMEANS_ORACLE = f"""
WITH q AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS d,
         {_ORACLE_QUANT} AS x
  FROM embeddings
),
c0 AS (SELECT vec_id AS cid, d, x AS c FROM q WHERE vec_id < {K}),
d1 AS (
  SELECT q.vec_id, c0.cid, SUM((q.x - c0.c) * (q.x - c0.c)) AS dist
  FROM q JOIN c0 USING (d) GROUP BY q.vec_id, c0.cid
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
    FROM d1) t WHERE rn = 1
),
upd AS (
  SELECT a1.cid, q.d, SUM(q.x) AS sx, COUNT(*) AS cnt
  FROM q JOIN a1 USING (vec_id) GROUP BY a1.cid, q.d
),
c1 AS (
  SELECT c0.cid, c0.d,
         CAST(COALESCE(upd.sx // upd.cnt, c0.c) AS BIGINT) AS c
  FROM c0 LEFT JOIN upd ON c0.cid = upd.cid AND c0.d = upd.d
),
d2 AS (
  SELECT q.vec_id, c1.cid, SUM((q.x - c1.c) * (q.x - c1.c)) AS dist
  FROM q JOIN c1 USING (d) GROUP BY q.vec_id, c1.cid
),
a2 AS (
  SELECT vec_id, cid, dist FROM (
    SELECT vec_id, cid, dist,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
    FROM d2) t WHERE rn = 1
),
stats AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members, CAST(SUM(dist) AS BIGINT) AS wss
  FROM a2 GROUP BY cid
),
cl1 AS (SELECT cid, CAST(SUM(c) AS BIGINT) AS centroid_l1 FROM c1 GROUP BY cid)
SELECT CAST(cl1.cid AS BIGINT) AS cluster_id,
       COALESCE(stats.n_members, 0) AS n_members,
       COALESCE(stats.wss, 0) AS wss,
       cl1.centroid_l1
FROM cl1 LEFT JOIN stats USING (cid)
"""


@register(
    "embed_kmeans_lloyd",
    oracle=_KMEANS_ORACLE,
    tags=("embeddings", "clustering", "iterative"),
    eager=True,
)
def embed_kmeans_lloyd(spark: SparkSession, sf: str) -> DataFrame:
    """Two exact Lloyd iterations (assign under seeds → integer
    centroid update → reassign) with per-cluster size, within-cluster
    squared distance, and centroid L1 checksum. The oracle replays the
    identical integer trajectory via unnest/ordinality CTEs — every
    value hash-matches because no float ever enters the arithmetic
    after quantization."""
    xq = _quantized(spark, sf)
    c0 = _seed_centroids(spark, sf)
    _, c1 = _iterate(spark, xq, c0)
    return _cluster_stats(xq, c1, spark)


@register(
    "embed_kmeans_converged",
    # Verdict shape (round 7 — was the repo's last rows-only query;
    # TIGHTENED r10, VERDICT-r9 task 4): the converged centroids
    # aren't SQL-expressible, but their INVARIANTS are — the
    # assignment is a partition of the corpus (cluster sizes sum to
    # the exact vector count: a dropped or double-assigned vector
    # breaks it), k cluster rows exist, and the trajectory LENGTH
    # matches the per-fixture measured value EXACTLY (the update is
    # pure integer arithmetic — partition-order independent — so
    # n_iter is deterministic: 17 / 12 / 25-cap at sf0.001/0.01/0.1;
    # sf0.1 provably does NOT settle within the ceiling, which the
    # old constant-TRUE `converged` column got wrong). The oracle
    # emits the same exact count and constant TRUEs; per-cluster
    # stats under fixed centroids stay fully oracled in
    # embed_kmeans_lloyd.
    oracle=f"""
    SELECT CAST({K} AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_assigned,
           TRUE AS n_iter_eq_expected,
           TRUE AS converged_as_expected
    FROM embeddings
    """,
    tags=("embeddings", "clustering", "iterative", "verdict"),
    eager=True,
)
def embed_kmeans_converged(spark: SparkSession, sf: str) -> DataFrame:
    """Lloyd's iterated to a fixed point: stop when the integer
    centroids stop moving, enter a 2-cycle (truncating division makes
    short limit cycles possible — a fixed point in the reals can round
    to two alternating integer lattices), or at 25 iterations. Exact
    cycle detection is possible ONLY because the update is integer
    arithmetic — float centroids never bit-repeat. Emits one
    bounds-checked verdict row (see the oracle note)."""
    stats, n_iter, converged = converged_cluster_stats(spark, sf)
    expected = sf_bound(sf, KMEANS_EXPECTED_TRAJECTORY, None)
    n_iter_ok = expected is None or n_iter == expected[0]
    conv_ok = converged if expected is None else converged == expected[1]
    return stats.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_members").cast("long").alias("n_assigned"),
        F.lit(n_iter_ok).alias("n_iter_eq_expected"),
        F.lit(conv_ok).alias("converged_as_expected"),
    )


# Measured r10 (deterministic — integer centroid updates are exact in
# any partition order): (n_iter, converged) per fixture. sf0.1 runs
# to the 25-iteration ceiling without settling. Unknown corpora fall
# back to requiring convergence and any iteration count.
KMEANS_EXPECTED_TRAJECTORY = {
    "sf0.001": (17, True),
    "sf0.01": (12, True),
    "sf0.1": (25, False),
}


def converged_cluster_stats(spark: SparkSession, sf: str):
    """Run Lloyd's to its fixed point / 2-cycle / 25-iter cap and return
    (per-cluster stats DataFrame, n_iter, converged) — the full-detail
    surface the unit tests assert on (WSS monotonicity, partition
    completeness); the registered query reduces it to the verdict row."""
    xq = _quantized(spark, sf)
    cents = _seed_centroids(spark, sf)
    prev: list[tuple[int, list[int]]] | None = None
    n_iter = 0
    converged = False
    for _ in range(25):
        _, nxt = _iterate(spark, xq, cents)
        n_iter += 1
        if nxt == cents or nxt == prev:
            converged = True
            break
        prev, cents = cents, nxt
    return _cluster_stats(xq, cents, spark), n_iter, converged
