"""Distributed PCA over the embedding column — the tall-skinny
covariance factorization (partial Gram per Arrow batch → driver eigh
on the D×D matrix → broadcast components → distributed projection).

Not present in the reference (no array types — SURVEY §1.3); this is
the dimensionality-reduction primitive an embedding pipeline runs
before cheap ANN (project to k dims, index the projections) or for
whitening ahead of cosine dedup. The decomposition itself is float
(eigh), so the externally-checked output is the BOUNDS-CHECKED
VERDICT shape (the ev_active_users_hll / ANN-recall discipline):
exact integers (n, dim, k) plus booleans with wide margins — variance
captured by the top-k subspace clears a band no ulp-level
nondeterminism can cross, the components are orthonormal, and k-dim
reconstruction strictly beats the mean-only baseline. The DuckDB
oracle is trivially exact (COUNT + constants).

Scale shape (100 TB): ONE Arrow-batched pass emits a (cnt, Σx, ΣxxT)
partial per batch — D + D² doubles each, data-size-independent after
the scan; the driver reduces ~#batches partials and runs eigh on the
D×D covariance (D=64: microseconds, O(D³) stays trivial through
D≈4096). The projection is a second embarrassingly-parallel pass with
the (mean, U_k) model closed over by value — executors never import
this package (the executor-pickling rule). No shuffle anywhere: both
passes are scan → mapInPandas; only partials and one model cross the
wire. The same shape serves streaming (partials are mergeable) and
any tall-skinny X.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ebike_spark.plans.registry import register, sf_bound
from ebike_spark.sources.registry import load_table

PCA_K = 16  # retained components
PCA_DIM = 64  # embedding dimensionality (fixture contract)
# top-16/64 must beat the isotropic share (16/64 = 0.25). TIGHTENED
# r10 (VERDICT-r9 task 4) to per-fixture measured bounds: variance
# share measured 0.3759 / 0.3763 / 0.3073 at sf0.001/0.01/0.1 —
# deterministic (the partial-Gram reduce runs in a sorted, fixed
# order), so a ~0.6pp margin is orders of magnitude above float
# jitter while any real regression (dropped component, wrong
# centering, bad eigh slice) blows straight through it. Unknown
# corpora fall back to the global floor.
PCA_VAR_BOUNDS = {"sf0.001": 0.37, "sf0.01": 0.37, "sf0.1": 0.30}
PCA_VAR_FLOOR = 0.26


def _gram_partials_fn():
    """Per-batch (cnt, Σx, flattened ΣxxT) — bound by value."""
    import numpy as _np

    def gen(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            X = _np.array(list(pdf["embedding"]), dtype=_np.float64)
            yield pd.DataFrame(
                {
                    "cnt": [len(X)],
                    "s": [X.sum(axis=0).tolist()],
                    "g": [(X.T @ X).ravel().tolist()],
                }
            )

    return gen


_GRAM_SCHEMA = "cnt long, s array<double>, g array<double>"


def _sse_fn(mean, comps):
    """Per-batch (cnt, sum squared error to mean, sse to k-dim
    reconstruction); model closed over by value."""
    import numpy as _np

    mu = _np.array(mean, dtype=_np.float64)
    U = _np.array(comps, dtype=_np.float64)  # D×k

    def gen(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            X = _np.array(list(pdf["embedding"]), dtype=_np.float64)
            Xc = X - mu
            proj = Xc @ U
            resid = Xc - proj @ U.T
            yield pd.DataFrame(
                {
                    "cnt": [len(X)],
                    "sse0": [float((Xc * Xc).sum())],
                    "ssek": [float((resid * resid).sum())],
                }
            )

    return gen


_SSE_SCHEMA = "cnt long, sse0 double, ssek double"


def pca_model(spark: SparkSession, emb: DataFrame):
    """Fit: one partial-Gram pass + driver eigh. Returns
    (n, mean[D], components D×k column-major list, eigenvalues desc)."""
    import numpy as np

    rows = emb.select("embedding").mapInPandas(
        _gram_partials_fn(), _GRAM_SCHEMA
    ).collect()
    n = sum(r["cnt"] for r in rows)
    if n == 0:
        # an empty input would NaN the covariance and crash eigh with
        # an opaque LinAlgError — fail with the actual cause instead
        raise ValueError("embed_pca_audit: embeddings table is empty")
    d = PCA_DIM
    # fixed reduce order (sorted by the FULL partial content) so the
    # float combine is run-to-run identical for identical inputs even
    # when two partials tie on count and leading sums
    rows = sorted(rows, key=lambda r: (r["cnt"], tuple(r["s"])))
    S = np.zeros(d)
    G = np.zeros((d, d))
    for r in rows:
        S += np.array(r["s"])
        G += np.array(r["g"]).reshape(d, d)
    mu = S / n
    cov = G / n - np.outer(mu, mu)
    w, U = np.linalg.eigh(cov)  # ascending
    Uk = U[:, -PCA_K:]  # D×k
    return n, mu.tolist(), Uk.tolist(), w[::-1].tolist()


@register(
    "embed_pca_audit",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST({PCA_DIM} AS BIGINT) AS dim,
           CAST({PCA_K} AS BIGINT) AS k,
           TRUE AS var_captured_ok,
           TRUE AS orthonormal_ok,
           TRUE AS recon_improves
    FROM embeddings
    """,
    tags=("embeddings", "pca", "verdict"),
    eager=True,
)
def embed_pca_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed PCA fit + projection audit (see module docstring):
    the verdict row asserts the decomposition did its job — top-{PCA_K}
    variance share clears the per-fixture measured bound
    (PCA_VAR_BOUNDS; isotropic share is {PCA_K}/{PCA_DIM}),
    components orthonormal to 1e-6, and k-dim
    reconstruction error strictly below the mean-only baseline. The
    variance check is computed from the DISTRIBUTED projection pass
    (sse0 vs ssek), not from the eigenvalues — so it also verifies the
    two passes agree, which is exactly what a monitoring pipeline
    wants from a nightly PCA refresh."""
    import numpy as np

    emb = load_table(spark, sf, "embeddings")
    n, mu, Uk, _w = pca_model(spark, emb)
    U = np.array(Uk)
    orthonormal_ok = bool(np.abs(U.T @ U - np.eye(PCA_K)).max() < 1e-6)
    sse = emb.select("embedding").mapInPandas(
        _sse_fn(mu, Uk), _SSE_SCHEMA
    ).agg(
        F.sum("cnt").alias("n"),
        F.sum("sse0").alias("sse0"),
        F.sum("ssek").alias("ssek"),
    )
    return sse.select(
        F.col("n").alias("n_vectors"),
        F.lit(PCA_DIM).cast("long").alias("dim"),
        F.lit(PCA_K).cast("long").alias("k"),
        (
            (F.lit(1.0) - F.col("ssek") / F.col("sse0"))
            > sf_bound(sf, PCA_VAR_BOUNDS, PCA_VAR_FLOOR)
        ).alias("var_captured_ok"),
        F.lit(orthonormal_ok).alias("orthonormal_ok"),
        (F.col("ssek") < F.col("sse0")).alias("recon_improves"),
    )
