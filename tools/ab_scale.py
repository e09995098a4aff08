"""Solo A/B of the r13/r14 §2/§3 rewrites at a compute-bound scale
(VERDICT-r13 task 3): run each rewrite's CURRENT shape against the
shape it replaced, alternating reps within one session (shared
persisted inputs, interleaved host canary), at whatever fixture
``SPARK_GRAFT_SF_DIR`` points to (build one with tools/big_fixture.py)
and whatever core count ``SPARK_GRAFT_CPUS`` gives.

Arms:
- ppjoin_verify:   SHUFFLE_HASH-on-pairs verify joins (current) vs the
                   pre-r13 planner broadcast of the array-laden index.
- starcc:          window-min star rounds, 3 shuffles/round (current)
                   vs the r12 groupBy+join-back rounds.
- starcc_x2:       current rounds vs DOUBLE rounds per checkpoint+
                   signature (VERDICT-r13 task 7 trial — half the
                   driver round-trips, double the lineage per job).

Usage: python tools/ab_scale.py [arm ...] [--reps N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import DataFrame  # noqa: E402

from bench import host_canary  # noqa: E402
from ebike_spark.artifacts import persisted  # noqa: E402
from ebike_spark.session import get_spark  # noqa: E402


# ---------------------------------------------------------------- ppjoin

def _ppjoin_arms(spark, sf):
    from ebike_spark.operators.dedup import (
        PPJOIN_T_DEN,
        PPJOIN_T_NUM,
        _ppjoin_candidates,
        _ppjoin_index,
        ppjoin_pairs,
        shingle_set,
    )

    sh = persisted(
        spark, "ngram_shingles", lambda: shingle_set(spark, sf), key=sf
    )
    idx = persisted(
        spark, "ppjoin_index", lambda: _ppjoin_index(sh), key=sf
    )

    def broadcast_verify():
        # the pre-r13 shape: the planner broadcast the full-array index
        # as the build side of both gather joins (forced here so the
        # comparison holds even where size estimates would refuse it)
        cand = _ppjoin_candidates(idx)
        v = (
            cand.join(
                F.broadcast(
                    idx.select(
                        F.col("doc_id").alias("d1"),
                        F.col("arr").alias("arr1"),
                        F.col("n").alias("n1"),
                    )
                ),
                "d1",
            )
            .join(
                F.broadcast(
                    idx.select(
                        F.col("doc_id").alias("d2"),
                        F.col("arr").alias("arr2"),
                        F.col("n").alias("n2"),
                    )
                ),
                "d2",
            )
            .select(
                "d1",
                "d2",
                F.size(F.array_intersect("arr1", "arr2")).cast("long").alias("c"),
                "n1",
                "n2",
            )
        )
        union = F.col("n1") + F.col("n2") - F.col("c")
        return v.where(PPJOIN_T_DEN * F.col("c") >= PPJOIN_T_NUM * union)

    return {
        "shuffle_hash(pairs)": lambda: ppjoin_pairs(index=idx),
        "broadcast(index)": broadcast_verify,
    }


# ---------------------------------------------------------------- star-CC

def _joinback_large_star(e: DataFrame) -> DataFrame:
    """The r12 groupBy+join-back large-star (replaced by the window
    form in r13) — kept here verbatim for the A/B."""
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _joinback_small_star(e: DataFrame) -> DataFrame:
    d = (
        e.where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )
    m = d.groupBy("u").agg(F.min("v").alias("m"))
    re_pointed = (
        d.join(m, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    centers = m.select("u", F.col("m").alias("v"))
    return re_pointed.unionAll(centers).distinct()


def _cc_star_generic(edges: DataFrame, round_fn, max_iter: int = 50):
    """connected_components_star's loop with a pluggable per-iteration
    round (same checkpoint + 3-scalar signature protocol)."""
    def _sig(e):
        r = e.agg(
            F.count("*"),
            F.sum(F.xxhash64("u", "v") % F.lit(1_000_000_007)),
            F.sum(F.xxhash64(F.lit(13), "u", "v") % F.lit(998_244_353)),
        ).first()
        return (r[0], r[1], r[2])

    e = (
        edges.selectExpr("d1 AS u", "d2 AS v")
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sig = _sig(e)
    rounds = 0
    for _ in range(max_iter):
        e = round_fn(e).localCheckpoint(eager=False)
        rounds += 1
        new_sig = _sig(e)
        if new_sig == sig:
            return e, rounds
        sig = new_sig
    raise AssertionError(f"no convergence in {max_iter} rounds")


def _starcc_arms(spark, sf, fused_pairs: bool):
    from ebike_spark.operators.corpus import _large_star, _small_star
    from ebike_spark.operators.dedup import minhash_verified_pairs

    edges = persisted(
        spark,
        "ab_scale_edges",
        lambda: minhash_verified_pairs(spark, sf).select("d1", "d2"),
        key=sf,
    )

    def window_round(e):
        return _small_star(_large_star(e, dedup=False))

    def joinback_round(e):
        return _joinback_small_star(_joinback_large_star(e))

    def double_round(e):
        return window_round(window_round(e))

    def run(round_fn):
        def go():
            labels, rounds = _cc_star_generic(edges, round_fn)
            # same terminal shape as the operator: star-forest count
            n = labels.count()
            return n, rounds

        return go

    if fused_pairs:
        return {
            "window 1 round/job": run(window_round),
            "window 2 rounds/job": run(double_round),
        }
    return {
        "window rounds": run(window_round),
        "joinback rounds": run(joinback_round),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("arms", nargs="*", default=None)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    wanted = set(args.arms or ["ppjoin_verify", "starcc", "starcc_x2"])

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab_scale")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    cpus = spark.sparkContext.defaultParallelism
    print(f"# ab_scale: sf_dir={sf} cpus={cpus} canary={host_canary(spark):.3f}")

    suites = {}
    if "ppjoin_verify" in wanted:
        suites["ppjoin_verify"] = {
            k: (lambda f=v: f().count()) for k, v in _ppjoin_arms(spark, sf).items()
        }
    if "starcc" in wanted:
        suites["starcc"] = _starcc_arms(spark, sf, fused_pairs=False)
    if "starcc_x2" in wanted:
        suites["starcc_x2"] = _starcc_arms(spark, sf, fused_pairs=True)

    for suite, arms in suites.items():
        # warm every arm once (plan compile, codegen, persisted inputs)
        results = {k: [] for k in arms}
        outs = {}
        for k, fn in arms.items():
            outs[k] = fn()  # untimed warm pass per arm
        for _ in range(args.reps):  # alternate arms within each rep
            for k, fn in arms.items():
                spark.sparkContext.setJobDescription(f"{suite}:{k}")
                t0 = time.perf_counter()
                outs[k] = fn()
                results[k].append(time.perf_counter() - t0)
                spark.sparkContext.setJobDescription(None)
        print(f"\n## {suite} (reps={args.reps}, alternating)")
        for k, ts in results.items():
            body = ", ".join(f"{t:.3f}" for t in ts)
            print(f"  {k:24s} min={min(ts):.3f}  reps=[{body}]  out={outs[k]!r}")
        print(f"  canary_after={host_canary(spark):.3f}")


if __name__ == "__main__":
    main()
