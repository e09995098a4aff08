"""Benchmark of ebike-spark's MySQL wire path and its query registry.

    python3 wirebench/run.py --workload wire_point --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (DESIGN.md says why each
exists):

- ``wire_point``: 4 connections, closed loop, primary-key lookups on
  ``orders`` over COM_QUERY;
- ``wire_write``: 1 connection, INSERT/UPDATE/DELETE cycles on a keyed
  table that each cycle returns to its starting content;
- ``analytics``: in-process, the registry's plan-cached queries
  (``plans.registry.all_queries``), one plan build plus ``.count()`` per
  operation.

Every result is checked against DuckDB over the same parquet files; a
mismatch counts as a failed operation. With ``--trace 0`` the last
stdout line holds the end-to-end metrics; with ``--trace 1`` the timed
window alternates untraced and traced one-second slices, and the last
line holds the per-layer metrics, including the tracing overhead. Earlier stdout lines print each metric with its unit and
sample count.

All state (fixture, Spark scratch, warehouse, temp files) lives under
``.wirebench/`` in the checkout; each run's own directory is removed
when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

from harness import HERE, ROOT, WORK, Ops, host_env

RUN_LIMIT_S = 170  # the whole run, set-up included, must end within this


def ensure_fixture() -> str:
    """Generate the fixture once per checkout, in a child process so its
    memory never counts toward this process's peak RSS."""
    os.makedirs(WORK, exist_ok=True)
    from fixture import fixture_dir

    path = fixture_dir(WORK)
    if not os.path.isdir(path):
        subprocess.run([sys.executable, os.path.join(HERE, "fixture.py"), WORK], check=True, timeout=300)
    return path


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("wire_point", "wire_write", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "ebike_spark", "server.py")):
        print(f"wirebench: no ebike_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(RUN_LIMIT_S)
    fixture = ensure_fixture()
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    ops = Ops()
    try:
        env = host_env(run_dir)
        if args.workload == "analytics":
            from analytics import run_analytics

            metrics = run_analytics(args, fixture, env, run_dir, ops)
        else:
            from wire import run_wire

            metrics = run_wire(args, fixture, env, run_dir, ops)
    finally:
        signal.alarm(0)
        shutil.rmtree(run_dir, ignore_errors=True)

    samples = metrics.pop("_samples")
    info = metrics.pop("_info", {})
    for name, (value, unit) in {**metrics, **info}.items():
        n = samples.get(name, 1)
        print(f"{args.workload:<11} {name:<28} {value:>14.4f} {unit:<6} n={n}")
    for err in ops.errors:
        print(f"{args.workload}: failed operation: {err}")
    print(
        json.dumps(
            {
                "correct": ops.failed == 0,
                "attempted": ops.attempted,
                "failed": ops.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
