"""The ``analytics`` workload: the query registry driven in-process, as
``bench.py`` drives it. Each operation is one call of a plan-cached
registry function (``plans.registry.all_queries``) plus ``.count()``.

The query list is fixed here, so a change to ``bench.py`` cannot change
the workload. It holds at least one query of every ``plans/`` module,
taken from ``bench.py``'s list where the module has one there, and no
``io_*`` or ``stream_*`` query. Measured warm on a 4-core host, nine
of them cost within 20% of the median query, and two
(``ev_pagerank_states`` and ``fn_unpivot``, the only plan-cached queries
of their modules) a quarter to a half of it. So no cost gap sits at the
median, and a window's median rests on many queries' samples, not on
one query's. The seed sets the order, reshuffled on every pass.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import tempfile
import time

import duckdb

from fixture import TABLES
from harness import ROOT, closed_loop, end_to_end, vm_hwm_mb

QUERIES = (
    "q02_group_agg",  # plans/tpch.py
    "q03_join_agg",  # plans/tpch.py
    "q25_promo_revenue",  # plans/tpch2.py
    "q28_disjunctive_pred",  # plans/tpch2.py
    "fn_agg_extras",  # plans/functions_battery.py
    "ev_seasonality_profile",  # plans/timeseries.py
    "ev_rfm_segments",  # plans/attribution.py
    "ev_tumbling_window",  # plans/analytics.py
    "ev_pagerank_states",  # plans/graph.py
    "fn_unpivot",  # plans/arrays.py (the module has no bench.py query)
    "ev_rollup",  # registered by plans/analytics_late.py (none in bench.py)
)
# after the first run of every query, further passes for this long: the
# first ~10 s of passes run measurably slower while the JIT warms up
WARM_S = 3.0


def oracle_counts(fixture: str) -> dict[str, int]:
    """Row counts of the registry's DuckDB oracles on the fixture,
    computed in a child process so DuckDB's memory never counts toward
    this process's peak RSS."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), fixture],
        check=True,
        capture_output=True,
        text=True,
        timeout=120,
    )
    return json.loads(out.stdout.splitlines()[-1])


def _oracle_counts(fixture: str) -> dict[str, int]:
    from ebike_spark.plans.registry import REGISTRY, all_queries

    all_queries()  # loads every registering module
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
    out = {}
    for name in QUERIES:
        oracle = REGISTRY[name].oracle
        if oracle is not None:
            out[name] = con.execute(f"SELECT count(*) FROM ({oracle})").fetchone()[0]
    con.close()
    return out


class Caller:
    """The in-process caller. ``op`` is the operation; ``build`` and
    ``execute`` are its two layer calls, wrapped by the traced run."""

    def __init__(self, spark, fixture: str, expected: dict[str, int]):
        from ebike_spark.plans.registry import all_queries

        self.spark = spark
        self.fixture = fixture
        self.queries = all_queries()
        self.expected = expected

    def build(self, name: str):
        return self.queries[name](self.spark, self.fixture)

    def execute(self, df) -> int:
        return df.count()

    def op(self, name: str) -> bool:
        return self.execute(self.build(name)) == self.expected[name]

    def warm(self, name: str) -> bool:
        """Untimed first run; a query without an oracle is checked
        against this run's count from then on."""
        n = self.execute(self.build(name))
        return self.expected.setdefault(name, n) == n

    def worker(self, seed: int):
        """One operation group per pass over the list, in a new seeded
        order each pass. A window ends only between passes, so every
        window times each query equally often."""
        rng = random.Random(seed)
        while True:
            order = list(QUERIES)
            rng.shuffle(order)
            yield [lambda name=name: self.op(name) for name in order]


def run_analytics(args, fixture: str, env: dict[str, str], run_dir: str, ops) -> dict:
    os.environ.update(env)  # read by the session module and the JVM launcher
    tempfile.tempdir = None  # pick up the run's TMPDIR
    sys.path.insert(0, ROOT)
    expected = oracle_counts(fixture)
    # the JVM writes whatever it writes by relative path into the run
    # directory, as the wire server's does
    cwd = os.getcwd()
    os.chdir(run_dir)
    from bench import host_canary
    from ebike_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("wirebench_analytics")
    session_start_s = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    try:
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        tracer = None
        if args.trace:
            from trace_layers import Tracer
            from ebike_spark.sources.registry import load_table

            tracer = Tracer(spark)
            tracer.wrap_everywhere(load_table, "sources.load")
        caller = Caller(spark, fixture, expected)
        for name in QUERIES:
            ops.run(lambda name=name: caller.warm(name))
        worker = caller.worker(args.seed)
        closed_loop(ops, [worker], WARM_S)
        setup_s = time.perf_counter() - t0

        if not args.trace:
            lat, wall = closed_loop(ops, [worker], args.seconds)
            return end_to_end(setup_s, lat, wall, vm_hwm_mb(os.getpid(), jvm_pid))

        from layers import layer_metrics

        canary_start = host_canary(spark)
        tracer.wrap(caller, "op", "analytics.op", root=True)
        tracer.wrap(caller, "build", "plans.build")
        tracer.wrap(caller, "execute", "spark.exec")
        samples, _ = closed_loop(
            ops, [worker], args.seconds, toggle=lambda on: setattr(tracer, "enabled", on)
        )
        report = tracer.report()
        canary_end = host_canary(spark)
        return layer_metrics(
            report,
            samples,
            write_bytes=0,
            changed_bytes=0,
            session_start_s=session_start_s,
            heap_mb=spark._jvm.java.lang.Runtime.getRuntime().totalMemory() / 2**20,
            canary_s=min(canary_start, canary_end),
        )
    finally:
        spark.stop()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        os.chdir(cwd)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    print(json.dumps(_oracle_counts(sys.argv[1])))
