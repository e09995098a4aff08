"""The wire workloads: a real ``ebike_spark.server`` process,
driven over TCP with the MySQL protocol by this process's clients.

The server holds only what the client sends it: the fixture is loaded
with ``CREATE TABLE ... AS SELECT * FROM parquet.`...```, and every
statement is generated here from the run's seed. DuckDB computes each
expected answer from the same parquet files before the server starts.
"""

from __future__ import annotations

import json
import os
import random
import signal
import subprocess
import sys
import time

import duckdb

from client import Client
from fixture import N_CUSTOMERS, N_ORDERS
from harness import HERE, ROOT, closed_loop, end_to_end, io_write_bytes, vm_hwm_mb

POINT_CONNECTIONS = 4
WRITE_BATCH = 10  # rows each INSERT adds and each UPDATE and DELETE touch (DESIGN.md)
POOL = 2_000  # generated operation groups per connection, far more than a run uses


class Server:
    """The server process and its JVM, both stopped by :meth:`stop`."""

    def __init__(self, env: dict[str, str], run_dir: str):
        self.log_path = os.path.join(run_dir, "server.log")
        with open(self.log_path, "w") as log:
            self.proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "serve.py"), ROOT],
                stdin=subprocess.PIPE,
                stdout=subprocess.PIPE,
                stderr=log,
                env={**os.environ, **env},
                cwd=run_dir,
                text=True,
                start_new_session=True,
            )
        hello = self._read()
        self.port = hello["port"]
        self.jvm_pid = hello["jvm_pid"]
        self.session_start_s = hello["session_start_s"]
        self.heap_mb = hello["heap_mb"]

    def _read(self) -> dict:
        for line in self.proc.stdout:
            if line.startswith("WIREBENCH "):
                return json.loads(line[len("WIREBENCH ") :])
        with open(self.log_path) as f:
            tail = f.read()[-2000:]
        raise RuntimeError(f"server exited before answering:\n{tail}")

    def call(self, cmd: str) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd}) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(self.proc.pid, self.jvm_pid)

    def write_bytes(self) -> int:
        return io_write_bytes(self.proc.pid, self.jvm_pid)

    def stop(self) -> None:
        try:
            self.proc.stdin.write(json.dumps({"cmd": "quit"}) + "\n")
            self.proc.stdin.close()
            self.proc.wait(timeout=30)
        except (OSError, ValueError, subprocess.TimeoutExpired):
            pass
        # the JVM is in the server's process group; nothing may outlive the run
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                break
            deadline = time.monotonic() + 10
            while time.monotonic() < deadline and os.path.exists(f"/proc/{self.jvm_pid}"):
                time.sleep(0.05)
        self.proc.wait()


def _rows_equal(got, expected) -> bool:
    return got[0] == "rows" and got[2] == expected


# ------------------------------------------------------------ wire_point
#
# Each workload class generates its operations from the seed and its
# expected answers with DuckDB, then hands out, per connection, an
# iterator of operation groups: ``workers(clients, first, count)``
# covers groups ``first .. first + count`` of a fixed pool. The warm pass
# takes the pool's second half, the timed windows the first half.
#
# The JIT keeps shortening statement latency long after the first
# statements (measured on 4 cores: point lookups drift ~10% between 12 s
# and 30 s of traffic, write cycles settle after ~30 s). A warm pass of
# fixed length, ``warm_s``, puts every run's window at the same point of
# that curve; the lengths fit a budget of 22 runs per workload within an
# hour.


class PointLookups:
    connections = POINT_CONNECTIONS
    warm_s = 8.0

    def __init__(self, seed: int, fixture: str):
        rng = random.Random(seed)
        self.keys = [[rng.randrange(N_ORDERS) for _ in range(POOL)] for _ in range(self.connections)]
        con = duckdb.connect()
        wanted = sorted({k for ks in self.keys for k in ks})
        rows = con.execute(
            f"SELECT * FROM read_parquet('{fixture}/orders.parquet') WHERE o_orderkey IN (SELECT unnest(?))",
            [wanted],
        ).fetchall()
        con.close()
        # the text protocol sends each value as Python's str() of it
        self.expected = {r[0]: [[None if v is None else str(v) for v in r]] for r in rows}
        self.fixture = fixture

    def load(self, clients) -> list:
        return [
            lambda: clients[0].query(
                f"CREATE TABLE orders AS SELECT * FROM parquet.`{self.fixture}/orders.parquet`"
            )
            == ("ok", N_ORDERS)
        ]

    def checks(self, clients) -> list:
        return []

    def _stream(self, client, keys):
        for k in keys:
            sql = f"SELECT * FROM orders WHERE o_orderkey = {k}"
            yield [lambda sql=sql, k=k: _rows_equal(client.query(sql), self.expected[k])]

    def workers(self, clients, first: int, count: int) -> list:
        return [self._stream(c, ks[first : first + count]) for c, ks in zip(clients, self.keys)]


# ------------------------------------------------------------ wire_write


class WriteCycles:
    """INSERT a batch of new keys, UPDATE them, DELETE them, on a table
    keyed on ``k`` that holds all of ``orders``. Every INSERT runs the
    engine's key checks against the stored rows, and every UPDATE and
    DELETE rewrites the whole table. Each cycle leaves the table as it
    found it, so file count and table size stay stationary however long
    the run."""

    connections = 1
    warm_s = 20.0

    def __init__(self, seed: int, fixture: str):
        rng = random.Random(seed)
        self.batches = []  # (first key, VALUES rows) per cycle
        for c in range(POOL):
            lo = 10_000_000 + c * WRITE_BATCH
            rows = [
                f"({lo + j}, {rng.randrange(N_CUSTOMERS)},"
                f" {rng.randrange(100_000, 50_000_000) / 100:.2f}, '{rng.choice('FOP')}')"
                for j in range(WRITE_BATCH)
            ]
            self.batches.append((lo, rows))
        con = duckdb.connect()
        row = con.execute(
            f"""
            SELECT count(*), sum(o_orderkey), sum(o_custkey),
                   sum(CAST(round(o_totalprice * 100) AS BIGINT))
            FROM read_parquet('{fixture}/orders.parquet')
            """
        ).fetchone()
        con.close()
        self.expected = [[str(int(v)) for v in row]]
        self.fixture = fixture
        self.changed: list[int] = []  # user-row bytes each write statement changed

    def load(self, clients) -> list:
        c = clients[0]
        return [
            lambda: c.query(
                "CREATE TABLE w (k BIGINT NOT NULL, cust BIGINT, price DOUBLE, status CHAR, PRIMARY KEY (k))"
            )
            == ("ok", 0),
            lambda: c.query(
                "INSERT INTO w SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus"
                f" FROM parquet.`{self.fixture}/orders.parquet`"
            )
            == ("ok", N_ORDERS),
        ]

    def checks(self, clients) -> list:
        """Read the table back: it must hold its starting content."""
        sql = "SELECT count(*), sum(k), sum(cust), sum(CAST(round(price * 100) AS BIGINT)) FROM w"
        return [lambda: _rows_equal(clients[0].query(sql), self.expected)]

    def _cycle(self, client, lo: int, rows: list[str]) -> list:
        hi = lo + WRITE_BATCH
        row_bytes = sum(len(r) for r in rows)

        def op(sql):
            def run():
                self.changed.append(row_bytes)
                return client.query(sql) == ("ok", WRITE_BATCH)

            return run

        return [
            op(f"INSERT INTO w VALUES {', '.join(rows)}"),
            op(f"UPDATE w SET price = price + 1 WHERE k >= {lo} AND k < {hi}"),
            op(f"DELETE FROM w WHERE k >= {lo} AND k < {hi}"),
        ]

    def _stream(self, client, first, count):
        for c in range(first, first + count):
            yield self._cycle(client, *self.batches[c])

    def workers(self, clients, first: int, count: int) -> list:
        return [self._stream(clients[0], first, count)]


WORKLOADS = {"wire_point": PointLookups, "wire_write": WriteCycles}


def run_wire(args, fixture: str, env: dict[str, str], run_dir: str, ops) -> dict:
    workload = WORKLOADS[args.workload](args.seed, fixture)
    server = None
    clients: list[Client] = []
    try:
        t0 = time.perf_counter()
        server = Server(env, run_dir)
        clients = [Client(server.port) for _ in range(workload.connections)]
        for op in workload.load(clients):
            ops.run(op)
            if ops.failed:
                raise RuntimeError(f"loading the fixture failed: {ops.errors}")
        half = POOL // 2
        closed_loop(ops, workload.workers(clients, half, half), workload.warm_s)
        for op in workload.checks(clients):
            ops.run(op)
        setup_s = time.perf_counter() - t0

        if not args.trace:
            lat, wall = closed_loop(ops, workload.workers(clients, 0, half), args.seconds)
            for op in workload.checks(clients):
                ops.run(op)
            return end_to_end(setup_s, lat, wall, server.peak_rss_mb())

        from layers import layer_metrics

        canary_start = server.call("canary")["canary_s"]
        server.call("trace")
        changed = getattr(workload, "changed", [])
        changed.clear()
        io0 = server.write_bytes()
        samples, _ = closed_loop(
            ops,
            workload.workers(clients, 0, half),
            args.seconds,
            toggle=lambda on: server.call("on" if on else "off"),
        )
        io1 = server.write_bytes()
        report = server.call("report")["report"]
        for op in workload.checks(clients):
            ops.run(op)
        canary_end = server.call("canary")["canary_s"]
        return layer_metrics(
            report,
            samples,
            write_bytes=io1 - io0,
            changed_bytes=sum(changed),
            session_start_s=server.session_start_s,
            heap_mb=server.heap_mb,
            canary_s=min(canary_start, canary_end),
        )
    finally:
        for c in clients:
            c.close()
        if server is not None:
            server.stop()
