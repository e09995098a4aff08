"""The benchmark's own sf0.1-shaped fixture, generated locally.

The tables follow the schema contract of
``ebike_spark.sources.registry.EXPECTED_SCHEMAS`` and the value domains
of the repository's test fixtures (FIXTURES.md: a TPC-H-like star
schema plus the ``events`` stream table), so the registry's queries run
on them unchanged. The
fixture is generated from a fixed seed, once per checkout, and cached
under the benchmark's work directory: it is the data the server holds,
not the traffic. The traffic (keys, slices, write batches, query order)
comes from the run's ``--seed``.
"""

from __future__ import annotations

import os
import shutil
import sys

FIXTURE_SEED = 42
VERSION = "v1"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

N_ORDERS = 150_000
N_CUSTOMERS = 15_000
N_PARTS = 20_000
N_SUPPLIERS = 1_000
N_EVENTS = 100_000
N_USERS = 1_500

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_ADJ = ("blue", "cold", "hot", "large", "old", "red", "small", "tiny")
_PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def generate(out_dir: str) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    def _ts(days_from, offsets_us):
        base = np.datetime64(days_from, "us")
        return pa.array(base + offsets_us.astype("timedelta64[us]"), type=pa.timestamp("us"))

    def _pick(rng, choices, n):
        return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])

    def _money(rng, lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    rng = np.random.default_rng(FIXTURE_SEED)
    day_us = 86_400 * 1_000_000
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(N_CUSTOMERS, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
                "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMERS),
                "c_mktsegment": _pick(rng, _SEGMENTS, N_CUSTOMERS),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(N_SUPPLIERS, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
                "s_nationkey": rng.integers(0, 25, N_SUPPLIERS).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIERS),
            }
        ),
    }
    adj = np.asarray(_PART_ADJ, dtype=object)[rng.integers(0, len(_PART_ADJ), N_PARTS)]
    noun = np.asarray(_PART_NOUN, dtype=object)[rng.integers(0, len(_PART_NOUN), N_PARTS)]
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(N_PARTS, dtype=np.int64),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PARTS)]),
            "p_type": _pick(rng, _PART_TYPES, N_PARTS),
            "p_size": rng.integers(1, 51, N_PARTS).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(N_PARTS) % 1000) * 0.1, 2),
        }
    )
    order_days = rng.integers(0, 2404, N_ORDERS)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS).astype(np.int64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), N_ORDERS),
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": _ts("1995-01-01", order_days * day_us),
            "o_orderpriority": _pick(rng, _PRIORITIES, N_ORDERS),
        }
    )
    lines = rng.integers(1, 8, N_ORDERS)  # 1..7 lines per order, ~600k rows
    l_order = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    n_lines = len(l_order)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, N_PARTS, n_lines).astype(np.int64),
            "l_suppkey": rng.integers(0, N_SUPPLIERS, n_lines).astype(np.int64),
            "l_linenumber": (np.arange(n_lines) - starts + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_lines),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_lines),
            "l_linestatus": _pick(rng, ("F", "O"), n_lines),
            "l_shipdate": _ts(
                "1995-01-01",
                (np.repeat(order_days, lines) + rng.integers(1, 122, n_lines)) * day_us,
            ),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * day_us, N_EVENTS))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": _ts("2024-01-01", ev_us),
            "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
            "event_type": _pick(rng, _EVENT_TYPES, N_EVENTS),
            "value": _money(rng, 0.0, 560.0, N_EVENTS),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def fixture_dir(work_dir: str) -> str:
    return os.path.join(work_dir, f"fixture-{VERSION}")


def ensure(work_dir: str) -> str:
    """Return the fixture directory, generating it on first use. The
    directory is published by rename, so an interrupted generation
    never leaves a partial fixture behind."""
    final = fixture_dir(work_dir)
    if os.path.isdir(final):
        return final
    staging = final + f".tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    generate(staging)
    os.rename(staging, final)
    return final


if __name__ == "__main__":
    ensure(sys.argv[1])
