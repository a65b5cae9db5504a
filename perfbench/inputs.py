"""Benchmark inputs: the committed sf0.1 tables and the seeded day-to-day
perturbation the inventory cycle syncs on later days.

``data/sf0.1`` is a byte-identical copy of the repository's sf0.1 test
tables (TESTDATA.md: TPC-H-like star schema plus events, documents and
embeddings, seed 42; 17 MB of parquet), committed so the benchmark reads
nothing outside its checkout.

A later day is the previous day with a few percent of supplier and customer
rows changed, dropped or added. Drops cascade to the rows that reference
them (orders of a dropped customer, line items of those orders, line items of
a dropped supplier), so every foreign key still resolves and every rule and
drift query still runs. The perturbation depends only on ``(seed, day)``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DAY0_DIR = os.path.join(HERE, "data", "sf0.1")
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
# Shares of the previous day's rows changed / dropped / added per entity.
CHANGE, DROP, ADD = 0.03, 0.01, 0.005


def input_bytes(sf_dir: str) -> int:
    return sum(os.path.getsize(os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES)


def _rng(seed: int, day: int) -> np.random.Generator:
    return np.random.default_rng([seed, day])


def _perturb_entity(
    table: pa.Table, key: str, name: str, balance: str, rng: np.random.Generator, name_fmt: str
) -> tuple[pa.Table, pa.Array]:
    """Change balances of a share of rows, drop a share, append new rows
    copied from random survivors under fresh keys. Returns the new table and
    the dropped keys."""
    n = table.num_rows
    order = rng.permutation(n)
    n_drop, n_change, n_add = int(n * DROP), int(n * CHANGE), max(1, int(n * ADD))
    dropped_idx = np.sort(order[:n_drop])
    changed_idx = order[n_drop:n_drop + n_change]
    dropped_keys = table.column(key).take(pa.array(dropped_idx))

    balances = table.column(balance).to_numpy().copy()
    balances[changed_idx] = np.round(rng.uniform(-999.99, 9999.99, n_change), 2)
    table = table.set_column(
        table.schema.get_field_index(balance), balance, pa.array(balances, table.schema.field(balance).type)
    )
    keep = np.ones(n, dtype=bool)
    keep[dropped_idx] = False
    table = table.filter(pa.array(keep))

    max_key = pc.max(table.column(key)).as_py()
    new_keys = np.arange(max_key + 1, max_key + 1 + n_add)
    added = table.take(pa.array(rng.choice(table.num_rows, n_add, replace=False)))
    added = added.set_column(
        added.schema.get_field_index(key), key, pa.array(new_keys, table.schema.field(key).type)
    )
    added = added.set_column(
        added.schema.get_field_index(name), name, pa.array([name_fmt % k for k in new_keys], pa.string())
    )
    return pa.concat_tables([table, added]), dropped_keys


def write_next_day(prev_dir: str, out_dir: str, seed: int, day: int) -> None:
    """Write day ``day``'s tables to ``out_dir`` from the previous day's."""
    rng = _rng(seed, day)
    os.makedirs(out_dir, exist_ok=True)

    def read(table: str) -> pa.Table:
        return pq.read_table(os.path.join(prev_dir, f"{table}.parquet"))

    customer, gone_cust = _perturb_entity(
        read("customer"), "c_custkey", "c_name", "c_acctbal", rng, "Customer#%09d"
    )
    supplier, gone_supp = _perturb_entity(
        read("supplier"), "s_suppkey", "s_name", "s_acctbal", rng, "Supplier#%09d"
    )
    orders = read("orders")
    gone_orders = orders.filter(pc.is_in(orders.column("o_custkey"), gone_cust)).column("o_orderkey")
    orders = orders.filter(pc.invert(pc.is_in(orders.column("o_custkey"), gone_cust)))
    lineitem = read("lineitem")
    lineitem = lineitem.filter(
        pc.invert(
            pc.or_(
                pc.is_in(lineitem.column("l_orderkey"), gone_orders),
                pc.is_in(lineitem.column("l_suppkey"), gone_supp),
            )
        )
    )
    rewritten = {"customer": customer, "supplier": supplier, "orders": orders, "lineitem": lineitem}
    for t in TABLES:
        dst = os.path.join(out_dir, f"{t}.parquet")
        if t in rewritten:
            pq.write_table(rewritten[t], dst)
        else:
            shutil.copyfile(os.path.join(prev_dir, f"{t}.parquet"), dst)
