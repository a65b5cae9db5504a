"""Output checks. Every check runs outside the timed passes.

- Registry queries: Spark's output, normalised the way ``tools/oracle_check.py``
  does, must hash to the digest of the query's DuckDB oracle over the same
  input. Digests are produced by ``make_digests.py`` and kept in
  ``oracle_digests.json`` with the hash of the oracle SQL they came from; when
  a query's oracle SQL no longer matches that hash, the oracle runs live.
- Inventory node counts must equal DuckDB row counts of the input tables.
- Inventory per-fact failing/passing/total counts must equal the
  ``rules_library_run`` oracle over the same day's input.
- Drift deviations must equal a DuckDB two-way ``EXCEPT`` of the validation
  query over the two days' input.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from tools.oracle_check import TABLES, normalize

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_digests.json")
# node label -> input table it is synced from
NODE_TABLES = {
    "Region": "region",
    "Nation": "nation",
    "Supplier": "supplier",
    "Customer": "customer",
    "Order": "orders",
}


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def sql_hash(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def frame_digest(pdf) -> dict:
    """Row count and sha256 of a result frame after the oracle-check
    normalisation (columns sorted, cells canonicalised, rows sorted)."""
    norm = normalize(pdf)
    h = hashlib.sha256("\x1f".join(norm.columns).encode())
    for row in norm.itertuples(index=False):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return {"rows": len(norm), "sha256": h.hexdigest()}


def load_digests() -> dict:
    with open(DIGESTS) as f:
        return json.load(f)["queries"]


def check_query(name: str, oracle_sql: str, pdf, sf_dir: str, digests: dict) -> str | None:
    """None when ``pdf`` matches the oracle, else what differs."""
    want = digests.get(name)
    if want is None or want["oracle_sql_sha256"] != sql_hash(oracle_sql):
        con = connect(sf_dir)
        odf = con.sql(oracle_sql).df()
        if sorted(odf.columns) != sorted(pdf.columns):
            return f"columns {sorted(pdf.columns)} != oracle {sorted(odf.columns)}"
        want = frame_digest(odf)
    got = frame_digest(pdf)
    if got["rows"] != want["rows"]:
        return f"{got['rows']} rows != oracle {want['rows']}"
    if got["sha256"] != want["sha256"]:
        return "values differ from the oracle"
    return None


def check_node_counts(counts: dict[str, int], sf_dir: str) -> list[str]:
    con = connect(sf_dir)
    errors = []
    if set(counts) != set(NODE_TABLES):
        errors.append(f"node labels {sorted(counts)} != {sorted(NODE_TABLES)}")
    for label, table in NODE_TABLES.items():
        want = con.sql(f"SELECT count(*) FROM {table}").fetchone()[0]
        if counts.get(label) != want:
            errors.append(f"{label}: {counts.get(label)} nodes != {want} {table} rows")
    return errors


def check_fact_counts(facts: list[tuple], sf_dir: str, oracle_sql: str) -> list[str]:
    """``facts``: (fact_id, failing, passing, total) per executed fact. The
    oracle covers more rules than were run, so only executed facts compare."""
    con = connect(sf_dir)
    executed = {f[0] for f in facts}
    want = sorted(
        tuple(r)
        for r in con.sql(f"SELECT fact_id, failing, passing, total FROM ({oracle_sql})").fetchall()
        if r[0] in executed
    )
    got = sorted(facts)
    if got == want:
        return []
    diff = sorted(set(got) ^ set(want))[:5]
    return [f"fact counts differ from the rules oracle ({len(got)} vs {len(want)} facts), e.g. {diff}"]


def expected_deviations(raw_sql: str, start_dir: str, end_dir: str) -> list[tuple]:
    """(values..., status) rows of the two-way EXCEPT, values stringified the
    way drift states store them."""
    con = duckdb.connect()
    con.sql("CREATE SCHEMA s; CREATE SCHEMA e")
    for t in TABLES:
        con.sql(f"CREATE VIEW s.{t} AS SELECT * FROM '{start_dir}/{t}.parquet'")
        con.sql(f"CREATE VIEW e.{t} AS SELECT * FROM '{end_dir}/{t}.parquet'")
    start, end = raw_sql.format(db="s"), raw_sql.format(db="e")
    rows = [r + ("new",) for r in con.sql(f"({end}) EXCEPT ALL ({start})").fetchall()]
    rows += [r + ("missing",) for r in con.sql(f"({start}) EXCEPT ALL ({end})").fetchall()]
    return sorted(tuple("" if v is None else str(v) for v in r) for r in rows)


def check_deviations(got: list[tuple], raw_sql: str, start_dir: str, end_dir: str) -> list[str]:
    want = expected_deviations(raw_sql, start_dir, end_dir)
    got = sorted(got)
    if got == want:
        return []
    return [f"{len(got)} deviations != {len(want)} expected, e.g. {sorted(set(got) ^ set(want))[:3]}"]
