"""Tests of the benchmark's own code (no Spark session needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import filecmp
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from inputs import DAY0_DIR, TABLES, write_next_day  # noqa: E402
from spans import Span, self_time, union_length  # noqa: E402


def _span(start: float, end: float) -> Span:
    return Span(0, None, "op", "x", "x", start, end)


def test_self_time_subtracts_union_of_overlapping_children():
    parent = _span(0.0, 10.0)
    children = [_span(1.0, 4.0), _span(2.0, 6.0)]  # overlap on [2, 4]
    assert self_time(parent, children) == pytest.approx(5.0)  # not 10 - 7


def test_self_time_clips_children_to_the_parent():
    parent = _span(10.0, 20.0)
    children = [_span(5.0, 12.0), _span(18.0, 25.0), _span(30.0, 31.0)]
    assert self_time(parent, children) == pytest.approx(6.0)


def test_union_length():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == pytest.approx(2.0)
    assert union_length([(0, 3), (1, 2), (2.5, 4)]) == pytest.approx(4.0)
    assert union_length([(0, 3), (1, 2)], lo=1.5, hi=2.5) == pytest.approx(1.0)


@pytest.fixture(scope="module")
def days(tmp_path_factory):
    root = tmp_path_factory.mktemp("days")
    out = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        write_next_day(DAY0_DIR, str(root / tag), seed, 1)
        out[tag] = str(root / tag)
    return out


def test_same_seed_gives_identical_bytes(days):
    for t in TABLES:
        a, b = (os.path.join(days[k], f"{t}.parquet") for k in "ab")
        assert filecmp.cmp(a, b, shallow=False), t


def test_different_seed_gives_different_inputs(days):
    changed = [
        t
        for t in TABLES
        if not filecmp.cmp(
            os.path.join(days["a"], f"{t}.parquet"), os.path.join(days["c"], f"{t}.parquet"), shallow=False
        )
    ]
    assert set(changed) == {"customer", "supplier", "orders", "lineitem"}


def _scalar(con, sql):
    return con.sql(sql).fetchone()[0]


def test_day1_keeps_key_integrity_and_perturbs(days):
    d, d0 = days["a"], DAY0_DIR
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        con.sql(f"CREATE VIEW d0_{t} AS SELECT * FROM '{d0}/{t}.parquet'")
    # every foreign key the sync and the rules join on still resolves
    for child, key, parent, pkey in (
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ):
        dangling = _scalar(con, f"SELECT count(*) FROM {child} ANTI JOIN {parent} ON {key} = {pkey}")
        assert dangling == 0, (child, key)
    for t, key in (("customer", "c_custkey"), ("supplier", "s_suppkey")):
        assert _scalar(con, f"SELECT count(*) - count(DISTINCT {key}) FROM {t}") == 0
        dropped = _scalar(con, f"SELECT count(*) FROM d0_{t} ANTI JOIN {t} USING ({key})")
        added = _scalar(con, f"SELECT count(*) FROM {t} ANTI JOIN d0_{t} USING ({key})")
        unchanged = _scalar(con, f"SELECT count(*) FROM (SELECT * FROM {t} INTERSECT SELECT * FROM d0_{t})")
        n0 = _scalar(con, f"SELECT count(*) FROM d0_{t}")
        assert 0 < dropped <= 0.02 * n0 and 0 < added <= 0.01 * n0, t
        assert n0 - dropped - unchanged > 0.02 * n0, t  # a few % of kept rows changed
