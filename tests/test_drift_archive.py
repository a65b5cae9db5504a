"""Drift archive lifecycle tests (reference driftdetect/get_states.py,
add_shortcut.py, detect_deviations.py:70-91)."""

from __future__ import annotations

import json
import os

import pytest

from cartography_spark.plans import driftarchive as da


def _run_query_factory(spark, rows_by_sql):
    def run(sql):
        rows = rows_by_sql[sql]
        return spark.createDataFrame(rows, "id string, tags array<string>")

    return run


def test_archive_roundtrip_and_validation(spark, tmp_path):
    root = str(tmp_path)
    da.init_query(root, "assets", "Q1")
    da.init_query(root, "users", "Q2")

    run1 = _run_query_factory(spark, {
        "Q1": [("a", ["x"]), ("b", ["y", "z"])],
        "Q2": [("u1", ["r"])],
    })
    written1 = da.get_states(root, run1, filename="t1.json")
    assert len(written1) == 2 and all(os.path.isfile(p) for p in written1)
    # '|'-joined storage format for list columns (serializers.py:9-28)
    payload = json.load(open(os.path.join(root, "assets", "t1.json")))
    assert ["b", "y|z"] in payload["results"]

    run2 = _run_query_factory(spark, {
        "Q1": [("b", ["y", "z"]), ("c", ["w"])],  # a removed, c added
        "Q2": [("u1", ["r"])],
    })
    da.get_states(root, run2, filename="t2.json")

    # shortcut points at the latest sweep
    assert da.resolve_shortcut(os.path.join(root, "assets"), "most-recent") == "t2.json"

    start = da.load_state(spark, root, "assets", "t1.json")
    end = da.load_state(spark, root, "assets", "most-recent")
    diff = {(r.id, r.status) for r in da.perform_drift_detection(start, end).collect()}
    assert diff == {("c", "new"), ("a", "missing")}

    # cross-query validation: states of different names refuse to diff
    other = da.load_state(spark, root, "users", "most-recent")
    with pytest.raises(ValueError, match="names do not match"):
        da.perform_drift_detection(start, other)

    # query-text validation: editing the template invalidates old states
    da.init_query(root, "assets", "Q1-changed")
    da.get_states(root, _run_query_factory(spark, {
        "Q1-changed": [("b", ["y", "z"])],
        "Q2": [("u1", ["r"])],
    }), filename="t3.json")
    changed = da.load_state(spark, root, "assets", "t3.json")
    with pytest.raises(ValueError, match="queries do not match"):
        da.perform_drift_detection(start, changed)


def _state(spark, root, name, rows, filename):
    """Persist ``rows`` (id, val) as the state ``filename`` of query ``name``."""
    da.init_query(root, name, "Q")
    da.get_states(root, lambda sql: spark.createDataFrame(rows, "id string, val string"), filename=filename)
    return da.load_state(spark, root, name, filename)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_load_state_is_a_driver_local_relation(spark, tmp_path):
    """States reach the JVM as Arrow data: the scan is a LocalTableScan, not
    a Python-worker RDD scan, for empty and non-empty states alike."""
    full = _state(spark, str(tmp_path), "q", [("a", "1"), ("b", "2")], "t1.json")
    empty = _state(spark, str(tmp_path), "q", [], "t2.json")
    for state in (full, empty):
        plan = _plan(state.results)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
        assert state.results.schema.simpleString() == "struct<id:string,val:string>"
    assert sorted(tuple(r) for r in full.results.collect()) == [("a", "1"), ("b", "2")]
    assert empty.results.collect() == []


def test_drift_keeps_multiset_semantics(spark, tmp_path):
    """exceptAll, not except: a row held twice at the start and once at the
    end is one missing deviation; three copies at the end are two new."""
    root = str(tmp_path)
    start = _state(spark, root, "q", [("a", "1"), ("a", "1"), ("b", "2")], "t1.json")
    end = _state(spark, root, "q", [("a", "1"), ("b", "2"), ("b", "2"), ("b", "2")], "t2.json")
    got = sorted(tuple(r) for r in da.perform_drift_detection(start, end).collect())
    assert got == [("a", "1", "missing"), ("b", "2", "new"), ("b", "2", "new")]


def test_drift_null_round_trips_as_empty_string(spark, tmp_path):
    """A NULL is stored as "" and loads back as "": two states holding the
    same NULL row do not differ, and a NULL -> value change is one pair."""
    root = str(tmp_path)
    start = _state(spark, root, "q", [("a", None), ("b", "x")], "t1.json")
    same = _state(spark, root, "q", [("a", None), ("b", "x")], "t2.json")
    changed = _state(spark, root, "q", [("a", "y"), ("b", "x")], "t3.json")
    assert ("a", "") in [tuple(r) for r in start.results.collect()]
    assert da.perform_drift_detection(start, same).collect() == []
    got = sorted(tuple(r) for r in da.perform_drift_detection(start, changed).collect())
    assert got == [("a", "", "missing"), ("a", "y", "new")]


def test_drift_with_empty_start_or_end(spark, tmp_path):
    root = str(tmp_path)
    empty = _state(spark, root, "q", [], "t1.json")
    full = _state(spark, root, "q", [("a", "1"), ("b", "2")], "t2.json")
    new = sorted(tuple(r) for r in da.perform_drift_detection(empty, full).collect())
    missing = sorted(tuple(r) for r in da.perform_drift_detection(full, empty).collect())
    assert new == [("a", "1", "new"), ("b", "2", "new")]
    assert missing == [("a", "1", "missing"), ("b", "2", "missing")]
    assert da.perform_drift_detection(empty, empty).collect() == []
