"""``session.run_concurrently``: submission order, error propagation after
every action finished, no pool for no work, and local-property
inheritance."""

from __future__ import annotations

import threading
import time

import pytest

from cartography_spark import session
from cartography_spark.session import run_concurrently


def test_results_keep_submission_order(spark):
    # later thunks finish first
    thunks = [lambda i=i: (time.sleep(0.05 * (4 - i)), i)[1] for i in range(5)]
    assert run_concurrently(spark, thunks) == [0, 1, 2, 3, 4]


def test_first_error_in_submission_order_after_all_finish(spark):
    finished = threading.Event()

    def slow_fail():
        time.sleep(0.2)
        raise KeyError("first")

    def fast_fail():
        raise ValueError("second")

    def slow_ok():
        time.sleep(0.4)
        finished.set()
        return "ok"

    with pytest.raises(KeyError, match="first"):
        run_concurrently(spark, [slow_fail, fast_fail, slow_ok])
    assert finished.is_set()


def test_empty_input_starts_no_pool(spark, monkeypatch):
    def no_pool(*args, **kwargs):
        raise AssertionError("pool started for no work")

    monkeypatch.setattr(session, "ThreadPoolExecutor", no_pool)
    assert run_concurrently(spark, []) == []
    assert run_concurrently(spark, iter(())) == []


def test_local_properties_reach_the_threads(spark):
    sc = spark.sparkContext
    key = "cartography.test.prop"
    sc.setLocalProperty(key, "caller-value")
    try:
        got = run_concurrently(spark, [lambda: sc.getLocalProperty(key)] * 3)
    finally:
        sc.setLocalProperty(key, None)
    assert got == ["caller-value"] * 3
