"""``utils.driver_map``: results in input order, the first error
re-raised, and every task under its own copy of the caller's local
properties."""

from __future__ import annotations

import threading

import pytest

from yc_data_proc_metadata_import_spark import utils


def test_results_keep_input_order_and_first_error_is_raised(spark):
    assert utils.driver_map(spark, lambda x: x * x, range(10)) == [x * x for x in range(10)]
    assert utils.driver_map(spark, lambda x: x, []) == []

    def fail_on_odd(x):
        if x % 2:
            raise ValueError(x)
        return x

    with pytest.raises(ValueError, match="^1$"):
        utils.driver_map(spark, fail_on_odd, range(6))


def test_each_task_gets_its_own_local_properties(spark, monkeypatch):
    """Task A sets a local property while task B runs; B must not see it.
    Tasks sharing one cloned ``Properties`` object (one wrapper for the
    whole pool) would: that sharing let one task clear the SQL execution
    ids another task was reading."""
    monkeypatch.setattr(utils, "cpu_count", lambda: 2)
    sc = spark.sparkContext
    key = "driver_map.test.owner"
    sc.setLocalProperty("driver_map.test.caller", "yes")
    barrier = threading.Barrier(2, timeout=60)

    def task(name):
        inherited = sc.getLocalProperty("driver_map.test.caller")
        barrier.wait()
        if name == "a":
            sc.setLocalProperty(key, "a")
        barrier.wait()
        seen = sc.getLocalProperty(key)
        barrier.wait()
        return inherited, seen

    try:
        got = utils.driver_map(spark, task, ["a", "b"])
    finally:
        sc.setLocalProperty("driver_map.test.caller", None)
    assert got == [("yes", "a"), ("yes", None)]
    assert sc.getLocalProperty(key) is None
