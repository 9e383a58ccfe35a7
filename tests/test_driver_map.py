"""``utils`` helpers.

``driver_map``: results in input order, the first error re-raised, and
every task under its own copy of the caller's local properties.

``materialize``: the rows it returns are the frame's, it costs exactly
the jobs of the checkpoint it wraps, and it is the engine's only way to
store a frame."""

from __future__ import annotations

import ast
import threading
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from yc_data_proc_metadata_import_spark import utils

ENGINE = Path(utils.__file__).parent


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


def _grouped(spark):
    """A fresh frame with a shuffle, so a build is more than one job."""
    return spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()


def test_materialize_counts_rows_in_the_checkpoint_jobs(spark, count_jobs):
    (out, rows), jobs = count_jobs(lambda: utils.materialize(_grouped(spark)))
    _, bare = count_jobs(lambda: _grouped(spark).localCheckpoint(eager=True))
    assert rows == out.count() == 7
    assert jobs == bare, f"materialize started {jobs} jobs, a bare checkpoint {bare}"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan and "Exchange" not in plan, plan


def test_materialize_of_an_empty_frame_returns_zero_rows(spark):
    out, rows = utils.materialize(_grouped(spark).where(F.col("k") < 0))
    assert rows == 0 and out.count() == 0


# The only places the engine stores a frame other than through
# ``materialize``: (module, top-level function, method).
# - _propagate_min_labels persists each round's label table over its
#   checkpoint for the real plan statistics the cached relation carries;
# - merge_scd2_apply's lazy checkpoint is reuse inside the key's one
#   plan, filled by the job that executes it.
STORE_METHODS = {"localCheckpoint", "checkpoint", "persist", "cache"}
ALLOWED_STORES = [
    ("llm/dedup.py", "_propagate_min_labels", "persist"),
    ("operators/joins.py", "merge_scd2_apply", "localCheckpoint"),
    ("utils.py", "materialize", "localCheckpoint"),
]


def test_materialize_is_the_only_store_call_in_the_engine():
    found = []
    for path in sorted(ENGINE.rglob("*.py")):
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in STORE_METHODS
                ):
                    module = path.relative_to(ENGINE).as_posix()
                    owner = getattr(top, "name", "<module>")
                    found.append((module, owner, node.func.attr))
    assert sorted(found) == ALLOWED_STORES
