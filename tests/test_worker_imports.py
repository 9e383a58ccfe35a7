"""Regression guard for the addPyFile worker-import fix: a driver process
that can import the engine only through a patched sys.path (cwd elsewhere,
no $PYTHONPATH) must still run Python-exec keys — workers don't inherit
driver sys.path, so without the registry's addPyFile shipping, the first
mapInPandas key dies with ModuleNotFoundError on the worker.
"""

from __future__ import annotations

import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DRIVER = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
import __spark_entry__ as e

# llm_sim_join runs a mapInPandas GEMM — its workers MUST import the
# package (cloudpickle references it by module path).
n = e.queries()["llm_sim_join"](spark, "/root/testdata/sf0.001").count()
assert n > 0, n
print("WORKER_IMPORT_OK", n)
spark.stop()
"""


def test_python_exec_keys_survive_syspath_only_driver(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _DRIVER.format(repo=_REPO)],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # NOT the repo — cwd must not rescue the import
        env=env,
        timeout=300,
    )
    assert "WORKER_IMPORT_OK" in out.stdout, (
        f"stdout:\n{out.stdout[-2000:]}\nstderr:\n{out.stderr[-2000:]}"
    )


def test_pyfiles_shipped_once_per_application(monkeypatch):
    """The zip is shipped once per Spark application, keyed on its
    ``applicationId``: a context object whose id outlives its
    application (CPython reuses the address of a collected object) must
    still get the zip for the new application."""
    from yc_data_proc_metadata_import_spark import registry

    class _Context:
        applicationId = "app-1"

        def __init__(self):
            self.shipped = []

        def addPyFile(self, path):
            self.shipped.append(path)

    class _Spark:
        sparkContext = _Context()

    monkeypatch.setattr(registry, "_PYFILES_SENT", set())
    spark = _Spark()
    registry._ensure_worker_imports(spark)
    registry._ensure_worker_imports(spark)
    assert len(spark.sparkContext.shipped) == 1
    spark.sparkContext.applicationId = "app-2"
    registry._ensure_worker_imports(spark)
    assert len(spark.sparkContext.shipped) == 2


_SHIP = """
from yc_data_proc_metadata_import_spark import registry

class _Context:
    applicationId = "app"

    def addPyFile(self, path):
        print("SHIPPED", path)

class _Spark:
    sparkContext = _Context()

registry._ensure_worker_imports(_Spark())
"""


def test_processes_share_one_package_zip(tmp_path):
    """The zip is named by the package's contents, so two processes on
    one code version ship the same file and leave one zip behind."""
    env = dict(os.environ, TMPDIR=str(tmp_path))
    shipped = []
    for _ in range(2):
        out = subprocess.run(
            [sys.executable, "-c", _SHIP], capture_output=True, text=True, cwd=_REPO, env=env, timeout=300
        )
        lines = [l for l in out.stdout.splitlines() if l.startswith("SHIPPED ")]
        assert len(lines) == 1, f"stdout:\n{out.stdout[-2000:]}\nstderr:\n{out.stderr[-2000:]}"
        shipped.append(lines[0].split(" ", 1)[1])
    assert shipped[0] == shipped[1]
    assert os.listdir(tmp_path) == [os.path.basename(shipped[0])]
