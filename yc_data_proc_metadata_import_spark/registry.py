"""Query/oracle registry backing the driver contract (__spark_entry__.py).

Every operator module registers its ``queries()`` keys here via the
``@query`` decorator.  A key maps to a callable ``(spark, sf_dir) ->
DataFrame``; when an ANSI-SQL oracle exists it is registered alongside so
the driver can hash-compare against DuckDB at sf0.01 (SURVEY.md SS5).

Convention enforced here: every registered callable first pins the session
timezone to UTC (timestamps in pyspark render in session TZ; DuckDB's are
UTC-naive — without this, any timestamp column hash-mismatches).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# Keys registered with prewarm=True, in registration order.
PREWARM: list[str] = []

# applicationIds whose context has the package zip (see session_cached
# for why never id(sc)).
_PYFILES_SENT: set[str] = set()


def _ensure_worker_imports(spark: SparkSession) -> None:
    """Ship this package to the Python workers (once per SparkContext).

    cloudpickle serializes module-level functions BY REFERENCE, so every
    pandas-UDF / mapInPandas / applyInPandasWithState worker must be able
    to ``import yc_data_proc_metadata_import_spark`` itself. A driver
    process that found the package via a patched ``sys.path`` (instead of
    cwd or $PYTHONPATH, which workers inherit) would otherwise die with
    ModuleNotFoundError on the first Python-exec key. ``addPyFile`` of a
    package zip is the canonical fix and also exactly how this library
    deploys to a real cluster (``spark-submit --py-files``).

    Keyed on ``applicationId``, the rule ``utils.session_cached`` states:
    CPython reuses object ids after GC, so a new context allocated at a
    stopped one's address would otherwise never get the zip.
    """
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _PYFILES_SENT:
        return
    import os
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"yc_dp_engine_pyfiles_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for root, _, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        z.write(full, rel)
        os.replace(tmp, zpath)
    sc.addPyFile(zpath)
    _PYFILES_SENT.add(app_id)


def _ntz_type(dt):
    """Recursively rewrite TIMESTAMP (LTZ) to TIMESTAMP_NTZ in a DataType.

    Why: the driver's value-hash is computed over the Arrow representation
    (proved twice — round 2 ``agg_bool``: DuckDB HUGEINT arrives as
    decimal128(38,0) vs Spark int64; round 3 ``scan_typed_columns``:
    identical collect() values but Spark TIMESTAMP_LTZ arrives as
    ``timestamp[us, tz=UTC]`` while DuckDB's naive TIMESTAMP arrives as
    ``timestamp[us]``).  DuckDB timestamps are NTZ semantically, so every
    result-surface timestamp must leave Spark as TIMESTAMP_NTZ.  Session
    timezone is pinned to UTC, so the LTZ->NTZ cast preserves wall-clock
    values exactly.
    """
    from pyspark.sql import types as T

    if isinstance(dt, T.TimestampType):
        return T.TimestampNTZType()
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_ntz_type(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _ntz_type(dt.keyType), _ntz_type(dt.valueType), dt.valueContainsNull
        )
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _ntz_type(f.dataType), f.nullable, f.metadata)
                for f in dt.fields
            ]
        )
    return dt


def _normalize_result_types(df: DataFrame) -> DataFrame:
    """Cast any (possibly nested) LTZ timestamp column to NTZ."""
    from pyspark.sql import functions as F

    replaced = False
    cols = []
    for f in df.schema.fields:
        new_dt = _ntz_type(f.dataType)
        if new_dt == f.dataType:
            cols.append(F.col(f.name))
        else:
            replaced = True
            cols.append(F.col(f.name).cast(new_dt).alias(f.name))
    return df.select(*cols) if replaced else df


def query(
    name: str, oracle: str | None = None, prewarm: bool = False
) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name``; optionally attach a DuckDB oracle.

    ``prewarm=True`` declares that the key's first call builds a one-time
    derived fixture under ``.scratch/`` (through ``sources.io._materialize``,
    the one locked build path, so concurrent first calls build it once)
    or a session artifact (``utils.session_artifact``) that other keys
    share.
    That build is input preparation, not the operator under test, so
    ``bench.py`` runs these keys once, unmeasured, before its timed loop.
    """

    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str, *args: Any, **kwargs: Any) -> DataFrame:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            # The driver hands us a session we didn't build; Spark 4
            # defaults ANSI ON while this engine (and the reference's
            # Hive-era clusters, metastore-import.tf:193) assume
            # permissive casts/arithmetic.
            spark.conf.set("spark.sql.ansi.enabled", "false")
            _ensure_worker_imports(spark)
            return _normalize_result_types(fn(spark, sf_dir, *args, **kwargs))

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn
        if name in QUERIES:
            raise ValueError(f"duplicate queries() key: {name}")
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        if prewarm:
            PREWARM.append(name)
        return fn

    return deco


def get(name: str) -> QueryFn:
    return QUERIES[name]


def run(spark: SparkSession, sf_dir: str, name: str, **kwargs: Any) -> DataFrame:
    return QUERIES[name](spark, sf_dir, **kwargs)
