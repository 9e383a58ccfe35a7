"""Query/oracle registry backing the driver contract (__spark_entry__.py).

Every operator module registers its ``queries()`` keys here via the
``@query`` decorator.  A key maps to a callable ``(spark, sf_dir) ->
DataFrame``; when an ANSI-SQL oracle exists it is registered alongside so
the driver can hash-compare against DuckDB at sf0.01 (SURVEY.md SS5).

Session contract: a batch key builds its frame in the engine's own
session, never in the caller's.  That session is one ``newSession()``
child per Spark application and declared conf (``_key_session``): it
carries ``session.DEFAULT_CONF``'s runtime-modifiable entries (UTC
session time zone, ANSI off, AQE on) plus the conf the key declares with
``@query(..., conf={...})``.  The frame executes as built: its actions
run under the child's conf, temp views and session variables it creates
stay in the child, and the caller's ``SET`` output and temp views are
left as they were.  A frame derived from a caller frame and a key's
frame (``caller_df.join(key_df)``) belongs to the session of the frame
its first operation was called on, here the caller's, and executes
under that session's conf.

The 15 stream keys (``streaming/stream_queries.py``) stay on the
caller's session, because streaming listeners are per session (a drain
in a child is invisible to the caller's ``spark.streams`` listeners).
Their wrapper pins the caller's time zone to UTC and ANSI off, and
their drains hold the rest of their conf with ``session.conf_scope``.

Every result-surface timestamp leaves as TIMESTAMP_NTZ
(``_normalize_result_types``): DuckDB's timestamps are UTC-naive.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .session import DEFAULT_CONF
from .utils import session_cached

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# Keys registered with prewarm=True, in registration order.
PREWARM: list[str] = []

# The module every stream key registers from; its keys stay on the
# caller's session.
_STREAM_MODULE = f"{__package__}.streaming.stream_queries"

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

    The zip is named by a digest of the package's ``.py`` contents, so
    every process on one code version ships the same file and leaves no
    copy of its own.  It is staged under a per-process name and renamed
    into place, so no reader sees a partial zip.

    Keyed on ``applicationId``, the rule ``utils.session_cached`` states:
    CPython reuses object ids after GC, so a new context allocated at a
    stopped one's address would otherwise never get the zip.
    """
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _PYFILES_SENT:
        return
    import hashlib
    import os
    import pathlib
    import tempfile
    import zipfile

    pkg = pathlib.Path(__file__).resolve().parent
    files = sorted(p.relative_to(pkg.parent) for p in pkg.rglob("*.py"))
    h = hashlib.sha256()
    for rel in files:
        h.update(f"{rel}\0".encode() + (pkg.parent / rel).read_bytes() + b"\0")
    zpath = os.path.join(tempfile.gettempdir(), f"yc_dp_engine_pyfiles_{h.hexdigest()[:16]}.zip")
    if not os.path.exists(zpath):
        tmp = f"{zpath}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for rel in files:
                z.write(pkg.parent / rel, str(rel))
        os.replace(tmp, zpath)
    sc.addPyFile(zpath)
    _PYFILES_SENT.add(app_id)


def _key_session(spark: SparkSession, conf: tuple[tuple[str, str], ...]) -> SparkSession:
    """The session batch keys declaring ``conf`` build and run in: one
    ``spark.newSession()`` child per Spark application and ``conf``.

    The child shares the caller's SparkContext, catalog and cached data
    and starts from the application's SparkConf (so it keeps the
    builder's ``shuffle.partitions``).  On top it gets the
    runtime-modifiable entries of ``DEFAULT_CONF``, then ``conf``.  The
    static entries (``codegen.cache.maxEntries``) are fixed when the JVM
    starts, so under a session the engine did not build they keep the
    builder's values."""

    def build() -> SparkSession:
        child = spark.newSession()
        for k, v in (*DEFAULT_CONF.items(), *conf):
            if child.conf.isModifiable(k):
                child.conf.set(k, v)
        return child

    return session_cached(_key_session, spark, conf, build)


def _ntz_type(dt):
    """Recursively rewrite TIMESTAMP (LTZ) to TIMESTAMP_NTZ in a DataType.

    Why: the driver's value-hash is computed over the Arrow representation
    (proved twice — round 2 ``agg_bool``: DuckDB HUGEINT arrives as
    decimal128(38,0) vs Spark int64; round 3 ``scan_typed_columns``:
    identical collect() values but Spark TIMESTAMP_LTZ arrives as
    ``timestamp[us, tz=UTC]`` while DuckDB's naive TIMESTAMP arrives as
    ``timestamp[us]``).  DuckDB timestamps are NTZ semantically, so every
    result-surface timestamp must leave Spark as TIMESTAMP_NTZ.  Every key
    runs under a UTC session time zone, so the LTZ->NTZ cast preserves
    wall-clock values exactly.
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
    name: str, oracle: str | None = None, prewarm: bool = False, conf: dict[str, str] | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name``; optionally attach a DuckDB oracle.

    A batch key's frame is built in ``_key_session(spark, conf)`` and
    executes as built: under ``DEFAULT_CONF`` plus ``conf``, whatever the
    caller's session has set.  ``conf`` is the SQL conf the key needs at
    build or execution time.  Stream keys run on the caller's session, and
    their drains hold their conf with ``session.conf_scope``.

    ``prewarm=True`` declares that the key's first call builds a one-time
    derived fixture under ``.scratch/`` (through ``sources.io._materialize``,
    the one locked build path, so concurrent first calls build it once)
    or a session artifact (``utils.session_artifact``) that other keys
    share.
    That build is input preparation, not the operator under test, so
    ``bench.py`` runs these keys once, unmeasured, before its timed loop.
    """
    key_conf = tuple(sorted((conf or {}).items()))

    def deco(fn: QueryFn) -> QueryFn:
        stream = fn.__module__ == _STREAM_MODULE

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str, *args: Any, **kwargs: Any) -> DataFrame:
            if stream:
                spark.conf.set("spark.sql.session.timeZone", "UTC")
                # A caller's session may not be ours; Spark 4
                # defaults ANSI ON while this engine (and the reference's
                # Hive-era clusters, metastore-import.tf:193) assume
                # permissive casts/arithmetic.
                spark.conf.set("spark.sql.ansi.enabled", "false")
            else:
                spark = _key_session(spark, key_conf)
            _ensure_worker_imports(spark)
            return _normalize_result_types(fn(spark, sf_dir, *args, **kwargs))

        if name in QUERIES:
            raise ValueError(f"duplicate queries() key: {name}")
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        if prewarm:
            PREWARM.append(name)
        return fn

    return deco

