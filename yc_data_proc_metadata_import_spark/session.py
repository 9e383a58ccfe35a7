"""SparkSession builder.

The reference provisions stock Spark clusters and sets exactly one Spark
property: ``spark.sql.hive.metastore.sharedPrefixes =
"com.amazonaws,ru.yandex.cloud"`` (metastore-import.tf:198-201, :247-250),
needed so the Hive-metastore client's isolated classloader can see the
S3/cloud SDK classes.  We keep that as a passthrough slot: callers can hand
any config dict through ``extra_conf`` and the defaults mirror a sane
100 TB-era cluster setup (AQE on, skew-join handling on, Arrow on) scaled
down to local mode.

A session handed in from outside keeps its own conf: the registry builds
and runs every batch key in a ``newSession()`` child that carries
``DEFAULT_CONF``'s runtime-modifiable entries plus the key's declared conf
(``registry._key_session``), so no key writes the caller's ``SET``
output.  Stream keys run on the caller's session; the registry pins its
time zone and ANSI mode, and ``conf_scope`` holds a drain's conf for the
drain only.

Scale notes (local[32] today, 1000-executor cluster tomorrow):
- ``spark.sql.adaptive.enabled`` + coalescePartitions + skewJoin: runtime
  re-planning is how a fixed shuffle-partition count survives a 100x data
  change.
- ``spark.sql.shuffle.partitions`` is set to a small local value but AQE
  coalescing makes the exact number non-critical; on a real cluster set it
  to ~2-3x total cores and let AQE coalesce.
- Arrow execution keeps the pandas-UDF path (the only Python hot path we
  allow) batched instead of per-row.
- ``spark.sql.codegen.cache.maxEntries`` sizes the cache of classes that
  Janino compiles for whole-stage codegen, projections and predicates.
  A session that reruns the same plan shapes (the warehouse queries the
  reference's two clusters serve) should compile each one once. The size
  comes from the registry's own working set: ~2,480 classes for one pass
  of all 287 keys, against Spark's default of 100. It is a static conf,
  fixed when the JVM starts, so a session built elsewhere keeps its own
  value. Holding the whole registry costs ~60 MB of heap and ~17 MB of
  Metaspace.
- ``spark.python.sql.dataFrameDebugging.enabled`` is off.  When on,
  PySpark wraps every DataFrame and Column API call to record its Python
  call site for error messages: an active-session lookup, a conf read
  and a JVM origin set and clear, each a py4j round trip.  Building the
  22 TPC-H frames warm made 11,435 round trips, 7,020 of them this
  wrapper's.  The cost of turning it off: an error raised by a DataFrame
  API call no longer names the engine's Python line in its query
  context; errors in SQL text keep theirs.  It is a static conf, fixed
  when the JVM starts, and PySpark reads it once per process, so a
  session built elsewhere keeps its own value.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# The single engine config the reference sets (metastore-import.tf:200).
REFERENCE_SHARED_PREFIXES = "com.amazonaws,ru.yandex.cloud"

DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Parquet scans: vectorized reader + pushdown are on by default; pin
    # them so a misconfigured parent session can't silently disable them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # ANSI off: match the permissive Hive/Spark-3.0.2 semantics of the
    # clusters the reference provisions (metastore-import.tf:193).
    "spark.sql.ansi.enabled": "false",
    "spark.sql.hive.metastore.sharedPrefixes": REFERENCE_SHARED_PREFIXES,
    # Generated-class cache (whole-stage codegen, projections, predicates),
    # an LRU of this many entries; Spark's default is 100. One pass of the
    # 22 TPC-H keys needs ~325 distinct classes, one curation pass ~135 and
    # all 287 registered keys ~2,480 at sf0.001, so at 100 a repeated pass
    # misses on nearly every lookup and Janino recompiles every class.
    # 4096 holds the whole registry with headroom. Static SQL conf: it
    # takes effect only when get_spark creates the JVM. Cost with all 287
    # keys cached: ~+60 MB heap after GC, ~+17 MB Metaspace.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # Call-site capture for DataFrame API errors, on by default: each
    # DataFrame or Column call then costs an active-session lookup, a conf
    # read and a JVM origin set and clear in py4j round trips (Spark's own
    # doc calls the overhead non-trivial). Off, a warm build of the 22
    # TPC-H keys makes 4,415 round trips instead of 11,435. The cost: a
    # DataFrame API error no longer names the engine's Python line in its
    # query context; SQL-text errors keep theirs. Static conf: it takes
    # effect only when get_spark creates the JVM, and PySpark reads it
    # once per process.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "yc-dp-metadata-import-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    warehouse_dir: str | None = None,
    enable_hive: bool = False,
) -> SparkSession:
    """Build (or fetch) a configured SparkSession.

    ``enable_hive`` attaches a persistent (Derby-backed) catalog, the local
    stand-in for the managed Hive Metastore the reference talks to over
    thrift:9083 (metastore-import.tf:112-117).
    """
    cpus = cpu_count()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    # NOTE: driver memory only takes effect when THIS call creates the JVM;
    # getOrCreate() against an already-running session silently ignores it
    # (set it via spark-submit/env in that case — ADVICE.md round 1).
    conf["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    if warehouse_dir:
        conf["spark.sql.warehouse.dir"] = warehouse_dir
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    if enable_hive:
        builder = builder.enableHiveSupport()
    return builder.getOrCreate()


@contextmanager
def conf_scope(spark: SparkSession, conf: dict[str, str]):
    """Hold ``conf`` on the session for the ``with`` block (the stream
    drains' conf; a batch key declares its conf on ``@query`` instead).

    On exit each key gets its previous value back, or is unset if it was not
    set before, so the caller's ``SET`` output is what it was. SQL conf is
    read when a frame executes, so a frame that needs these values must run
    inside the block."""
    was_set = spark.conf.getAll
    prev = {k: was_set[k] for k in conf if k in was_set}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k in conf:
            if k in prev:
                spark.conf.set(k, prev[k])
            else:
                spark.conf.unset(k)


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles this JVM has run so far: the sample count of Spark's
    ``CodegenMetrics.METRIC_COMPILATION_TIME``. A cache hit in the
    generated-class cache adds nothing, so the delta over a pass counts its
    cache misses."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
