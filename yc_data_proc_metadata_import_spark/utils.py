"""Engine-wide helpers: exact decimal aggregates, the session caches,
``driver_map`` and ``materialize``.

- ``dsum``/``davg``/``dsum_prod`` and their SQL twins keep Spark and
  DuckDB bit-identical.  Floating-point SUM/AVG depend on accumulation
  order (a 600k-row double sum differs between engines in the last few
  ulps, which a value-hash sees), so sums run exactly in decimal and are
  then cast to double; AVG is exact-sum / count, and variance, stddev
  and corr derive from exact moment sums the same way.
- ``session_cached``/``session_artifact`` hold one value per Spark
  application (the shared derived tables, fitted models, key sessions,
  base-table scans), and ``clear_session_caches`` drops them all.
- ``driver_map`` runs independent catalog round trips on driver threads.
- ``materialize`` is the one way an intermediate is held in memory, and
  its docstring is the one statement of that policy.
"""

from __future__ import annotations

import functools
import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from .session import cpu_count

# Wide enough for sf0.1 money sums (~1e11) with plenty of headroom; scale 4
# preserves cents and tax/discount precision exactly.
DEC = "decimal(28,4)"


def dec(c: str | Column) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(DEC)


def dsum(c: str | Column, alias: str | None = None) -> Column:
    """Exact decimal sum surfaced as double (order-independent bits)."""
    out = F.sum(dec(c)).cast("double")
    return out.alias(alias) if alias else out


def davg(c: str | Column, alias: str | None = None) -> Column:
    """avg = exact-decimal sum / count, evaluated in double."""
    col = F.col(c) if isinstance(c, str) else c
    out = F.sum(dec(col)).cast("double") / F.count(col)
    return out.alias(alias) if alias else out


# Narrower decimal for products: decimal(19,4) x decimal(19,4) ->
# precision 38 exactly, so sums of squares / cross products are still exact
# (used by the stats operators).  19, not 18: DuckDB stores p<=18 decimals
# in int64 and overflows on multiply; p=19 forces its int128 path.
DEC_N = "decimal(19,4)"


def dec_n(c: str | Column) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(DEC_N)


def dsum_prod(a: str | Column, b: str | Column, alias: str | None = None) -> Column:
    """Exact decimal sum of a*b surfaced as double."""
    out = F.sum(dec_n(a) * dec_n(b)).cast("double")
    return out.alias(alias) if alias else out


# SQL-side twins for oracle strings.
def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(28,4))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"(CAST(SUM(CAST({expr} AS DECIMAL(28,4))) AS DOUBLE) / COUNT({expr}))"


def sql_dsum_prod(a: str, b: str) -> str:
    return (
        f"CAST(SUM(CAST({a} AS DECIMAL(19,4)) * CAST({b} AS DECIMAL(19,4))) AS DOUBLE)"
    )


# Every session artifact the engine holds: (owner, applicationId,
# suffix) -> value.  One dict, so long-lived harnesses (the scale rungs
# run 40+ keys in ONE session) can drop every cached artifact at once:
# cached DataFrames pin their localCheckpoint/persisted blocks via the
# py4j reference, and 40 keys of pinned blocks ground an 8 GB driver
# heap into GC thrash (measured r17: llm_ann_ivf 42 s fresh vs 117 s as
# the rung's 37th key, then an invariance-pass OOM two entries later).
_SESSION_ARTIFACTS: dict[tuple, object] = {}
# Guards the dict's mutations: harnesses build keys from several
# threads, and evicting (which iterates the dict) while another thread
# inserts raises "dictionary changed size during iteration".  Builds run
# outside it, so one slow build never blocks another thread's.
_CACHE_LOCK = threading.Lock()


def session_cached(owner, spark, suffix, build):
    """Get-or-build the value ``owner`` keeps for ``suffix`` in this
    Spark application.

    Keys on ``spark.sparkContext.applicationId`` — NEVER ``id(spark)``:
    CPython reuses object ids after GC, so a new session allocated at a
    dead session's address could be served a DataFrame bound to the
    stopped context (round-5 ADVICE).  ``newSession()`` children share
    the application id, so they share the entries.  Entries from other
    application ids are evicted on insert — they reference dead contexts
    and would otherwise leak.  ``session_artifact`` builders,
    ``sources.io.parquet_schema``, ``sources.io.load`` (whose suffix
    carries the session's UUID, so each session gets its own scan
    frames) and ``registry._key_session`` (the sessions batch keys run
    in) are the owners.
    """
    app_id = spark.sparkContext.applicationId
    key = (owner, app_id, suffix)
    cached = _SESSION_ARTIFACTS.get(key)
    if cached is None:
        cached = build()
        with _CACHE_LOCK:
            for k in [k for k in _SESSION_ARTIFACTS if k[1] != app_id]:
                del _SESSION_ARTIFACTS[k]
            _SESSION_ARTIFACTS[key] = cached
    return cached


def _drop_entries(owner=None) -> int:
    """Drop ``owner``'s entries (every entry when None); returns the count."""
    with _CACHE_LOCK:
        keys = [k for k in _SESSION_ARTIFACTS if owner is None or k[0] is owner]
        for k in keys:
            del _SESSION_ARTIFACTS[k]
    return len(keys)


def session_artifact(builder):
    """Build ``builder(spark, sf_dir)`` once per Spark application and
    source-data version, then hand back the same value.

    For the shared derived inputs several keys consume (token and
    shingle tables, fingerprints, label tables, the k-means fit,
    codebooks).  The entry is keyed on ``sf_tag(sf_dir)``, the content
    fingerprint every derived disk fixture is keyed on, so testdata
    regenerated under the same path rebuilds the artifact instead of
    serving the old one.  ``cache_clear()`` drops the builder's entries,
    in the ``functools`` style.
    """

    @functools.wraps(builder)
    def cached(spark, sf_dir: str):
        # sources.io imports this module, so it is imported here.
        from .sources.io import sf_tag

        return session_cached(
            builder, spark, sf_tag(sf_dir), lambda: builder(spark, sf_dir)
        )

    cached.cache_clear = lambda: _drop_entries(builder)
    return cached


def clear_session_caches() -> int:
    """Drop every session artifact, cached Parquet schema, cached scan
    frame and key session; returns the entry count dropped. The caller
    should follow with gc.collect() (and a JVM GC) so the ContextCleaner
    actually releases the pinned blocks."""
    return _drop_entries()


def driver_map(spark, fn, items) -> list:
    """``[fn(x) for x in items]`` on at most ``session.cpu_count()`` driver
    threads: results in input order, the first error (in input order)
    re-raised and the tasks not yet started cancelled.

    For independent catalog round trips, which wait on the metastore and
    py4j, not on Python.  Each task runs under its own clone of the
    caller's local properties and session tags, so the jobs it starts
    carry the caller's job group.  The clone is per task, never per
    pool: tasks sharing one JVM ``Properties`` object race on the keys
    Spark sets and clears per query (a task reading
    ``spark.sql.execution.root.id`` while another clears it fails with
    ``NumberFormatException``)."""
    items = list(items)
    if not items:
        return []
    with ThreadPoolExecutor(max_workers=min(cpu_count(), len(items))) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn), x) for x in items]
        try:
            return [f.result() for f in futures]
        finally:
            for f in futures:
                f.cancel()


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """``(frame, rows)``: ``df`` stored once, and its row count.

    The engine's one way to hold an intermediate: a shared session
    artifact, a loop-invariant input or a loop's per-round state.  An
    eager ``localCheckpoint`` at the default storage level builds it,
    and an ``Observation`` on that same action counts the rows, so a
    caller that dispatches on the size runs no ``count()`` of its own.
    The policy:

    - lineage is truncated: consumers, and the next round of a loop,
      plan against the stored blocks, never against the pipeline that
      built them;
    - the blocks are executor-local and cannot be recomputed if an
      executor is lost.  That is acceptable because every engine session
      is a single-process ``local[N]`` application: its executor lives
      and dies with the driver;
    - the frame keeps its origin plan's size estimate (a checkpoint
      inherits its origin's statistics, which can overstate the stored
      bytes many times over), so joins that must broadcast a
      materialized frame say so with an explicit hint.

    The default level is kept on measurement: building 3M rows and
    scanning them three times (PySpark 4.1, 4-vCPU host) was faster at
    it than at serialized ``MEMORY_AND_DISK`` or ``DISK_ONLY``.
    """
    rows = Observation()
    out = df.observe(rows, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return out, rows.get["n"]
