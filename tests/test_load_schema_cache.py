"""``sources.io.load`` returns one resolved scan per session and
table-file version, built with the table's Parquet schema, which is
inferred once per application and file version.

Inference starts one footer-reading Spark job per read, and resolving a
scan (data source lookup, file listing) costs py4j round trips on every
call; these tests pin that the cached schema is the one inference gives,
that a repeated load returns the same frame and starts no job, that each
session gets a frame of its own, that a rewritten table file or a
replaced staged directory re-infers and re-scans (a stale schema or file
listing is never served), that a self-join of one cached frame is
correct, and that ``clear_session_caches`` drops the entries, which
share one thread-safe cache with the ``session_artifact`` builders.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from yc_data_proc_metadata_import_spark.sources import io
from yc_data_proc_metadata_import_spark.sources.io import TABLES, load, load_documents_wide, table_path
from yc_data_proc_metadata_import_spark.utils import (
    clear_session_caches,
    session_artifact,
    session_cached,
)


def _events_ts_converted(df):
    """The logical ``events.ts`` that ``load`` documents, applied to a
    plain read."""
    if df.schema["ts"].dataType.simpleString() == "timestamp":
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def test_cached_schema_equals_inferred_schema(spark, sf_dir):
    for name in TABLES:
        got = load(spark, sf_dir, name).schema
        plain = spark.read.parquet(table_path(sf_dir, name))
        if name == "events":
            plain = _events_ts_converted(plain)
        assert got == plain.schema, name


def test_documents_wide_schema_matches_its_files(spark, sf_dir):
    """The staged ``docs_wide`` layout is read with the ``documents``
    schema; inferring it from the staged files gives the same one."""
    if spark.sparkContext.defaultParallelism <= 1:
        pytest.skip("a one-core session reads documents unstaged")
    wide = load_documents_wide(spark, sf_dir)
    staged = os.path.dirname(wide.inputFiles()[0])
    assert spark.read.parquet(staged).schema == wide.schema


def test_second_load_starts_no_job(spark, sf_dir, count_jobs):
    for name in TABLES:
        first = load(spark, sf_dir, name)
        # Resolving the given schema (events' ts dispatch does) starts none either.
        _, jobs = count_jobs(lambda: load(spark, sf_dir, name).schema)
        assert jobs == 0, f"{name}: second load started {jobs} job(s)"
        assert load(spark, sf_dir, name) is first, f"{name}: second load built a new frame"


def test_key_session_gets_its_own_frame(spark, sf_dir):
    """A frame executes under the conf of the session that built it, so a
    batch key's ``newSession()`` child never gets the caller's frame."""
    from yc_data_proc_metadata_import_spark import queries
    from yc_data_proc_metadata_import_spark.registry import _key_session

    def uuid(session):
        return session._jsparkSession.sessionUUID()

    caller = load(spark, sf_dir, "nation")
    child = _key_session(spark, ())
    assert uuid(child) != uuid(spark)
    own = load(child, sf_dir, "nation")
    assert own is not caller
    assert uuid(own.sparkSession) == uuid(child)
    assert load(child, sf_dir, "nation") is own
    built = queries()["scan_parquet"](spark, sf_dir)
    assert uuid(built.sparkSession) == uuid(child)


def test_rewritten_table_reinfers(spark, sf_dir, tmp_path, count_jobs):
    src = table_path(sf_dir, "region")
    path = table_path(str(tmp_path), "region")
    shutil.copyfile(src, path)
    before = load(spark, str(tmp_path), "region").schema

    # Different schema: the new column must show, never the stale schema.
    table = pq.read_table(src)
    pq.write_table(table.append_column("r_extra", pa.array(range(table.num_rows))), path)
    df, jobs = count_jobs(lambda: load(spark, str(tmp_path), "region"))
    assert jobs >= 1
    assert df.columns == before.names + ["r_extra"]
    assert df.agg(F.sum("r_extra")).first()[0] == sum(range(table.num_rows))

    # Same schema, different size: re-inferred as well, and the rows are
    # the new file's, not the old frame's file listing.
    doubled = pa.concat_tables([table, table])
    pq.write_table(doubled, path)
    df, jobs = count_jobs(lambda: load(spark, str(tmp_path), "region"))
    assert jobs >= 1
    assert df.schema == before
    assert sorted(tuple(r) for r in df.collect()) == sorted(
        tuple(r.values()) for r in doubled.to_pylist()
    )


def test_replaced_directory_reinfers(spark, tmp_path):
    """Staged stream sources are directories swapped for rebuilt ones."""
    table = pa.table({"k": [1, 2, 3]})
    staged = tmp_path / "staged"
    staged.mkdir()
    pq.write_table(table, staged / "part-0.parquet")
    assert io.parquet_schema(spark, str(staged)).names == ["k"]

    rebuilt = tmp_path / "rebuilt"
    rebuilt.mkdir()
    pq.write_table(table.append_column("v", pa.array(["a", "b", "c"])), rebuilt / "part-0.parquet")
    shutil.rmtree(staged)
    os.rename(rebuilt, staged)
    assert io.parquet_schema(spark, str(staged)).names == ["k", "v"]


def test_self_join_of_one_cached_frame(spark, sf_dir, oracle):
    """Two loads of one table in one session are one frame, which a
    self-join must tell apart by alias, as ``tpch_q7`` does."""
    a = load(spark, sf_dir, "nation").alias("a")
    b = load(spark, sf_dir, "nation").alias("b")
    got = a.join(b, F.col("a.n_regionkey") == F.col("b.n_regionkey")).count()
    want = oracle.execute(
        "SELECT count(*) FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey"
    ).fetchone()[0]
    assert got == want


def test_clear_session_caches_drops_schemas(spark, sf_dir, count_jobs):
    load(spark, sf_dir, "nation")
    _, jobs = count_jobs(lambda: load(spark, sf_dir, "nation"))
    assert jobs == 0
    assert clear_session_caches() >= 1
    _, jobs = count_jobs(lambda: load(spark, sf_dir, "nation"))
    assert jobs >= 1


class _Spark:
    """Stands in for a session: the cache reads only the application id."""

    class sparkContext:
        applicationId = "app"


def test_session_cached_is_thread_safe():
    """Harnesses build keys from several threads, and every ``load()``
    goes through the one session cache: concurrent inserts, each scanning
    the cache to evict dead applications' entries, must neither raise
    nor lose entries."""
    clear_session_caches()
    errors: list = []

    def insert(t):
        try:
            for i in range(500):
                session_cached(insert, _Spark, (t, i), lambda: i)
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=insert, args=(t,)) for t in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert clear_session_caches() == 16 * 500


def test_session_artifact_builds_once_per_application(tmp_path):
    """A ``session_artifact`` builder runs once per (application, source
    fingerprint); ``cache_clear()`` drops only its own entries, and an
    insert from another application evicts the dead one's entries."""
    calls: list = []

    @session_artifact
    def built(spark, sf_dir):
        calls.append(spark.sparkContext.applicationId)
        return object()

    class _Other:
        class sparkContext:
            applicationId = "other-app"

    sf = str(tmp_path)
    session_cached("schemas", _Spark, "path", lambda: 1)
    first = built(_Spark, sf)
    assert built(_Spark, sf) is first and calls == ["app"]
    assert built.cache_clear() == 1
    assert built(_Spark, sf) is not first and calls == ["app", "app"]
    built(_Other, sf)
    # the other application's insert evicted both "app" entries
    assert clear_session_caches() == 1
