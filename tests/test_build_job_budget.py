"""Construction-job budget for the TPC-H keys and other lazy keys.

Building a TPC-H query's DataFrame must start no Spark job once the
session is warm: every base-table schema is already resolved, and no
query function runs an eager action.  A future eager read, or a scan
whose schema is inferred on every call, fails here instead of quietly
adding jobs to every pass.  ``join_bloom_filtered`` is held to the same
budget: the conf its plan needs is declared on the key, so its frame is
built lazily and executes in the key's own session.
"""

from __future__ import annotations

import pytest

import yc_data_proc_metadata_import_spark as engine

QUERIES = engine.queries()

TPCH_KEYS = sorted(k for k in QUERIES if k == "flagship_pricing_summary" or k.startswith("tpch_q"))


def test_tpch_key_set():
    assert len(TPCH_KEYS) == 22


@pytest.mark.parametrize("key", TPCH_KEYS + ["join_bloom_filtered"])
def test_warm_build_starts_no_job(key, spark, sf_dir, count_jobs):
    QUERIES[key](spark, sf_dir)
    _, jobs = count_jobs(lambda: QUERIES[key](spark, sf_dir))
    assert jobs == 0, f"{key}: a warm build started {jobs} Spark job(s)"


def test_mad_warm_build_job_count(spark, sf_dir, count_jobs):
    """A warm build of the MAD key starts exactly its four materializing
    jobs: the price histogram's and the median's ``utils.materialize``
    (two jobs each, the shuffle-map stage and the result).  The
    histogram's row count comes from that same job; a separate
    ``count()`` for the selection dispatch would add two more."""
    key = "agg_median_absolute_deviation"
    QUERIES[key](spark, sf_dir)
    _, jobs = count_jobs(lambda: QUERIES[key](spark, sf_dir))
    assert jobs == 4, f"{key}: a warm build started {jobs} Spark job(s), want 4"


def test_hard_corpus_sizing_starts_no_job(spark, sf_dir, count_jobs):
    """The hard-topology corpus is sized from the documents table's
    Parquet footers, so building its frame starts no Spark job."""
    from yc_data_proc_metadata_import_spark.llm.dedup import _hard_docs_df

    _, jobs = count_jobs(lambda: _hard_docs_df(spark, sf_dir))
    assert jobs == 0, f"_hard_docs_df started {jobs} Spark job(s)"


# Warm-build job counts of the metastore migration keys.  Export and
# import are catalog calls only: statistics travel as catalog metadata,
# so the import writes them back without scanning the shared data, and
# no key starts a job once its source namespace is built.  That
# driver_map tasks keep the caller's job group is checked in
# tests/test_driver_map.py.
META_JOBS = {"meta_import": 0, "meta_roundtrip": 0, "meta_diff": 0, "meta_export": 0}


@pytest.mark.parametrize("key", sorted(META_JOBS))
def test_meta_warm_build_job_count(key, spark, sf_dir, count_jobs):
    QUERIES[key](spark, sf_dir)
    _, jobs = count_jobs(lambda: QUERIES[key](spark, sf_dir))
    assert jobs == META_JOBS[key], f"{key}: a warm build started {jobs} Spark job(s)"


def test_bucketed_fresh_session_job_count(spark, sf_dir, count_jobs):
    """With its bucketed fixtures on disk, bucketed_join_noshuffle in a
    fresh session (no cached table schema or scan frame) starts only the
    two footer reads that type its tables' DDL, and a warm call starts
    none: it registers its tables over the fixtures and writes nothing."""
    from yc_data_proc_metadata_import_spark.sources.io import load, parquet_schema
    from yc_data_proc_metadata_import_spark.utils import _drop_entries

    key = "bucketed_join_noshuffle"
    QUERIES[key](spark, sf_dir)
    _drop_entries(parquet_schema)
    _drop_entries(load)
    _, jobs = count_jobs(lambda: QUERIES[key](spark, sf_dir))
    assert jobs == 2, f"{key}: a fresh-session build started {jobs} Spark job(s), want 2"
    _, jobs = count_jobs(lambda: QUERIES[key](spark, sf_dir))
    assert jobs == 0, f"{key}: a warm build started {jobs} Spark job(s)"
