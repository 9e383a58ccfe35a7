"""Every registered query with an oracle must match DuckDB exactly —
the local twin of the driver's CORRECTNESS gate (rows + schema + values).

As of round 2 every key carries an oracle (ORACLE_KEYS == all keys); the
rows-only fallback test remains so a future oracle-less key still gets a
runs-and-returns check rather than silently no coverage.

Each key is also checked for what it leaves in the caller's session: a
batch key builds and runs in the engine's own session, so the caller's
``SET`` output and temp views are unchanged; a stream key runs on the
caller's session and may set only the time zone and ANSI mode and
replace its own memory-sink view (``mem_*``).
"""

from __future__ import annotations

import pytest

import yc_data_proc_metadata_import_spark as engine
from yc_data_proc_metadata_import_spark.registry import _STREAM_MODULE

from .compare import assert_match

QUERIES = engine.queries()
ORACLES = engine.oracle_sql()

ORACLE_KEYS = sorted(k for k in QUERIES if k in ORACLES)
ROWS_ONLY_KEYS = sorted(k for k in QUERIES if k not in ORACLES)

_STREAM_CONF = {"spark.sql.session.timeZone", "spark.sql.ansi.enabled"}


def _caller_state(spark):
    conf = {r.key: r.value for r in spark.sql("SET").collect()}
    views = {r.tableName for r in spark.sql("SHOW TABLES").collect() if r.isTemporary}
    return conf, views


def _assert_caller_untouched(key, spark, before):
    (conf0, views0), (conf1, views1) = before, _caller_state(spark)
    changed = {k for k in conf0.keys() | conf1.keys() if conf0.get(k) != conf1.get(k)}
    if QUERIES[key].__module__ == _STREAM_MODULE:
        assert changed <= _STREAM_CONF, f"{key} changed the caller's conf: {changed}"
        added = views1 - views0
        assert views0 <= views1 and len(added) <= 1, f"{key}: caller views {views0} -> {views1}"
        assert all(v.startswith("mem_") for v in added), f"{key} added views {added}"
    else:
        assert not changed, f"{key} changed the caller's conf: {changed}"
        assert views1 == views0, f"{key} changed the caller's temp views: {views0 ^ views1}"


@pytest.mark.parametrize("key", ORACLE_KEYS)
def test_oracle_parity(key, spark, sf_dir, oracle):
    before = _caller_state(spark)
    df = QUERIES[key](spark, sf_dir)
    assert_match(df, oracle, ORACLES[key], key)
    _assert_caller_untouched(key, spark, before)


@pytest.mark.parametrize("key", ROWS_ONLY_KEYS or ["<none>"])
def test_rows_only_runs(key, spark, sf_dir):
    if key == "<none>":
        assert not ROWS_ONLY_KEYS  # all keys oracle-checked — nothing to do
        return
    before = _caller_state(spark)
    df = QUERIES[key](spark, sf_dir)
    assert df.columns, f"{key}: empty schema"
    n = df.count()
    assert n >= 0
    _assert_caller_untouched(key, spark, before)
