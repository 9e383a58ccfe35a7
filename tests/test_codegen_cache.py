"""The generated-class cache holds a TPC-H pass.

Spark keeps the classes Janino compiles (whole-stage codegen, projections,
predicates) in an LRU of ``spark.sql.codegen.cache.maxEntries`` entries.
One pass of the 22 TPC-H keys needs ~325 of them, more than Spark's
default of 100, so without the engine's setting a repeated pass misses on
nearly every lookup and recompiles ~340 classes.
"""

from __future__ import annotations

import yc_data_proc_metadata_import_spark as engine
from yc_data_proc_metadata_import_spark.session import DEFAULT_CONF, codegen_compiles

QUERIES = engine.queries()

TPCH_KEYS = sorted(k for k in QUERIES if k == "flagship_pricing_summary" or k.startswith("tpch_q"))

# A repeat can still meet a few new plans: AQE re-plans some stages
# (tpch_q8, q20, q21) differently from run to run, and each variant
# compiles once. Ten first repeats at 8 shuffle partitions compiled 0-17
# classes; a thrashing cache recompiles ~340.
MAX_REPEAT_COMPILES = 40


def test_session_uses_default_cache_size(spark):
    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == DEFAULT_CONF[key]


def test_repeated_tpch_pass_does_not_recompile(spark, sf_dir):
    def tpch_pass():
        for key in TPCH_KEYS:
            QUERIES[key](spark, sf_dir).write.mode("overwrite").format("noop").save()

    tpch_pass()
    before = codegen_compiles(spark)
    tpch_pass()
    compiles = codegen_compiles(spark) - before
    assert compiles <= MAX_REPEAT_COMPILES, f"a repeated TPC-H pass compiled {compiles} classes"
