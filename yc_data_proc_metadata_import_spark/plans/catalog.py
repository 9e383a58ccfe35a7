"""Catalog DDL operators (SURVEY.md SS2.2) — the reference's purpose.

The reference provisions two Spark/Hive clusters over one object-storage
bucket and demonstrates catalog operations against shared data
(reference: README_en.md:3; services metastore-import.tf:196; shared
bucket metastore-import.tf:165-179,185,234). Here the "bucket" is the
sf_dir and the catalog is the SparkSession's (works identically against a
Hive Metastore — session.py get_spark(enable_hive=True) — because every
operator goes through ``spark.sql`` DDL / ``spark.catalog``).

Design rules:
- EXTERNAL tables point at existing parquet — registering metadata
  never copies data, exactly the reference's shared-bucket model. A
  base table's single file is copied once into a directory
  (``table_dir``), the only location a Hive metastore accepts.
- Every operator is SELF-CONTAINED and idempotent: it drops and recreates
  its own database first, so the driver can run keys in any order, twice.
- Catalog introspection outputs are fully determined by the DDL the
  operator itself just ran, so even SHOW/DESCRIBE results are
  hash-checked against literal-VALUES oracles.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from ..sources.io import _fixture_dir, _materialize, _run_scratch, load, table_path
from ..utils import materialize


def _reset_db(spark: SparkSession, db: str) -> None:
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db}")


def describe(spark: SparkSession, name: str) -> dict:
    """One catalog object as structured data: ``type``, ``columns``,
    ``location``, ``table_properties``, ``partition_columns``,
    ``comment``, ``view_text`` and ``statistics`` of ``DESCRIBE TABLE
    EXTENDED ... AS JSON``, for the keys whose output is the description
    itself (the bulk export reads ``catalog_json`` instead), so nothing
    parses Spark's human-readable catalog output. ``collect()`` rather
    than ``first()``: the latter plans an extra limit on every call."""
    return json.loads(
        spark.sql(f"DESCRIBE TABLE EXTENDED {name} AS JSON").collect()[0][0]
    )


@functools.cache
def _jvm_objects(gateway) -> SimpleNamespace:
    """The JVM objects the migration calls, resolved once per JVM: py4j
    pays a round trip per package name on every resolution. ``mapper``
    is Jackson with its Scala module; it serializes catalog case classes."""
    jvm, jackson = gateway.jvm, gateway.jvm.com.fasterxml.jackson
    catalyst = jvm.org.apache.spark.sql.catalyst
    logical, stat = catalyst.plans.logical, catalyst.catalog
    scala = getattr(getattr(jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
    return SimpleNamespace(
        mapper=jackson.databind.ObjectMapper().registerModule(scala),
        TableIdentifier=catalyst.TableIdentifier, PythonUtils=jvm.PythonUtils,
        Some=jvm.scala.Some, empty=jvm.scala.Option.empty(),
        CatalogColumnStat=stat.CatalogColumnStat, CatalogStatistics=stat.CatalogStatistics,
        HistogramSerializer=logical.HistogramSerializer, Histogram=logical.Histogram._java_lang_class,
    )


def catalog_json(spark: SparkSession, obj):
    """A JVM catalog object (or a Seq of them) as parsed JSON, serialized
    on the JVM in one py4j call rather than one call per field."""
    return json.loads(_jvm_objects(spark.sparkContext._gateway).mapper.writeValueAsString(obj))


# Manifest field -> ``CatalogColumnStat`` field (and ``toMap`` key) of one
# column's statistics; min and max stay in the catalog's stored (UTC)
# string form.
_COLUMN_STAT_KEYS = {
    "distinct": "distinctCount",
    "nulls": "nullCount",
    "min": "min",
    "max": "max",
    "avg_len": "avgLen",
    "max_len": "maxLen",
}
# Fields every table's and every column's statistics carry; "NULL" marks
# a column value the catalog does not hold (string columns have no
# min/max). A column's ``histogram`` ({height, bins}) is optional.
TABLE_STAT_FIELDS = ("row_count", "size_in_bytes", "columns")
COLUMN_STAT_FIELDS = tuple(_COLUMN_STAT_KEYS)


def stats_from_json(stats: dict | None) -> dict:
    """A ``catalog_json`` ``CatalogStatistics`` in the manifest's form,
    ``{"row_count", "size_in_bytes", "columns": {col: fields}}``, or {}
    when it holds no row count (ANALYZE did not store it)."""
    if not stats or stats["rowCount"] is None:
        return {}
    columns = {}
    for col, cs in sorted(stats["colStats"].items()):
        columns[col] = {f: "NULL" if cs[k] is None else cs[k] for f, k in _COLUMN_STAT_KEYS.items()}
        if cs["histogram"] is not None:
            columns[col]["histogram"] = cs["histogram"]
    return {"row_count": stats["rowCount"], "size_in_bytes": stats["sizeInBytes"], "columns": columns}


def _jvm_statistics(spark: SparkSession, name: str, stats: dict):
    """``stats`` (the ``stats_from_json`` form) as the JVM
    ``CatalogStatistics`` ANALYZE would have stored for ``name``."""
    jvm = _jvm_objects(spark.sparkContext._gateway)
    version = str(jvm.CatalogColumnStat.VERSION())

    def parse(col: str, stored: dict):
        keyed = {f"{col}.{k}": str(v) for k, v in stored.items()}
        opt = jvm.CatalogColumnStat.fromMap(
            name, col, jvm.PythonUtils.toScalaMap({f"{col}.version": version, **keyed})
        )
        if not opt.isDefined():
            raise ValueError(f"unparseable statistics of {name}.{col}: {stored}")
        return opt.get()

    columns = {}
    for col, fields in stats["columns"].items():
        stored = {
            key: fields[f] for f, key in _COLUMN_STAT_KEYS.items() if fields[f] != "NULL"
        }
        if "histogram" in fields:
            hist = jvm.mapper.readValue(json.dumps(fields["histogram"]), jvm.Histogram)
            stored["histogram"] = jvm.HistogramSerializer.serialize(hist)
        columns[col] = parse(col, stored)
    # CatalogStatistics takes scala BigInts, which py4j cannot pass. A
    # parsed carrier column stat holds both counts as Option[BigInt] on
    # the JVM, and mapping the size's Option over the curried constructor
    # keeps the bare BigInt there too.
    carrier = parse(
        "c", {"distinctCount": stats["size_in_bytes"], "nullCount": stats["row_count"]}
    )
    return (
        carrier.distinctCount()
        .map(jvm.CatalogStatistics.curried())
        .get()
        .apply(carrier.nullCount())
        .apply(jvm.PythonUtils.toScalaMap(columns))
    )


def write_stats(spark: SparkSession, db: str, table: str, stats: dict, partitions=()) -> None:
    """Store each ``(spec, stats)`` of ``partitions`` on that partition of
    ``db.table`` with one ``SessionCatalog.alterPartitions`` call, then
    ``stats`` (the ``stats_from_json`` form) as the table's with one
    ``alterTableStats`` call, as ANALYZE would have stored them: no SQL
    runs and no data is read."""
    jvm = _jvm_objects(spark.sparkContext._gateway)
    catalog = spark._jsparkSession.sessionState().catalog()
    ident, name = jvm.TableIdentifier(table, jvm.Some(db)), f"{db}.{table}"
    parts = []
    for spec, part_stats in partitions:
        p = catalog.getPartition(ident, jvm.PythonUtils.toScalaMap(spec))
        new = jvm.Some(_jvm_statistics(spark, name, part_stats))
        parts.append(
            p.copy(p.spec(), p.storage(), p.parameters(), p.createTime(), p.lastAccessTime(), new)
        )
    if parts:
        catalog.alterPartitions(ident, jvm.PythonUtils.toSeq(parts))
    if stats:
        catalog.alterTableStats(ident, jvm.Some(_jvm_statistics(spark, name, stats)))


# Bump whenever the parts_orders derivation below changes — re-keys the
# fixture dir so a complete dir built by older logic rebuilds.
_PARTS_VERSION = "2"  # v2: added the escape-pinning SPECIAL partition

# A partition VALUE containing a space and a '%' — '%' is in Hive's
# escapePathName set, so its directory name reads '6-SPECIAL %25PCT' (and
# its location URI '6-SPECIAL%20%2525PCT'). Code that replays an escaped
# form as the value double-escapes it, and pruned queries on the real
# value silently return nothing; code that mistakes the encoded location
# for a custom one pins the partition to a path. Pinned by meta_roundtrip.
SPECIAL_PRIO = "6-SPECIAL %PCT"
# Deterministic, SF-independent membership rule for the synthetic
# partition's rows, reproducible in pure SQL for the oracles.
SPECIAL_PRED = "o_orderkey % 1000 = 0"


def parts_orders_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Hive-partitioned orders layout shared by catalog_partition_ddl,
    catalog_recover_partitions, and the metadata-migration keys: the five
    real o_orderpriority partitions plus one SYNTHETIC partition
    (``SPECIAL_PRIO``) populated from ``SPECIAL_PRED`` rows, whose value
    exercises Hive path-escaping end-to-end."""
    from pyspark.sql import functions as F

    def write(p: str) -> None:
        base = load(spark, sf_dir, "orders")
        special = base.filter(F.expr(SPECIAL_PRED)).withColumn(
            "o_orderpriority", F.lit(SPECIAL_PRIO)
        )
        base.unionByName(special).write.mode("overwrite").partitionBy(
            "o_orderpriority"
        ).parquet(p)

    return _materialize(
        write, _fixture_dir("parts_orders", sf_dir, version=_PARTS_VERSION)
    )


def table_dir(sf_dir: str, src: str) -> str:
    """Directory holding a copy of ``src``'s Parquet file, built once.
    A Hive metastore takes only a directory as a table location; a table
    over the bare file is persisted in a Spark-only format."""

    def write(p: str) -> None:
        os.makedirs(p)
        shutil.copy(table_path(sf_dir, src), p)

    return _materialize(write, _fixture_dir(f"{src}_dir", sf_dir))


def _ext_table(spark: SparkSession, db: str, name: str, sf_dir: str, src: str) -> None:
    """Register an external parquet table over the shared-storage path."""
    spark.sql(f"DROP TABLE IF EXISTS {db}.{name}")
    spark.sql(
        f"CREATE TABLE {db}.{name} USING parquet LOCATION '{table_dir(sf_dir, src)}'"
    )


@query(
    "catalog_create_database",
    oracle="SELECT 'eng_cat_db' AS namespace",
)
def catalog_create_database(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE DATABASE + verify via SHOW DATABASES (delegated to the
    session catalog, as the reference delegates to HMS)."""
    _reset_db(spark, "eng_cat_db")
    return spark.sql("SHOW DATABASES LIKE 'eng_cat_db'")


@query(
    "catalog_create_table",
    oracle="""
    SELECT n_regionkey, COUNT(*) AS n_nations
    FROM nation GROUP BY n_regionkey
    """,
)
def catalog_create_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External table over existing parquet; prove it's queryable by
    aggregating THROUGH the catalog name. Metadata-only — zero data moved,
    the scan underneath is the same pushdown-pruned parquet read."""
    _reset_db(spark, "eng_ct_db")
    _ext_table(spark, "eng_ct_db", "nation_ext", sf_dir, "nation")
    return spark.sql(
        "SELECT n_regionkey, COUNT(*) AS n_nations "
        "FROM eng_ct_db.nation_ext GROUP BY n_regionkey"
    )


@query(
    "catalog_save_as_table",
    oracle="""
    SELECT r_regionkey, r_name FROM region
    """,
)
def catalog_save_as_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """saveAsTable: persist a DataFrame as a catalog table and read it
    back BY NAME. The table data lands under the process's run root in
    .scratch (explicit path — the local stand-in for a warehouse bucket;
    per process, so concurrent drivers never rewrite each other's); at
    scale this is a parallel parquet write keeping the frame's
    partitioning."""
    _reset_db(spark, "eng_sat_db")
    out = os.path.join(_run_scratch(), "saveastable_region")
    (
        load(spark, sf_dir, "region")
        .select("r_regionkey", "r_name")
        .write.mode("overwrite")
        .option("path", out)
        .saveAsTable("eng_sat_db.region_saved")
    )
    return spark.table("eng_sat_db.region_saved")


@query(
    "catalog_list_tables",
    oracle="""
    SELECT * FROM (VALUES
        ('eng_ls_db', 'nation_ext', false),
        ('eng_ls_db', 'region_ext', false)
    ) AS t(namespace, tableName, isTemporary)
    """,
)
def catalog_list_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW TABLES over a just-built database — enumeration is fully
    determined by the DDL above it, so even this introspection query is
    value-hash-checked."""
    _reset_db(spark, "eng_ls_db")
    _ext_table(spark, "eng_ls_db", "nation_ext", sf_dir, "nation")
    _ext_table(spark, "eng_ls_db", "region_ext", sf_dir, "region")
    # SHOW TABLES also lists session temp views (empty namespace) — exclude
    # them so the enumeration is exactly the database's contents.
    return spark.sql("SHOW TABLES IN eng_ls_db").filter("NOT isTemporary")


@query(
    "catalog_describe",
    oracle="""
    SELECT * FROM (VALUES
        ('n_nationkey', 'int', CAST(NULL AS VARCHAR)),
        ('n_name', 'string', CAST(NULL AS VARCHAR)),
        ('n_regionkey', 'int', CAST(NULL AS VARCHAR))
    ) AS t(col_name, data_type, comment)
    """,
)
def catalog_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE TABLE — schema introspection through the catalog; the
    external table's schema comes from the parquet footer."""
    _reset_db(spark, "eng_desc_db")
    _ext_table(spark, "eng_desc_db", "nation_ext", sf_dir, "nation")
    return spark.sql("DESCRIBE TABLE eng_desc_db.nation_ext")


@query(
    "catalog_drop",
    oracle="SELECT CAST(NULL AS VARCHAR) AS namespace WHERE false",
)
def catalog_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DROP TABLE then DROP DATABASE CASCADE; the post-condition (no
    matching namespace remains) is the returned — empty — result. Since
    tables are external, dropping deregisters metadata only; the shared
    parquet is untouched (verified: the next scan still works)."""
    _reset_db(spark, "eng_drop_db")
    _ext_table(spark, "eng_drop_db", "nation_ext", sf_dir, "nation")
    spark.sql("DROP TABLE eng_drop_db.nation_ext")
    spark.sql("DROP DATABASE eng_drop_db CASCADE")
    return spark.sql("SHOW DATABASES LIKE 'eng_drop_db'")


@query(
    "catalog_recover_partitions",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT '6-SPECIAL %PCT', COUNT(*) FROM orders WHERE o_orderkey % 1000 = 0
    """,
)
def catalog_recover_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-layout partition discovery: write orders partitioned by
    o_orderpriority (one-time fixture), register an external PARTITIONED
    table over it, MSCK REPAIR to discover the partition directories,
    then aggregate through the table.  The fixture
    includes the escape-pinning SPECIAL partition (space + '%' in the
    value, dir name 'o_orderpriority=6-SPECIAL %25PCT'): MSCK must
    UNescape the directory name into the real value for its group to
    count correctly here.

    At 100 TB this is the canonical "register yesterday's landed
    partitions" op: MSCK lists directories (metadata-scale work) and adds
    partitions to the catalog — no data pass at all. The count-by-
    partition-column readback proves pruned partition scans see every row.
    """
    src = parts_orders_fixture(spark, sf_dir)
    _reset_db(spark, "eng_rp_db")
    spark.sql(
        "CREATE TABLE eng_rp_db.orders_parts "
        "(o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING) "
        f"USING parquet PARTITIONED BY (o_orderpriority) LOCATION '{src}'"
    )
    spark.sql("MSCK REPAIR TABLE eng_rp_db.orders_parts")
    return spark.sql(
        "SELECT o_orderpriority, COUNT(*) AS n_orders "
        "FROM eng_rp_db.orders_parts GROUP BY o_orderpriority"
    )


@query(
    "catalog_view",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n, MAX(o_totalprice) AS max_price
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def catalog_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temp-view + SQL entry point: register the DataFrame as a view and
    query it with spark.sql — the Zeppelin/SQL-notebook workflow the
    reference's clusters serve (metastore-import.tf:196 provisions
    ZEPPELIN). Views are catalog metadata only: the plan underneath is
    the same pruned parquet scan, so there is no abstraction penalty.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n, MAX(o_totalprice) AS max_price
        FROM v_orders WHERE o_orderstatus = 'O'
        GROUP BY o_orderpriority
        """
    )


@query(
    "catalog_alter",
    oracle="""
    SELECT * FROM (VALUES
        ('n_nationkey', 'int', CAST(NULL AS VARCHAR)),
        ('n_name', 'string', CAST(NULL AS VARCHAR)),
        ('n_regionkey', 'int', 'region fk'),
        ('load_batch', 'bigint', 'ingest batch id')
    ) AS t(col_name, data_type, comment)
    """,
)
def catalog_alter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE lifecycle: ADD COLUMNS, ALTER COLUMN COMMENT, RENAME
    TABLE — the schema-evolution DDL a metastore migration must carry
    (the reference moves exactly this table metadata between clusters).
    All metadata-plane: the shared parquet is untouched; the added
    column has no data and scans as NULL, which is the Hive
    schema-on-read contract. DESCRIBE of the renamed table is the
    hash-checked post-condition — fully determined by the DDL above it.
    """
    _reset_db(spark, "eng_alter_db")
    _ext_table(spark, "eng_alter_db", "nation_ext", sf_dir, "nation")
    spark.sql(
        "ALTER TABLE eng_alter_db.nation_ext "
        "ADD COLUMNS (load_batch BIGINT COMMENT 'ingest batch id')"
    )
    spark.sql(
        "ALTER TABLE eng_alter_db.nation_ext "
        "ALTER COLUMN n_regionkey COMMENT 'region fk'"
    )
    spark.sql(
        "ALTER TABLE eng_alter_db.nation_ext RENAME TO eng_alter_db.nation_final"
    )
    return spark.sql("DESCRIBE TABLE eng_alter_db.nation_final")


@query(
    "catalog_csv_table",
    prewarm=True,
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def catalog_csv_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-parquet catalog table: CREATE TABLE ... USING csv with an
    explicit schema and OPTIONS (header) over a CSV export — the
    Hive-style text-format external table every warehouse still carries.
    Registering is metadata-only; the query below scans through the
    catalog name with the CSV reader, proving format plumbing lives in
    the table definition, not the query."""
    csv_dir = _materialize(
        lambda p: load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite")
        .option("header", True)
        .csv(p),
        _fixture_dir("cat_csv_nation", sf_dir),
    )
    _reset_db(spark, "eng_csv_db")
    spark.sql(
        "CREATE TABLE eng_csv_db.nation_csv "
        "(n_nationkey INT, n_name STRING, n_regionkey INT) "
        f"USING csv OPTIONS (header 'true') LOCATION '{csv_dir}'"
    )
    return spark.sql(
        "SELECT n_nationkey, n_name, n_regionkey FROM eng_csv_db.nation_csv"
    )


@query(
    "catalog_partition_ddl",
    oracle="""
    SELECT 'after_add' AS snap, o_orderpriority, COUNT(*) AS n
    FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW') GROUP BY 2
    UNION ALL
    SELECT 'after_drop', o_orderpriority, COUNT(*)
    FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 2
    """,
)
def catalog_partition_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit partition lifecycle: ALTER TABLE ADD PARTITION with an
    explicit LOCATION, then DROP PARTITION — the surgical sibling of MSCK
    REPAIR (catalog_recover_partitions) and exactly how ingest jobs
    publish single landed partitions to the metastore the reference
    migrates. Only registered partitions are visible (two after ADD, one
    after DROP); both snapshots are hash-checked, and the first is
    materialized BEFORE the DROP runs — partition
    listings resolve at execution time, so a lazy first snapshot would
    silently observe the post-drop catalog. Metadata-plane only: ADD and
    DROP touch the catalog, never the files."""
    src = parts_orders_fixture(spark, sf_dir)
    _reset_db(spark, "eng_pd_db")
    spark.sql(
        "CREATE TABLE eng_pd_db.orders_parts "
        "(o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING) "
        f"USING parquet PARTITIONED BY (o_orderpriority) LOCATION '{src}'"
    )
    for prio in ("1-URGENT", "5-LOW"):
        spark.sql(
            f"ALTER TABLE eng_pd_db.orders_parts ADD PARTITION "
            f"(o_orderpriority='{prio}') LOCATION '{src}/o_orderpriority={prio}'"
        )

    def snap(tag: str) -> DataFrame:
        return spark.sql(
            f"SELECT '{tag}' AS snap, o_orderpriority, COUNT(*) AS n "
            "FROM eng_pd_db.orders_parts GROUP BY o_orderpriority"
        )

    after_add, _ = materialize(snap("after_add"))
    # DROP PARTITION must be metadata-only here: that holds ONLY for
    # EXTERNAL tables (Spark treats explicit-LOCATION tables as external,
    # but assert rather than assume — a managed-table default or a purge
    # flag would make the DROP delete files inside the shared
    # fingerprint-keyed fixture and corrupt every later run; round-4
    # ADVICE).
    ttype = describe(spark, "eng_pd_db.orders_parts")["type"]
    if ttype != "EXTERNAL":
        raise AssertionError(
            f"orders_parts must be EXTERNAL before DROP PARTITION, got {ttype}"
        )
    spark.sql(
        "ALTER TABLE eng_pd_db.orders_parts DROP PARTITION (o_orderpriority='5-LOW')"
    )
    return after_add.unionByName(snap("after_drop"))


@query(
    "catalog_analyze_stats",
    oracle="""
    SELECT 'nation_stats' AS tbl,
           (SELECT COUNT(*) FROM nation) AS row_count,
           (SELECT COUNT(DISTINCT n_regionkey) FROM nation) AS rk_distinct,
           (SELECT COUNT(*) - COUNT(n_regionkey) FROM nation) AS rk_nulls,
           CAST((SELECT MIN(n_regionkey) FROM nation) AS VARCHAR) AS rk_min,
           CAST((SELECT MAX(n_regionkey) FROM nation) AS VARCHAR) AS rk_max
    """,
)
def catalog_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE ... COMPUTE STATISTICS (table + FOR COLUMNS) and
    read the stats BACK FROM THE CATALOG — the metadata the cost-based
    optimizer uses for join reordering/broadcast decisions, and part of
    the HMS payload the reference migrates (table/column statistics are
    table parameters in the metastore). The hash-checked surface is the
    catalog's answer (DESCRIBE EXTENDED), not a recomputation: row
    count, and the n_regionkey column's distinct/null/min/max.
    sizeInBytes is deliberately excluded (file-layout dependent).

    At 100 TB: ANALYZE is one scan (columns add a distinct sketch per
    analyzed column); stale stats mislead the CBO, so production runs it
    after large loads — exactly the post-migration step the tutorial's
    target cluster would need."""
    _reset_db(spark, "eng_st_db")
    _ext_table(spark, "eng_st_db", "nation_stats", sf_dir, "nation")
    spark.sql("ANALYZE TABLE eng_st_db.nation_stats COMPUTE STATISTICS")
    spark.sql(
        "ANALYZE TABLE eng_st_db.nation_stats "
        "COMPUTE STATISTICS FOR COLUMNS n_regionkey"
    )
    rows = spark.sql(
        "DESCRIBE TABLE EXTENDED eng_st_db.nation_stats n_regionkey"
    ).collect()
    col_stats = {r["info_name"]: r["info_value"] for r in rows}
    tbl_stats = describe(spark, "eng_st_db.nation_stats").get("statistics") or {}
    if "num_rows" not in tbl_stats:
        raise AssertionError(f"no row count in catalog statistics: {tbl_stats!r}")
    return spark.createDataFrame(
        [
            (
                "nation_stats",
                tbl_stats["num_rows"],
                int(col_stats["distinct_count"]),
                int(col_stats["num_nulls"]),
                col_stats["min"],
                col_stats["max"],
            )
        ],
        "tbl string, row_count bigint, rk_distinct bigint, rk_nulls bigint, "
        "rk_min string, rk_max string",
    )


@query(
    "catalog_cache_table",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def catalog_cache_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-MEMORY TABLE CACHE lifecycle: register a view, ``cacheTable``
    it (lazy — the columnar cache materializes on first use), and query
    THROUGH the cache; the physical plan swaps the parquet scan for an
    InMemoryTableScan (plan-asserted in tests/test_plans.py) while the
    results stay identical to the cold path — caching is an execution
    concern, never a semantic one.

    The session-level cache is the tool for REUSED intermediates (a hot
    dimension, an expensive pre-aggregate queried many times); at 100 TB
    you cache the distilled table, never the fact spine — the columnar
    cache is memory-bounded per executor and spills to disk at
    MEMORY_AND_DISK, but a cache that doesn't fit mostly evicts.  Each
    call uncaches the previous entry first, so repeated runs hold ONE
    copy (cache entries are keyed by plan, and a replaced temp view
    would otherwise strand its predecessor's storage)."""
    from pyspark.sql import functions as F

    name = "eng_cached_orders"
    # Guarded FIRST, try/except as fallback: a failing uncacheTable on a
    # cold session posts an analysis-failure event to
    # ExecutionListenerBus, and the session-global ObservationManager
    # listener (registered the first time any key used an Observation)
    # re-logs it as a spurious ERROR in every cold run's stderr —
    # tableExists never enters execution, so the common path stays
    # listener-silent. The narrow except covers the remaining failure
    # modes (e.g. a stale temp view whose underlying fixture path was
    # reaped mid-session): the very next line replaces the view anyway,
    # so a failed uncache must degrade to a stranded-cache-entry leak,
    # never abort the key (round-11 ADVICE).
    if spark.catalog.tableExists(name):
        try:
            spark.catalog.uncacheTable(name)
        except Exception as e:  # noqa: BLE001 — view is replaced just below
            # Degrading to a stranded cache entry is deliberate (never
            # abort the key), but it must be AUDITABLE: a leak repeated
            # across a long session eats executor storage memory with no
            # trace if swallowed silently (round-12 ADVICE).
            import logging

            logging.getLogger(__name__).warning(
                "uncacheTable(%s) failed; cache entry may be stranded: %s", name, e
            )
    load(spark, sf_dir, "orders").createOrReplaceTempView(name)
    spark.catalog.cacheTable(name)
    return (
        spark.table(name)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@query(
    "catalog_column_defaults",
    oracle="""
    SELECT a, b, CAST(c AS DOUBLE) AS c FROM (VALUES
        (1, 'unset', 1.5),
        (2, 'unset', 1.5),
        (3, 'explicit', 2.5)) AS t(a, b, c)
    """,
)
def catalog_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARED COLUMN DEFAULTS (Spark 3.4+ DDL surface): CREATE TABLE
    with ``DEFAULT`` expressions, then a partial-column INSERT — the
    engine fills omitted columns from the declared defaults at WRITE
    time (storage holds concrete values; readers never re-evaluate),
    which is how schemas evolve additively without rewriting producers.
    A full-row INSERT still overrides.  The oracle states the expected
    filled rows as literals — the entire observable contract.

    Metadata-scoped: a 3-row table exercises the DDL path; the default
    machinery itself is plan-time constant folding, so at any scale the
    cost is the insert itself.  STATELESS per run (the
    scan_typed_columns lesson): the table lives at an explicit location
    under the process's run root, wiped before CREATE — a stale
    directory from an interrupted earlier call (catalog entry gone,
    files left) would otherwise fail CREATE with
    LOCATION_ALREADY_EXISTS."""
    _reset_db(spark, "eng_def_db")
    loc = os.path.join(_run_scratch(), "defaults_t")
    shutil.rmtree(loc, ignore_errors=True)
    spark.sql(
        "CREATE TABLE eng_def_db.t ("
        "a INT, b STRING DEFAULT 'unset', c DOUBLE DEFAULT 1.5"
        f") USING parquet LOCATION '{loc}'"
    )
    spark.sql("INSERT INTO eng_def_db.t (a) VALUES (1), (2)")
    spark.sql("INSERT INTO eng_def_db.t VALUES (3, 'explicit', 2.5)")
    return spark.table("eng_def_db.t")


@query(
    "catalog_refresh_table",
    oracle="""
    SELECT 'v1' AS phase,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rows
    FROM orders
    UNION ALL
    SELECT 'v2' AS phase, CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders
    """,
)
def catalog_refresh_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFRESH TABLE — file-listing cache invalidation: Spark caches an
    external table's file listing at first read; when files change
    UNDERNEATH the catalog (a direct path write, another engine, a
    compaction job), the stale listing points at deleted part files and
    the next read fails or misses data.  ``REFRESH TABLE`` is the ops
    verb that re-lists — the two-cluster shared-bucket topology the
    reference provisions makes this a DAILY operation (cluster A
    rewrites, cluster B must refresh before reading).

    The key proves the full cycle deterministically: read v1 (half of
    orders) through the table, overwrite the location with v2 (all
    orders) bypassing the catalog, REFRESH, read again — both phase
    counts are relational facts the oracle restates.  Stateless per run
    (explicitly wiped location under the process's run root, the
    scan_typed_columns discipline)."""
    from pyspark.sql import functions as F

    _reset_db(spark, "eng_rf_db")
    loc = os.path.join(_run_scratch(), "refresh_orders")
    shutil.rmtree(loc, ignore_errors=True)
    o = load(spark, sf_dir, "orders").select("o_orderkey")
    o.where(F.col("o_orderkey") % 2 == 0).write.parquet(loc)
    spark.sql(
        f"CREATE TABLE eng_rf_db.t (o_orderkey BIGINT) USING parquet "
        f"LOCATION '{loc}'"
    )
    n_v1 = spark.table("eng_rf_db.t").count()
    o.write.mode("overwrite").parquet(loc)  # direct path write: catalog unaware
    spark.sql("REFRESH TABLE eng_rf_db.t")
    n_v2 = spark.table("eng_rf_db.t").count()
    return spark.createDataFrame(
        [("v1", n_v1), ("v2", n_v2)], "phase string, n_rows bigint"
    )
