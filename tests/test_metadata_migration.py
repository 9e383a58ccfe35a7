"""True cross-process metadata migration (the reference's two-cluster
story, metastore-import.tf:181-278): export a namespace manifest from the
test session ("cluster A"), then replay it in a SUBPROCESS SparkSession
("cluster B") whose catalog starts empty — the JSON manifest is the only
thing that crosses. The subprocess asserts its catalog never saw the
source DDL, imports, queries THROUGH the imported table, and ships the
result back; the parent checks it equals the direct-parquet aggregate.
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys

import duckdb
import pytest

from yc_data_proc_metadata_import_spark.plans.catalog import (
    describe,
    parts_orders_fixture,
    table_dir,
)
from yc_data_proc_metadata_import_spark.plans.metadata import (
    _DST_DB,
    _SRC_DB,
    _build_source,
    _diff_manifests,
    export_manifest,
    import_manifest,
    meta_export,
    meta_import,
)
from yc_data_proc_metadata_import_spark.session import conf_scope
from yc_data_proc_metadata_import_spark.sources.io import TABLES, table_path

_IMPORTER = """
import json, sys
from pyspark.sql import SparkSession

manifest_path, out_path, warehouse, catalog = sys.argv[1:5]
builder = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.warehouse.dir", warehouse)
    .config("spark.ui.enabled", "false")
)
if catalog == "hive":
    builder = builder.enableHiveSupport()
spark = builder.getOrCreate()
# Cluster B starts with a catalog that never saw cluster A's DDL.
pre = sorted(db.name for db in spark.catalog.listDatabases())
assert pre == ["default"], f"importing catalog not pristine: {pre}"

with open(manifest_path) as f:
    manifest = json.load(f)

from yc_data_proc_metadata_import_spark.plans.metadata import import_manifest
import_manifest(spark, manifest, "eng_meta_dst")

tables = sorted(
    t.name for t in spark.catalog.listTables("eng_meta_dst") if not t.isTemporary
)
assert tables == sorted(e["table"] for e in manifest), tables

rows = spark.sql(
    "SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_name "
    "FROM eng_meta_dst.nation_ext GROUP BY n_regionkey ORDER BY n_regionkey"
).collect()
# The migrated VIEW resolves through the migrated table (its text was
# re-qualified to the destination namespace by import_manifest).
view_rows = spark.sql(
    "SELECT * FROM eng_meta_dst.nation_by_region ORDER BY n_regionkey"
).collect()
assert [tuple(r) for r in view_rows] == [tuple(r) for r in rows], view_rows
# Manifest-replayed partitions: a partition-pruned scan sees exactly the
# rows of the partitions the manifest carried.
urgent = spark.sql(
    "SELECT COUNT(*) AS n FROM eng_meta_dst.orders_part "
    "WHERE o_orderpriority = '1-URGENT'"
).collect()[0].n
props = spark.sql(
    "SHOW TBLPROPERTIES eng_meta_dst.nation_ext"
).collect()
got_props = {r.key: r.value for r in props if not r.key.startswith("transient")}
assert got_props.get("owner_team") == "ingest", got_props
assert got_props.get("quality_tier") == "gold", got_props
# Statistics arrive as the catalog stores them, through this catalog's
# alterTableStats: Spark's own DESCRIBE reads back the manifest's values.
from yc_data_proc_metadata_import_spark.plans.catalog import describe
from yc_data_proc_metadata_import_spark.plans.metadata import (
    _diff_manifests,
    export_manifest,
)
exported = export_manifest(spark, "eng_meta_dst")
want = next(e for e in manifest if e["table"] == "nation_ext")["statistics"]
assert next(e for e in exported if e["table"] == "nation_ext")["statistics"] == want, want
table_stats = describe(spark, "eng_meta_dst.nation_ext")["statistics"]
assert table_stats == {
    "size_in_bytes": want["size_in_bytes"], "num_rows": want["row_count"]
}, table_stats
col = {
    r.info_name: r.info_value
    for r in spark.sql("DESCRIBE TABLE EXTENDED eng_meta_dst.nation_ext n_regionkey").collect()
}
rk = want["columns"]["n_regionkey"]
assert (col["distinct_count"], col["num_nulls"], col["min"], col["max"]) == tuple(
    str(rk[f]) for f in ("distinct", "nulls", "min", "max")
), col
# Re-exporting this catalog gives the source's manifest, up to the
# namespace name: partitions, their locations and statistics included.
assert _diff_manifests(manifest, exported, manifest[0]["database"], "eng_meta_dst") == []
if catalog == "hive":
    # Importing the same manifest again finds nothing to do: it costs one
    # export of the target plus CREATE DATABASE IF NOT EXISTS in Hive
    # client calls. Pinned, so a change that adds calls changes them here.
    metrics = spark._jvm.org.apache.spark.metrics.source.HiveCatalogMetrics
    calls = metrics.METRIC_HIVE_CLIENT_CALLS()
    start = calls.getCount()
    export_manifest(spark, "eng_meta_dst")
    export_calls = calls.getCount() - start
    assert import_manifest(spark, manifest, "eng_meta_dst") == []
    import_calls = calls.getCount() - start - export_calls
    assert (export_calls, import_calls) == (10, 11), (export_calls, import_calls)

from tests.test_metadata_migration import _partition_facts
with open(out_path, "w") as f:
    json.dump(
        {
            "nation": [[r.n_regionkey, r.n_nations, r.first_name] for r in rows],
            "urgent": urgent,
            "partitions": _partition_facts(spark, "eng_meta_dst"),
        },
        f,
    )
spark.stop()
"""


def _partition_facts(spark, db: str) -> dict:
    """{value: [rows, DESCRIBE's partition statistics]} of every
    ``orders_part`` partition that reads rows through the catalog."""
    facts = {}
    for r in spark.sql(
        f"SELECT o_orderpriority AS p, COUNT(*) AS n FROM {db}.orders_part GROUP BY 1"
    ).collect():
        desc = spark.sql(
            f"DESCRIBE TABLE EXTENDED {db}.orders_part "
            f"PARTITION (o_orderpriority = {_sql_literal(r.p)})"
        ).collect()
        stats = [d.data_type for d in desc if d.col_name == "Partition Statistics"]
        facts[r.p] = [r.n, stats[0] if stats else None]
    return facts


def _tree(root: str) -> list:
    """Every directory under ``root`` with its sorted subdirectory and
    file names."""
    return sorted((os.path.relpath(d, root), sorted(ds), sorted(fs)) for d, ds, fs in os.walk(root))


def _import_in_pristine_process(spark, sf_dir, tmp_path, catalog: str, mutate=None) -> dict:
    """Export the source namespace, after ``mutate()`` if given, import
    it in a pristine process and check what it reads there and that the
    import wrote nothing into the shared partitioned table's storage;
    returns the source's ``_partition_facts``. A mutated source is
    rebuilt after."""
    _build_source(spark, sf_dir)
    try:
        if mutate:
            mutate()
        manifest = export_manifest(spark, _SRC_DB)
        src_parts = _partition_facts(spark, _SRC_DB)
    finally:
        if mutate:
            _build_source(spark, sf_dir)
    manifest_path = tmp_path / "manifest.json"
    manifest_path.write_text(json.dumps(manifest))
    out_path = tmp_path / "result.json"
    shared = parts_orders_fixture(spark, sf_dir)
    before = _tree(shared)

    env = dict(os.environ, PYTHONPATH=os.path.dirname(os.path.dirname(__file__)))
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            _IMPORTER,
            str(manifest_path),
            str(out_path),
            str(tmp_path / "wh_b"),
            catalog,
        ],
        env=env,
        cwd=str(tmp_path),  # keep cluster B's derby.log/metastore out of the repo
        timeout=300,
        stderr=subprocess.PIPE,
        text=True,
    )
    assert proc.returncode == 0, proc.stderr
    # Every imported table is one Hive itself can read: HiveExternalCatalog
    # warns when it has to persist a table in a Spark-only format.
    assert "in a Hive compatible way" not in proc.stderr, proc.stderr

    # Only metadata crosses: the import creates, removes or renames no
    # file or directory in the storage the two catalogs share.
    assert _tree(shared) == before
    got = json.loads(out_path.read_text())
    # Every partition reads the source's rows on the target, and an
    # analyzed partition (its statistics hold a row count) reads the
    # source's statistics; the target's catalog may size the others.
    assert {p: n for p, (n, _) in got["partitions"].items()} == {
        p: n for p, (n, _) in src_parts.items()
    }
    analyzed = {p: st for p, (_, st) in src_parts.items() if st and "rows" in st}
    assert {p: got["partitions"].get(p, [0, None])[1] for p in analyzed} == analyzed
    con = duckdb.connect()
    want = con.execute(
        f"SELECT n_regionkey, COUNT(*) AS n, MIN(n_name) "
        f"FROM read_parquet('{table_path(sf_dir, 'nation')}') "
        f"GROUP BY n_regionkey ORDER BY n_regionkey"
    ).fetchall()
    assert [(a, b, c) for a, b, c in got["nation"]] == [tuple(r) for r in want]
    want_urgent = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{table_path(sf_dir, 'orders')}') "
        f"WHERE o_orderpriority = '1-URGENT'"
    ).fetchone()[0]
    assert got["urgent"] == want_urgent, (got["urgent"], want_urgent)
    return src_parts


def test_manifest_imports_into_pristine_process(spark, sf_dir, tmp_path):
    _import_in_pristine_process(spark, sf_dir, tmp_path, "in-memory")


def test_manifest_imports_into_pristine_hive_catalog(spark, sf_dir, tmp_path):
    """The same import into a Derby-backed Hive catalog, the local
    stand-in for the managed metastore: batched ADD PARTITION, OPTIONS
    and the concurrent per-table replay go through HiveExternalCatalog
    (its Derby metastore and derby.log land in ``tmp_path``)."""
    _import_in_pristine_process(spark, sf_dir, tmp_path, "hive")


@pytest.mark.parametrize("catalog", ["in-memory", "hive"])
def test_relocated_and_analyzed_partitions_migrate(spark, sf_dir, tmp_path, catalog):
    """A partition registered at its own directory (a '%' in its name)
    reads the source's rows on the target, not the empty default path,
    and a partition analyzed on the source arrives with the same
    statistics, under both catalogs."""
    moved, part = tmp_path / "re%located", f"{_SRC_DB}.orders_part"

    def mutate():
        spark.table(part).where("o_orderpriority = '1-URGENT'").drop(
            "o_orderpriority"
        ).write.parquet(str(moved))
        spark.sql(
            f"ALTER TABLE {part} ADD PARTITION (o_orderpriority = '7-MOVED') "
            f"LOCATION {_sql_literal(str(moved))}"
        )
        spark.sql(
            f"ANALYZE TABLE {part} PARTITION (o_orderpriority = '2-HIGH') COMPUTE STATISTICS"
        )

    src = _import_in_pristine_process(spark, sf_dir, tmp_path, catalog, mutate)
    assert src["7-MOVED"][0] == src["1-URGENT"][0] > 0
    assert src["2-HIGH"][1].endswith(f" bytes, {src['2-HIGH'][0]} rows"), src["2-HIGH"]


def test_meta_keys_replay_the_live_catalog(spark, sf_dir):
    """The meta_* keys export the source catalog as it stands on each
    call: a property changed on the source after one key ran reaches the
    target on the next."""
    meta_export(spark, sf_dir)
    try:
        spark.sql(
            f"ALTER TABLE {_SRC_DB}.nation_ext SET TBLPROPERTIES ('quality_tier'='silver')"
        )
        meta_import(spark, sf_dir)
        got = spark.sql(f"SHOW TBLPROPERTIES {_DST_DB}.nation_ext ('quality_tier')").collect()
        assert [r.value for r in got] == ["silver"]
    finally:
        _build_source(spark, sf_dir)


def test_partition_chunks_register_every_partition(spark, sf_dir, monkeypatch):
    """With two specs per ADD PARTITION statement, the six partitions of
    ``orders_part`` go out in three statements, every one registers and
    a partition-pruned count per value equals the source's."""
    from yc_data_proc_metadata_import_spark.plans import metadata as M

    M._ensure_source(spark, sf_dir)
    entry = next(e for e in export_manifest(spark, _SRC_DB) if e["table"] == M._PART_TABLE)
    assert len(entry["partitions"]) >= 5
    monkeypatch.setattr(M, "_ADD_PARTITION_CHUNK", 2)
    target, db = spark.newSession(), "eng_meta_chunks"
    sent, real_sql = [], target.sql

    def sql(query, *args, **kwargs):
        sent.append(query)
        return real_sql(query, *args, **kwargs)

    monkeypatch.setattr(target, "sql", sql)
    try:
        import_manifest(target, [entry], db)
        adds = [q for q in sent if " ADD PARTITION " in q]
        assert [q.count(" PARTITION (") for q in adds] == [2, 2, 2]
        specs = {
            d: sorted(r[0] for r in spark.sql(f"SHOW PARTITIONS {d}.{M._PART_TABLE}").collect())
            for d in (_SRC_DB, db)
        }
        assert specs[db] == specs[_SRC_DB] == sorted(
            M._partition_path(p["spec"]) for p in entry["partitions"]
        )
        values = spark.sql(
            f"SELECT DISTINCT {M._PART_COL} FROM {_SRC_DB}.{M._PART_TABLE}"
        ).collect()
        in_list = ", ".join(_sql_literal(v) for v, in values)
        counts = {
            d: sorted(
                spark.sql(
                    f"SELECT {M._PART_COL}, COUNT(*) FROM {d}.{M._PART_TABLE} "
                    f"WHERE {M._PART_COL} IN ({in_list}) GROUP BY {M._PART_COL}"
                ).collect()
            )
            for d in (_SRC_DB, db)
        }
        assert len(counts[db]) == len(entry["partitions"]) and counts[db] == counts[_SRC_DB]
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_spec_to_ddl_quotes_catalog_values_verbatim():
    """The catalog's partition specs hold the real (unescaped) values;
    ADD PARTITION takes them as literals, never through a ``%XX``
    decoder (round-5 ADVICE — an escaped replay registers another
    value), so a value spelled ``x%2Fy`` replays as itself."""
    from yc_data_proc_metadata_import_spark.plans.metadata import _spec_to_ddl

    assert _spec_to_ddl({"p": "1-URGENT"}) == "(`p`='1-URGENT')"
    assert _spec_to_ddl({"p": "6-SPECIAL %PCT"}) == "(`p`='6-SPECIAL %PCT')"
    assert _spec_to_ddl({"p": "a b:c"}) == "(`p`='a b:c')"
    assert _spec_to_ddl({"p": "x/y", "q": "7"}) == "(`p`='x/y', `q`='7')"
    assert _spec_to_ddl({"p": "x%2Fy"}) == "(`p`='x%2Fy')"
    # a quote inside the value is doubled for the SQL literal
    assert _spec_to_ddl({"p": "o'neil"}) == "(`p`='o''neil')"


def test_partition_path_escapes_as_spark_does(spark):
    """The default partition directory the export compares a partition's
    location with escapes every character Spark's own
    ``escapePathName`` escapes, and no other."""
    from yc_data_proc_metadata_import_spark.plans.metadata import _partition_path

    chars = "".join(map(chr, range(1, 256)))
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    assert _partition_path({"p": chars}) == f"p={utils.escapePathName(chars)}"
    assert _partition_path({"a b": "", "q": "x%2Fy"}) == "a b=__HIVE_DEFAULT_PARTITION__/q=x%252Fy"


def test_missing_catalog_field_raises_value_error(spark, roundtrip, monkeypatch):
    """A catalog JSON without a field the manifest maps (a Spark upgrade
    that renamed a case-class field) raises a ``ValueError`` naming it
    instead of writing a wrong manifest."""
    from yc_data_proc_metadata_import_spark.plans import metadata as M

    real = M.catalog_json

    def renamed(spark, obj):
        got = real(spark, obj)
        for t in got:
            t.pop("partitionColumnNames", None)
        return got

    monkeypatch.setattr(M, "catalog_json", renamed)
    with pytest.raises(ValueError, match="partitionColumnNames"):
        export_manifest(spark, _RT_SRC)


def test_view_requalification_is_identifier_boundary():
    """Only identifier-boundary occurrences of 'src_db.' re-qualify —
    embedded lookalikes and string literals survive (round-5 ADVICE)."""
    from yc_data_proc_metadata_import_spark.plans.metadata import (
        _requalify_view_text,
    )

    src, dst = "eng_meta_src", "eng_meta_dst"
    sub = lambda text: _requalify_view_text(text, src, dst)
    assert sub("SELECT * FROM eng_meta_src.t") == "SELECT * FROM eng_meta_dst.t"
    assert sub("JOIN my_eng_meta_src.t") == "JOIN my_eng_meta_src.t"
    assert sub("WHERE c = 'x eng_meta_srcX.t'") == "WHERE c = 'x eng_meta_srcX.t'"
    assert (
        sub("FROM eng_meta_src.a JOIN eng_meta_src.b")
        == "FROM eng_meta_dst.a JOIN eng_meta_dst.b"
    )


def test_view_requalification_handles_backtick_qualifier():
    """Backtick-quoted database qualifiers re-qualify too (code-review
    round 6: the bare-form lookbehind/lookahead both reject the quoted
    spelling, so `src`.t replayed verbatim into the wrong namespace)."""
    from yc_data_proc_metadata_import_spark.plans.metadata import (
        _requalify_view_text,
    )

    src, dst = "eng_meta_src", "eng_meta_dst"
    sub = lambda text: _requalify_view_text(text, src, dst)
    assert sub("SELECT * FROM `eng_meta_src`.t") == "SELECT * FROM `eng_meta_dst`.t"
    assert (
        sub("FROM `eng_meta_src`.a JOIN eng_meta_src.b")
        == "FROM `eng_meta_dst`.a JOIN eng_meta_dst.b"
    )
    # a backticked lookalike that merely embeds the name survives
    assert sub("FROM `my_eng_meta_src`.t") == "FROM `my_eng_meta_src`.t"


# A namespace holding what Spark's human-readable catalog output cannot
# carry: every base table (``embeddings`` has an ``array<float>``
# column), a table of nested types, property values containing the list
# separators ", " and "]", a quote and a backslash, and a view whose text
# spans several lines.  Its ``odd`` table has columns that only parse
# backquoted (a keyword, a space, a backquote) and a struct column whose
# field name needs backquotes too; it is partitioned by a column with a
# space and a quote in the partition value, and analyzed on the
# non-struct columns.  ``csv_header`` is a CSV table read with the
# ``header`` option, so its provider and storage options must travel.
# ``nation`` and the view carry a table comment and a column comment.
_RT_SRC, _RT_DST = "eng_meta_rt_src", "eng_meta_rt_dst"
_RT_PROPS = {"note": "a, b", "tag": "x]", "team": "o'neil", "path": "C:\\new"}
_RT_VIEW = """SELECT n_regionkey,
       COUNT(*) AS n_nations
FROM {db}.nation
GROUP BY n_regionkey"""
_NESTED_COLS = {
    "amount": "CAST(1.5 AS DECIMAL(28,4))",
    "counts": "map('a', 1)",
    "s": "named_struct('x', 1, 'y', array('p', 'q'))",
}
_ODD_COLS = ("select", "my col", "a`b")
_ODD_STRUCT = "named_struct('my f', id, 'ok', id) AS st"
_ODD_PART = "part col"
# table -> (table comment, column, column comment)
_RT_COMMENTS = {
    "nation": ("nations, o'neil", "n_name", "the nation's name"),
    "by_region": ("nations per region", "n_nations", "row count"),
}


def _sql_literal(v: str) -> str:
    return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"


@pytest.fixture(scope="module")
def roundtrip(spark, sf_dir, tmp_path_factory):
    """(source manifest, {table: expected column types}) after exporting
    the namespace above and importing it into ``_RT_DST``."""
    nested = str(tmp_path_factory.mktemp("nested") / "nested")
    spark.sql(
        "SELECT " + ", ".join(f"{v} AS {k}" for k, v in _NESTED_COLS.items())
    ).write.parquet(nested)
    odd = str(tmp_path_factory.mktemp("odd") / "odd")
    spark.range(4).selectExpr(
        *(f"id + {i} AS `{c.replace('`', '``')}`" for i, c in enumerate(_ODD_COLS)),
        _ODD_STRUCT,
        f"if(id < 2, 'o''neil', 'plain') AS `{_ODD_PART}`",
    ).write.partitionBy(_ODD_PART).parquet(odd)
    csv = str(tmp_path_factory.mktemp("csv") / "csv")
    spark.range(3).selectExpr("id", "concat('v', id) AS v").write.option(
        "header", "true"
    ).csv(csv)
    locations = {t: table_path(sf_dir, t) for t in TABLES}
    locations |= {"nested": nested, "odd": odd}
    spark.sql(f"DROP DATABASE IF EXISTS {_RT_SRC} CASCADE")
    spark.sql(f"CREATE DATABASE {_RT_SRC}")
    props = ", ".join(
        f"{_sql_literal(k)}={_sql_literal(v)}" for k, v in _RT_PROPS.items()
    )
    for t, loc in locations.items():
        clause = f" TBLPROPERTIES ({props})" if t in ("nation", "odd") else ""
        spark.sql(
            f"CREATE TABLE {_RT_SRC}.{t} USING parquet LOCATION '{loc}'{clause}"
        )
    spark.sql(
        f"CREATE TABLE {_RT_SRC}.csv_header USING csv OPTIONS (header 'true') "
        f"LOCATION '{csv}'"
    )
    comment, col, col_comment = _RT_COMMENTS["nation"]
    spark.sql(f"COMMENT ON TABLE {_RT_SRC}.nation IS {_sql_literal(comment)}")
    spark.sql(
        f"ALTER TABLE {_RT_SRC}.nation ALTER COLUMN {col} "
        f"COMMENT {_sql_literal(col_comment)}"
    )
    spark.sql(f"ALTER TABLE {_RT_SRC}.odd RECOVER PARTITIONS")
    spark.sql(
        f"ANALYZE TABLE {_RT_SRC}.odd COMPUTE STATISTICS FOR COLUMNS "
        "`select`, `my col`, `a``b`, `part col`"
    )
    comment, col, col_comment = _RT_COMMENTS["by_region"]
    spark.sql(
        f"CREATE VIEW {_RT_SRC}.by_region "
        f"(n_regionkey, {col} COMMENT {_sql_literal(col_comment)}) "
        f"COMMENT {_sql_literal(comment)} AS {_RT_VIEW.format(db=_RT_SRC)}"
    )
    want_types = {
        t: [f.dataType.simpleString() for f in spark.read.parquet(loc).schema]
        for t, loc in locations.items()
    }
    want_types["csv_header"] = [
        f.dataType.simpleString()
        for f in spark.read.option("header", "true").csv(csv).schema
    ]
    manifest = export_manifest(spark, _RT_SRC)
    import_manifest(spark.newSession(), manifest, _RT_DST)
    yield manifest, want_types
    for db in (_RT_DST, _RT_SRC):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_manifest_roundtrips_views_properties_and_nested_types(spark, roundtrip):
    """Export -> import -> export is the identity up to the namespace
    name: the multi-line view text arrives whole and resolves, property
    values keep their separators, quotes and backslashes, nested column
    types replay in CREATE TABLE, columns that need backquotes keep
    their partitions, statistics and rows, a CSV table keeps its
    provider and ``header`` option, so it reads the same rows, and table
    and column comments of a table and a view arrive."""
    manifest, _ = roundtrip
    view = {e["table"]: e for e in manifest}["by_region"]
    assert view["view_text"] == _RT_VIEW.format(db=_RT_SRC)
    assert _diff_manifests(manifest, export_manifest(spark, _RT_DST), _RT_SRC, _RT_DST) == []
    n_src = spark.table(f"{_RT_SRC}.by_region").count()
    assert n_src > 0 and spark.table(f"{_RT_DST}.by_region").count() == n_src
    props = {
        r.key: r.value
        for r in spark.sql(f"SHOW TBLPROPERTIES {_RT_DST}.nation").collect()
        if r.key in _RT_PROPS
    }
    assert props == _RT_PROPS
    dims = {
        db: spark.sql(f"SELECT DISTINCT size(embedding) FROM {db}.embeddings").collect()
        for db in (_RT_SRC, _RT_DST)
    }
    assert dims[_RT_DST] == dims[_RT_SRC] and len(dims[_RT_SRC]) == 1
    odd = {e["table"]: e for e in manifest}["odd"]
    assert odd["partition_columns"] == [_ODD_PART] and len(odd["partitions"]) == 2
    assert set(odd["statistics"]["columns"]) == {*_ODD_COLS, _ODD_PART}
    rows = {db: sorted(spark.table(f"{db}.odd").collect()) for db in (_RT_SRC, _RT_DST)}
    assert rows[_RT_DST] == rows[_RT_SRC] and len(rows[_RT_SRC]) == 4
    csv = {e["table"]: e for e in manifest}["csv_header"]
    assert (csv["format"], csv["options"]) == ("csv", {"header": "true"})
    rows = {
        db: sorted(spark.table(f"{db}.csv_header").collect()) for db in (_RT_SRC, _RT_DST)
    }
    assert rows[_RT_DST] == rows[_RT_SRC] and len(rows[_RT_SRC]) == 3
    for t, (comment, col, col_comment) in _RT_COMMENTS.items():
        for db in (_RT_SRC, _RT_DST):
            desc = describe(spark, f"{db}.{t}")
            got = {c["name"]: c.get("comment") for c in desc["columns"]}
            assert (desc.get("comment"), got[col]) == (comment, col_comment), (db, t)


def test_import_starts_no_spark_job(spark, roundtrip, count_jobs):
    """Importing the whole ``roundtrip`` manifest (partitions, statistics,
    comments, a view) is catalog calls only: it starts no Spark job,
    and the analyzed table's statistics arrive all the same."""
    manifest, _ = roundtrip
    db = "eng_meta_rt_jobs"
    try:
        _, jobs = count_jobs(lambda: import_manifest(spark.newSession(), manifest, db))
        assert jobs == 0, f"import_manifest started {jobs} Spark job(s)"
        odd = {e["table"]: e for e in manifest}["odd"]
        got = {e["table"]: e for e in export_manifest(spark, db)}["odd"]
        assert got["statistics"] == odd["statistics"]
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_manifest_without_size_in_bytes_raises_value_error(spark, roundtrip):
    """A v4 manifest's statistics lack ``size_in_bytes`` (and the column
    lengths): import names the missing field in a ``ValueError`` before
    it touches the target namespace."""
    manifest, _ = roundtrip
    v4 = copy.deepcopy(manifest)
    for e in v4:
        stats = e.get("statistics") or {}
        stats.pop("size_in_bytes", None)
        for fields in stats.get("columns", {}).values():
            del fields["avg_len"], fields["max_len"]
    db = "eng_meta_rt_v4"
    with pytest.raises(ValueError, match="lack size_in_bytes"):
        import_manifest(spark.newSession(), v4, db)
    assert not spark.catalog.databaseExists(db)


def test_exported_column_types_match_parquet_schema(roundtrip):
    """The manifest spells every column type as ``simpleString()`` of the
    table's file schema — for all base tables, for decimal, map and
    struct-of-array columns and for a CSV table's string columns — so
    existing manifests keep their type strings and every type replays
    in CREATE TABLE.  The one departure is a
    struct field name that is not a plain identifier: it is backquoted,
    where ``simpleString()`` leaves ``my f`` bare and unparseable."""
    manifest, want_types = roundtrip
    got = {
        e["table"]: [c["type"] for c in e["columns"]]
        for e in manifest
        if e["type"] == "table"
    }
    odd = [t.replace("struct<my f:", "struct<`my f`:") for t in want_types["odd"]]
    assert "struct<`my f`:bigint,ok:bigint>" in odd
    assert got == dict(want_types, odd=odd)
    assert want_types["nested"] == [
        "decimal(28,4)", "map<string,int>", "struct<x:int,y:array<string>>"
    ]


# One column per statistics shape: integers, a double, a decimal, a
# boolean, a string (no min/max), a date, a microsecond timestamp (stored
# in UTC form, displayed with the zone) and an all-NULL column.
_TYPED_COLS = {
    "i": "CAST(id AS INT)",
    "b": "if(id % 5 = 0, NULL, id * 1000000007)",
    "d": "id / 4.0D",
    "dec": "CAST(id / 3 AS DECIMAL(10,2))",
    "flag": "id % 3 = 0",
    "s": "concat('s', id % 7)",
    "dt": "date_add(DATE'2020-01-01', CAST(id AS INT))",
    "ts": "TIMESTAMP'2020-01-01 10:00:00.123456' + make_interval(0, 0, 0, 0, 0, 0, id)",
    "nothing": "CAST(NULL AS INT)",
}
_HIST_COL = "d"


def _analyze_typed(spark, table: str) -> None:
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR ALL COLUMNS")
    with conf_scope(spark, {"spark.sql.statistics.histogram.enabled": "true"}):
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {_HIST_COL}")


def _plan_stats(df) -> tuple:
    """(size, rows, {column: its estimate in stored form}) of the
    optimized plan's statistics, keyed by name, not by expression id."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    conv = df.sparkSession._jvm.scala.jdk.javaapi.CollectionConverters
    columns = {}
    for attr, col_stat in conv.asJava(stats.attributeStats()).items():
        name = attr.name()
        stored = col_stat.toCatalogColumnStat(name, attr.dataType()).toMap(name)
        columns[name] = dict(conv.asJava(stored))
    return stats.sizeInBytes(), str(stats.rowCount()), columns


def test_statistics_replay_matches_analyze_across_types(spark, tmp_path):
    """Statistics written from the manifest are the statistics ANALYZE
    stored, for every column type: each column's DESCRIBE and the
    table's statistics read the same on both sides, the cost-based
    optimizer estimates a filter the same, and ANALYZE re-run on the
    target over the shared files stores exactly what was replayed."""
    src, dst = "eng_meta_types_src", "eng_meta_types_dst"
    loc = str(tmp_path / "typed")
    spark.range(40).selectExpr(*(f"{v} AS {k}" for k, v in _TYPED_COLS.items())).write.parquet(loc)
    try:
        spark.sql(f"DROP DATABASE IF EXISTS {src} CASCADE")
        spark.sql(f"CREATE DATABASE {src}")
        spark.sql(f"CREATE TABLE {src}.typed USING parquet LOCATION '{loc}'")
        _analyze_typed(spark, f"{src}.typed")
        manifest = export_manifest(spark, src)
        stats = manifest[0]["statistics"]
        assert set(stats["columns"]) == set(_TYPED_COLS)
        assert [c for c, f in stats["columns"].items() if "histogram" in f] == [_HIST_COL]
        assert stats["columns"]["ts"]["min"] == "2020-01-01 10:00:00.123456"
        assert stats["columns"]["nothing"]["nulls"] == 40
        import_manifest(spark.newSession(), manifest, dst)

        for col in _TYPED_COLS:
            rows = {
                db: spark.sql(f"DESCRIBE TABLE EXTENDED {db}.typed {col}").collect()
                for db in (src, dst)
            }
            assert rows[dst] == rows[src], col
        assert describe(spark, f"{dst}.typed")["statistics"] == (
            describe(spark, f"{src}.typed")["statistics"]
        )
        where = (
            "i < 30 AND d > 1.5 AND dt < DATE'2020-02-01' "
            "AND ts > TIMESTAMP'2020-01-01 10:00:05' AND s <> 's3'"
        )
        with conf_scope(spark, {"spark.sql.cbo.enabled": "true"}):
            plan = {db: _plan_stats(spark.table(f"{db}.typed").where(where)) for db in (src, dst)}
        assert plan[dst] == plan[src]
        assert set(plan[src][2]) == set(_TYPED_COLS)

        replayed = export_manifest(spark, dst)[0]["statistics"]
        assert replayed == stats
        _analyze_typed(spark, f"{dst}.typed")
        assert export_manifest(spark, dst)[0]["statistics"] == replayed
    finally:
        for db in (dst, src):
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_meta_diff_reports_partition_location_drift(spark, sf_dir, tmp_path):
    """A partition of the drifted copy moved with ``SET LOCATION`` is one
    more drift row, ``partition_locations``, beside meta_diff's four."""
    from yc_data_proc_metadata_import_spark.plans import metadata as M

    base = [tuple(r) for r in M.meta_diff(spark, sf_dir).collect()]
    assert len(base) == 4
    spark.sql(
        f"ALTER TABLE {M._DIFF_DB}.{M._PART_TABLE} PARTITION ({M._PART_COL} = '1-URGENT') "
        f"SET LOCATION {_sql_literal(str(tmp_path))}"
    )
    rows = M._diff_manifests(
        export_manifest(spark, _SRC_DB), export_manifest(spark, M._DIFF_DB), _SRC_DB, M._DIFF_DB
    )
    assert sorted(set(rows) - set(base)) == [
        (
            M._PART_TABLE,
            "partition_locations",
            "",
            f"(`{M._PART_COL}`='1-URGENT') file:{tmp_path}",
        )
    ]
    assert len(rows) == 5


def _one_table(db: str) -> list:
    """A manifest of one analyzed table with two analyzed partitions."""
    stats = {"row_count": 3, "size_in_bytes": 30, "columns": {}}
    return [
        {
            "database": db,
            "table": "t",
            "type": "table",
            "comment": "",
            "format": "parquet",
            "options": {},
            "location": "file:/shared/t",
            "columns": [
                {"name": "a", "type": "int", "ordinal": 0, "comment": ""},
                {"name": "p", "type": "string", "ordinal": 1, "comment": ""},
            ],
            "partition_columns": ["p"],
            "partitions": [
                {"spec": {"p": v}, "statistics": dict(stats)} for v in ("x", "y")
            ],
            "properties": {},
            "view_text": "",
            "statistics": dict(stats, row_count=6),
        }
    ]


_ENTRY_DRIFTS = {
    "location": lambda e: e.update(location="file:/elsewhere/t"),
    "partition_row_count": lambda e: e["partitions"][0]["statistics"].update(row_count=4),
    "partition_spec": lambda e: e["partitions"][1].update(spec={"p": "z"}),
}


@pytest.mark.parametrize("drift", sorted(_ENTRY_DRIFTS))
def test_diff_reports_drift_outside_its_aspects(drift):
    """A table location, one partition's statistics or one partition's
    spec at an unchanged partition count has no aspect of its own: the
    diff reports it as exactly one ``entry`` row naming the field, and
    nothing for the undrifted copy in another namespace."""
    src, dst = _one_table("a"), _one_table("b")
    assert _diff_manifests(src, dst, "a", "b") == []
    _ENTRY_DRIFTS[drift](dst[0])
    rows = _diff_manifests(src, dst, "a", "b")
    assert [r[:2] for r in rows] == [("t", "entry")], rows
    field = "location" if drift == "location" else "partitions"
    assert [set(json.loads(v)) for v in rows[0][2:]] == [{field}, {field}]


_POLICY_DB = "eng_meta_policy"


@pytest.fixture
def reimport(spark, sf_dir, monkeypatch):
    """(source manifest, target session, the statements that session sends
    from now on) after one import of the source namespace into
    ``_POLICY_DB``."""
    from yc_data_proc_metadata_import_spark.plans import metadata as M

    M._ensure_source(spark, sf_dir)
    manifest = export_manifest(spark, _SRC_DB)
    target, sent = spark.newSession(), []
    spark.sql(f"DROP DATABASE IF EXISTS {_POLICY_DB} CASCADE")
    import_manifest(target, manifest, _POLICY_DB)
    real_sql = target.sql

    def sql(query, *args, **kwargs):
        sent.append(query)
        return real_sql(query, *args, **kwargs)

    monkeypatch.setattr(target, "sql", sql)
    yield manifest, target, sent
    spark.sql(f"DROP DATABASE IF EXISTS {_POLICY_DB} CASCADE")


_CREATE_DB = f"CREATE DATABASE IF NOT EXISTS {_POLICY_DB}"


def test_import_keeps_and_reports_target_only_table(spark, sf_dir, reimport):
    """A table that only the target holds survives the import, which
    returns its ``presence`` row."""
    manifest, target, sent = reimport
    spark.sql(
        f"CREATE TABLE {_POLICY_DB}.extra USING parquet "
        f"LOCATION '{table_dir(sf_dir, 'region')}'"
    )
    got = import_manifest(target, manifest, _POLICY_DB)
    assert got == [("extra", "presence", "absent", "present")]
    assert sent == [_CREATE_DB]
    assert spark.table(f"{_POLICY_DB}.extra").count() > 0


def test_unchanged_reimport_sends_no_ddl(reimport, monkeypatch):
    """Re-importing into a target that equals the manifest sends only
    CREATE DATABASE IF NOT EXISTS and writes no statistics."""
    from yc_data_proc_metadata_import_spark.plans import metadata as M

    manifest, target, sent = reimport
    stats = []
    monkeypatch.setattr(M, "write_stats", lambda *args: stats.append(args))
    assert import_manifest(target, manifest, _POLICY_DB) == []
    assert (sent, stats) == ([_CREATE_DB], [])


def test_changed_property_is_restored_by_one_replace(spark, sf_dir, reimport):
    """A table property changed on the target comes back through one
    DROP TABLE and one CREATE TABLE of that table (its partitions added
    again), and the shared partitioned data tree stays as it was."""
    manifest, target, sent = reimport
    tbl = f"{_POLICY_DB}.orders_part"
    spark.sql(f"ALTER TABLE {tbl} SET TBLPROPERTIES ('owner_team'='other')")
    shared = parts_orders_fixture(spark, sf_dir)
    before = _tree(shared)
    assert import_manifest(target, manifest, _POLICY_DB) == []
    assert [q for q in sent if q.startswith("DROP ")] == [f"DROP TABLE {tbl}"]
    assert [q.split(" (")[0] for q in sent if q.startswith("CREATE TABLE")] == [
        f"CREATE TABLE {tbl}"
    ]
    assert all(q.startswith(f"ALTER TABLE {tbl} ADD PARTITION ") for q in sent[3:]), sent
    assert _diff_manifests(manifest, export_manifest(spark, _POLICY_DB), _SRC_DB, _POLICY_DB) == []
    assert _tree(shared) == before


def test_managed_table_in_the_way_is_refused(spark, reimport):
    """A MANAGED table under a manifest name would lose its data to the
    replacing DROP: the import raises before any object statement, and
    the table still reads its rows."""
    manifest, target, sent = reimport
    tbl = f"{_POLICY_DB}.region_ext"
    spark.sql(f"DROP TABLE {tbl}")
    spark.sql(f"CREATE TABLE {tbl} USING parquet AS SELECT 7 AS r_regionkey")
    with pytest.raises(ValueError, match="region_ext"):
        import_manifest(target, manifest, _POLICY_DB)
    assert sent == [_CREATE_DB]
    assert [r.r_regionkey for r in spark.table(tbl).collect()] == [7]


def test_view_in_place_of_a_table_is_replaced(spark, reimport):
    """A view on the target under the name of a manifest table is dropped
    as a view and the table created in its place."""
    manifest, target, sent = reimport
    tbl = f"{_POLICY_DB}.nation_ext"
    spark.sql(f"DROP TABLE {tbl}")
    spark.sql(f"CREATE VIEW {tbl} AS SELECT 1 AS n_nationkey")
    assert import_manifest(target, manifest, _POLICY_DB) == []
    assert [q for q in sent if q.startswith("DROP ")] == [f"DROP VIEW {tbl}"]
    assert spark.catalog.getTable(tbl).tableType == "EXTERNAL"
    assert _diff_manifests(manifest, export_manifest(spark, _POLICY_DB), _SRC_DB, _POLICY_DB) == []
