"""Sort / limit / top-k operators (SURVEY.md SS2.8).

Spark executes a global orderBy as a range-partitioned sort (sampling pass
picks balanced boundaries — skew-safe at 100 TB); orderBy+limit compiles to
TakeOrderedAndProject, which keeps only k rows per partition then merges —
no full sort, no full shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load


@query(
    "sort_multi",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CASE WHEN c_acctbal < 500.0 THEN NULL ELSE c_acctbal END AS bal
    FROM customer
    ORDER BY c_mktsegment ASC, bal DESC NULLS LAST, c_custkey ASC
    """,
)
def sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with explicit direction + null placement (Spark's
    default NULL ordering differs from DuckDB's, so it is always spelled
    out).  NULLs are introduced to actually exercise the placement."""
    c = load(spark, sf_dir, "customer")
    return (
        c.withColumn("bal", F.when(F.col("c_acctbal") < 500.0, None).otherwise(F.col("c_acctbal")))
        .select("c_custkey", "c_mktsegment", "bal")
        .orderBy(
            F.col("c_mktsegment").asc(),
            F.col("bal").desc_nulls_last(),
            F.col("c_custkey").asc(),
        )
    )


@query(
    "topk_global",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy+limit => TakeOrderedAndProject (per-partition
    heap of k, then single merge — the only sane global-sort at 100 TB).
    o_orderkey tiebreaker makes the row set deterministic."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


@query(
    "sql_distribute_sort_by",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_quantity >= 45.0
    """,
)
def sql_distribute_sort_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-dialect DISTRIBUTE BY / SORT BY: hash-partition on a key and
    sort WITHIN each partition without a global sort — the write-side
    layout clause for producing partition-locally-ordered files (the
    cheap cousin of ORDER BY: no range exchange, no global merge). The
    row SET is unchanged, which is exactly what the order-insensitive
    hash verifies; the clause's effect is the exchange+local-sort in the
    plan."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("dsb_lineitem")
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM dsb_lineitem WHERE l_quantity >= 45.0
        DISTRIBUTE BY l_orderkey SORT BY l_orderkey, l_linenumber
        """
    )


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE syntax (Spark 4.0's ``|>`` operator chain) — the
    linear-dataflow SQL dialect where each stage reads top-to-bottom
    like the DataFrame API. Semantically identical to the classic
    SELECT (the oracle) and compiled to the same logical plan, so the
    pruned scan / partial agg / sort shapes are unchanged — the point
    of the key is that the ENTRY surface exists and resolves; nothing
    about execution differs.
    """
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("pipe_lineitem")
    return spark.sql(
        """
        FROM pipe_lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |> AGGREGATE COUNT(*) AS n,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
           GROUP BY l_returnflag
        |> SELECT l_returnflag, n, sum_qty
        |> ORDER BY l_returnflag
        """
    )


@query(
    "sql_scripting",
    oracle="""
    WITH m AS (SELECT MAX(o_totalprice) AS mx FROM orders)
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN o_totalprice > mx / 8 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above_eighth,
           CAST(SUM(CASE WHEN o_totalprice * 4 > mx THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above_quarter
    FROM orders, m GROUP BY o_orderpriority
    """,
    conf={"spark.sql.scripting.enabled": "true"},
)
def sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING + SESSION VARIABLES (Spark 4 public surface): a
    BEGIN...END block with local DECLAREd variables, a scalar-subquery
    SET, and a WHILE loop computes a data-dependent threshold
    (max/2^3), parameterized further by a session variable set OUTSIDE
    the script (DECLARE/SET VARIABLE) — the migration path for stored-
    procedure-style ETL logic that previously needed a driver program.

    Exactness: the loop halves a double three times (pure exponent
    decrements — no rounding), and ``thr * 8`` recovers the max
    bit-exactly, so the oracle can express the script's control flow as
    closed-form arithmetic; the comparisons are identical double
    compares on both engines. Execution shape is unchanged by the
    dialect: one scalar aggregate (broadcast), one grouped aggregate —
    the script only SEQUENCES relational statements, each of which
    Catalyst plans normally.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("script_orders")
    spark.sql("DECLARE OR REPLACE VARIABLE eng_script_factor BIGINT DEFAULT 2")
    spark.sql("SET VARIABLE eng_script_factor = 4")
    return spark.sql(
        """
        BEGIN
          DECLARE thr DOUBLE DEFAULT 0;
          DECLARE i INT DEFAULT 0;
          SET thr = (SELECT MAX(o_totalprice) FROM script_orders);
          WHILE i < 3 DO
            SET thr = thr / 2;
            SET i = i + 1;
          END WHILE;
          SELECT o_orderpriority,
                 COUNT(*) AS n_orders,
                 CAST(SUM(CASE WHEN o_totalprice > thr
                               THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_above_eighth,
                 CAST(SUM(CASE WHEN o_totalprice * eng_script_factor
                                    > thr * 8
                               THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_above_quarter
          FROM script_orders GROUP BY o_orderpriority;
        END
        """
    )


@query(
    "sql_parameterized",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MAX(o_totalprice) AS max_price
    FROM orders
    WHERE o_totalprice > 150000.0 AND o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAMETERIZED SQL (Spark 4 named-parameter binding): the query text
    carries ``:threshold`` / ``:status`` placeholders and a ``{orders}``
    DataFrame template reference; values bind at parse time through
    ``spark.sql(..., args=...)`` — the injection-safe way a service layer
    runs user-supplied filters (string concatenation into SQL is the
    anti-pattern this API exists to kill).  Binding happens before
    Catalyst sees the plan, so the bound literals participate in constant
    folding and parquet predicate pushdown exactly like hand-written
    ones."""
    orders = load(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               MAX(o_totalprice) AS max_price
        FROM {orders}
        WHERE o_totalprice > :threshold AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"threshold": 150000.0, "status": "O"},
        orders=orders,
    )


@query(
    "sql_group_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY o_orderstatus, o_orderpriority
    """,
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (Spark 3.4+ SQL sugar): every
    non-aggregate select item becomes a grouping key implicitly — the
    ergonomic form analysts write, resolved at PARSE time to the
    explicit grouping the oracle spells out, so the plan (and therefore
    the scale behavior) is identical to hand-listed keys."""
    orders = load(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               MAX(o_totalprice) AS max_price
        FROM {orders} GROUP BY ALL ORDER BY ALL
        """,
        orders=orders,
    )


@query(
    "sql_star_except",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
    FROM orders WHERE o_orderkey % 10 = 0
    """,
)
def sql_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT * EXCEPT (...) — project everything BUT the listed columns
    (Spark 3.4+; DuckDB spells it EXCLUDE): the maintainable spelling
    when a wide table evolves — new columns flow through automatically
    while the dropped ones (here the price/date measures) stay dropped,
    the opposite failure mode of a hand-listed projection that silently
    omits additions.  Resolved at analysis time to an explicit
    projection, so column pruning reaches the scan exactly as if the
    list were written by hand."""
    orders = load(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT * EXCEPT (o_totalprice, o_orderdate)
        FROM {orders} WHERE o_orderkey % 10 = 0
        """,
        orders=orders,
    )


@query(
    "sql_lateral_alias",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           o_totalprice * 0.05 AS tax,
           o_totalprice + o_totalprice * 0.05 AS gross
    FROM orders WHERE o_orderkey % 7 = 0
    """,
)
def sql_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL COLUMN ALIAS (Spark 3.4+): a select item referencing an
    alias defined EARLIER IN THE SAME SELECT (``gross`` reads ``tax``) —
    killing the nested-subquery boilerplate derived-metric chains used
    to need.  Resolved at analysis time by inlining the aliased
    expression, so the oracle states the inlined form and both engines
    evaluate the identical double expression tree (same operands, same
    two IEEE ops — bit-equal)."""
    orders = load(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice,
               o_totalprice * 0.05 AS tax,
               o_totalprice + tax AS gross
        FROM {orders} WHERE o_orderkey % 7 = 0
        """,
        orders=orders,
    )
