"""Aggregation operators (SURVEY.md SS2.6).

Every group-by here compiles to Spark's partial+final HashAggregate pair:
map-side combine shrinks the shuffle to |groups| x state rows, so at 100 TB
these stay scan-bound.  Float SUM/AVG use the exact-decimal trick from
utils.py (order-independent bits => hash-stable vs DuckDB); stats are
derived from exact moment sums with IDENTICAL scalar expression trees on
both engines, so even stddev/corr match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load
from ..utils import davg, dsum, materialize, sql_davg, sql_dsum


@query(
    "agg_global",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           {sql_dsum('l_quantity')} AS total_qty,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           {sql_davg('l_discount')} AS avg_discount,
           COUNT(DISTINCT l_suppkey) AS n_suppliers
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (keyless) aggregate: single-row result, partial aggregation
    on every partition then one tiny final reduce."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity", "total_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        davg("l_discount", "avg_discount"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


@query(
    "agg_groupby",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash group-by with the five classic aggregates."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_quantity", "sum_qty"),
        davg("l_extendedprice", "avg_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT o_orderstatus) AS n_statuses,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts: Catalyst plans these as expand + two-phase
    aggregation; at scale prefer agg_approx_distinct when a few % error is
    acceptable (no expand blow-up)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "agg_approx_distinct",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS exact_customers,
           true AS approx_within_5pct
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct — the 100 TB path for distinct
    counts (constant memory, mergeable sketch, no expand blow-up).

    DuckDB's approx_count_distinct uses a different sketch, so the raw
    estimate can't hash-match; instead the CHECKABLE output is the
    accuracy contract itself — ``approx_within_5pct`` asserts the HLL
    estimate (rsd=0.02) lands within 5% of the exact count, which the
    oracle pins to literal true. The HLL path still executes (the flag
    is computed from it), and the exact count rides along for scale."""
    o = load(spark, sf_dir, "orders")
    approx = F.approx_count_distinct("o_custkey", 0.02)
    exact = F.countDistinct("o_custkey")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        exact.alias("exact_customers"),
        (
            F.abs(approx.cast("double") - exact.cast("double"))
            <= 0.05 * exact.cast("double")
        ).alias("approx_within_5pct"),
    )


@query(
    "agg_having",
    oracle=f"""
    SELECT o_custkey, COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS total_spent
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 5
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING = filter over the aggregated frame (Catalyst folds it into
    the aggregate's output filter)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total_spent"))
        .filter(F.col("n_orders") >= 5)
    )


@query(
    "agg_rollup",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy: (status, priority) -> (status) -> (); grouping()
    flags disambiguate subtotal rows from genuine NULL groups."""
    o = load(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "total_price"),
    )


@query(
    "agg_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping combinations in one pass (Expand operator)."""
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "total_price"),
    )


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via spark.sql (the DataFrame API has no
    grouping-sets verb; SQL is the idiomatic spelling in both engines)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("gs_orders")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               {sql_dsum('o_totalprice')} AS total_price
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "agg_collect",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
           COUNT(DISTINCT n_name) AS n_distinct
    FROM nation
    GROUP BY n_regionkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list / collect_set: list aggregation is order-unstable
    across partitions, so the list is sorted then joined to a canonical
    string (hash-stable on both engines)."""
    n = load(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations_csv"),
        F.size(F.collect_set("n_name")).cast("bigint").alias("n_distinct"),
    )


@query(
    "agg_percentile",
    oracle="""
    WITH ranked AS (
        SELECT o_orderpriority, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
    )
    SELECT o_orderpriority, AVG(o_totalprice) AS median_price
    FROM ranked
    WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
    GROUP BY o_orderpriority
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median via the dual-rank trick (deterministic on both engines,
    unlike interpolated percentile implementations which differ in ulps).
    At 100 TB swap in approx_percentile — single pass, mergeable sketch —
    when exactness isn't required; the exact version costs one sort-shuffle
    per group which is still viable because rows are partitioned by group.
    """
    o = load(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    wn = Window.partitionBy("o_orderpriority")
    ranked = o.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    mid = ranked.filter(
        (F.col("rn") == F.expr("(n + 1) div 2")) | (F.col("rn") == F.expr("(n + 2) div 2"))
    )
    return mid.groupBy("o_orderpriority").agg(F.avg("o_totalprice").alias("median_price"))


# Stats determinism: moments are accumulated over INTEGER-scaled values
# (x * 1e4 floored), summed as scale-0 decimals.  A scale-0 decimal ->
# double cast is a single correctly-rounded conversion on both engines;
# decimals WITH scale diverge (DuckDB converts int128 then divides by
# 10^scale — two roundings vs Spark's exactly-rounded BigDecimal cast).
# The final stats rescale in identical double arithmetic.
_SCALE = "10000.0"
_IX = f"CAST(FLOOR(l_quantity * {_SCALE} + 0.5) AS DECIMAL(19,0))"
_IY = f"CAST(FLOOR(l_extendedprice * {_SCALE} + 0.5) AS DECIMAL(19,0))"
_N = "CAST(COUNT(l_quantity) AS DOUBLE)"
_SX = f"CAST(SUM({_IX}) AS DOUBLE)"
_SY = f"CAST(SUM({_IY}) AS DOUBLE)"
_SXX = f"CAST(SUM({_IX} * {_IX}) AS DOUBLE)"
_SYY = f"CAST(SUM({_IY} * {_IY}) AS DOUBLE)"
_SXY = f"CAST(SUM({_IX} * {_IY}) AS DOUBLE)"
_VARQ = f"(({_SXX} - {_SX} * {_SX} / {_N}) / ({_N} - 1.0) / 100000000.0)"


@query(
    "agg_stats",
    oracle=f"""
    SELECT l_returnflag,
           {_VARQ} AS var_qty,
           SQRT({_VARQ}) AS stddev_qty,
           ({_SXY} - {_SX} * {_SY} / {_N})
             / (SQRT({_SXX} - {_SX} * {_SX} / {_N})
                * SQRT({_SYY} - {_SY} * {_SY} / {_N})) AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance / stddev / correlation from exact integer-scaled
    moment sums: both engines compute the identical scalar expression over
    identical doubles, so results are bit-equal (the engines' native
    streaming stddev/corr are accumulation-order-dependent and would
    hash-mismatch).  One shuffle, six tiny aggregate states per group."""
    li = load(spark, sf_dir, "lineitem")
    ix = F.floor(F.col("l_quantity") * 10000.0 + 0.5).cast("decimal(19,0)")
    iy = F.floor(F.col("l_extendedprice") * 10000.0 + 0.5).cast("decimal(19,0)")
    m = li.groupBy("l_returnflag").agg(
        F.count("l_quantity").cast("double").alias("n"),
        F.sum(ix).cast("double").alias("sx"),
        F.sum(iy).cast("double").alias("sy"),
        F.sum(ix * ix).cast("double").alias("sxx"),
        F.sum(iy * iy).cast("double").alias("syy"),
        F.sum(ix * iy).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    var_qty = (sxx - sx * sx / n) / (n - F.lit(1.0)) / F.lit(100000000.0)
    corr = (sxy - sx * sy / n) / (
        F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)
    )
    return m.select(
        "l_returnflag",
        var_qty.alias("var_qty"),
        F.sqrt(var_qty).alias("stddev_qty"),
        corr.alias("corr_qty_price"),
    )


@query(
    "agg_bool",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000.0) AS all_over_1k,
           bool_or(o_orderstatus = 'P') AS any_pending,
           CAST(count_if(o_orderstatus = 'O') AS BIGINT) AS n_open
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family: every/any/count_if — exact predicates,
    partial-aggregated like any other hash agg (one bit per group per
    partition crosses the shuffle)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.every(F.col("o_totalprice") > 1000.0).alias("all_over_1k"),
        F.some(F.col("o_orderstatus") == "P").alias("any_pending"),
        F.count_if(F.col("o_orderstatus") == "O").alias("n_open"),
    )


@query(
    "agg_histogram",
    oracle="""
    SELECT CASE WHEN o_totalprice < 0.0 THEN 0
                WHEN o_totalprice >= 600000.0 THEN 13
                ELSE CAST(FLOOR(o_totalprice * 12.0 / 600000.0) AS BIGINT) + 1
           END AS bucket,
           COUNT(*) AS n,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM orders GROUP BY bucket
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (12 buckets over [0, 600k), under/overflow in
    buckets 0/13) — the profiling aggregate every data-quality dashboard
    runs. The bucket index is the SAME explicit floor arithmetic in both
    engines (DuckDB has no width_bucket; an engine-specific builtin could
    round boundaries differently anyway), so assignment is bit-identical
    and the only shuffle carries one row per bucket per partition."""
    o = load(spark, sf_dir, "orders")
    v = F.col("o_totalprice")
    bucket = (
        F.when(v < 0.0, F.lit(0))
        .when(v >= 600000.0, F.lit(13))
        .otherwise(F.floor(v * 12.0 / 600000.0) + 1)
        .cast("long")
    )
    return (
        o.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@query(
    "agg_time_window",
    oracle=f"""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS window_end,
           event_type, COUNT(*) AS n_events, {{vsum}} AS value_sum
    FROM events
    GROUP BY 1, 2, 3
    """.format(vsum="CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE)"),
)
def agg_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH event-time windowing: F.window() tumbling buckets as a plain
    groupBy dimension — the same bucketing the streaming keys use, shown
    on the batch API (backfills run exactly this query over historical
    data, then the streaming twin takes over for the live tail). One hash
    aggregation; the window struct is computed row-locally, so partial
    aggregation combines map-side like any groupBy."""
    from ..utils import dsum

    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "value_sum"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


@query(
    "agg_minmax_by",
    oracle="""
    SELECT o_orderpriority,
           arg_max(o_orderkey,
                   CAST(round(o_totalprice * 100.0) AS BIGINT) * 10000000000
                     + o_orderkey) AS priciest_order,
           arg_min(o_orderkey,
                   CAST(round(o_totalprice * 100.0) AS BIGINT) * 10000000000
                     + o_orderkey) AS cheapest_order,
           arg_min(o_orderstatus, o_orderkey) AS first_status
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by (argmax/argmin): fetch the key of the extreme row
    per group in ONE aggregation pass — no rank-window + filter detour,
    so it partial-aggregates map-side like any other agg.

    max_by is explicitly nondeterministic under ties, so the ordering
    value is made UNIQUE by folding the unique orderkey into the
    cent-exact price (price_cents * 1e10 + orderkey, all < 2^63) —
    ties then resolve to the same row in both engines."""
    o = load(spark, sf_dir, "orders")
    ordv = (
        F.round(F.col("o_totalprice") * 100.0).cast("long") * F.lit(10000000000)
        + F.col("o_orderkey")
    )
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", ordv).alias("priciest_order"),
        F.min_by("o_orderkey", ordv).alias("cheapest_order"),
        F.min_by("o_orderstatus", "o_orderkey").alias("first_status"),
    )


@query(
    "agg_bitwise",
    oracle="""
    SELECT o_orderpriority,
           bit_or(CAST(1 << (o_orderkey % 7) AS BIGINT)) AS flags_any,
           bit_and(CAST(255 | (o_orderkey % 16) AS BIGINT)) AS flags_all,
           bit_xor(CAST(o_orderkey AS BIGINT)) AS key_parity_fold
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise AGGREGATES: fold per-row flag bitmaps with bit_or /
    bit_and / bit_xor — the set-of-flags rollup (feature bitmaps,
    permission masks) that replaces collect_set for small enumerable
    domains. Associative and commutative, so partial aggregation
    combines map-side; one BIGINT per group crosses the shuffle."""
    o = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    # F.shiftleft takes a Python-int bit count, so the per-row shift is
    # spelled in SQL (same expression DuckDB runs).
    flag = F.expr("CAST(shiftleft(1, CAST(o_orderkey % 7 AS INT)) AS BIGINT)")
    return o.groupBy("o_orderpriority").agg(
        F.bit_or(flag).alias("flags_any"),
        F.bit_and((F.lit(255).bitwiseOR(k % 16)).cast("bigint")).alias("flags_all"),
        F.bit_xor(k.cast("bigint")).alias("key_parity_fold"),
    )


@query(
    "agg_approx_percentile",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n, true AS approx_within_5pct_rank
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL-style mergeable sketch) — the single-pass
    100 TB path agg_percentile's docstring points to. Like
    agg_approx_distinct, the CHECKABLE output is the accuracy contract:
    the sketch's median estimate must land between the exact 45th and
    55th percentile VALUES (a +/-5% rank tolerance, the guarantee the
    sketch actually makes), which the oracle pins to literal true. The
    sketch path executes for real — the flag is computed from it.

    The exact p45/p55 bound windows partition on the 5-value priority —
    deliberately: they are the VERIFICATION apparatus (like
    agg_approx_distinct's exact countDistinct), not the scale path. At
    100 TB only the sketch side runs; the per-group sort that exact
    bounds require is precisely what the sketch exists to avoid."""
    o = load(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    wn = Window.partitionBy("o_orderpriority")
    ranked = o.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    # BOTH exact bounds fold out of ONE window pass via conditional
    # aggregation (the agg_lead_time_quartiles discipline): the previous
    # lo/hi branches each re-executed the ranking window and met again
    # in a join — 2 window sorts + 2 aggregates + 1 join for values a
    # single groupBy selects (row_number is unique per group, so the
    # conditional min/max select exactly the branch rows; k45 == k55 on
    # a tiny group behaves identically in both spellings).
    bounds = ranked.groupBy("o_orderpriority").agg(
        F.min(
            F.when(
                F.col("rn") == F.expr("greatest(1, (45 * n) div 100)"),
                F.col("o_totalprice"),
            )
        ).alias("p45"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(55 * n + 99) div 100"),
                F.col("o_totalprice"),
            )
        ).alias("p55"),
    )
    ap = o.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", 0.5, 1000).alias("ap"),
        F.count(F.lit(1)).alias("n"),
    )
    return ap.join(bounds, "o_orderpriority").select(
        "o_orderpriority",
        "n",
        ((F.col("ap") >= F.col("p45")) & (F.col("ap") <= F.col("p55"))).alias(
            "approx_within_5pct_rank"
        ),
    )


@query(
    "agg_regression",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(l_quantity AS BIGINT)) AS sx,
               SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sy,
               SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
               SUM(CAST(l_quantity AS BIGINT)
                   * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sxy
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
           CAST(sxx AS BIGINT) AS sxx, CAST(sxy AS BIGINT) AS sxy,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_cents
    FROM s
    """,
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary-least-squares slope per group (price-cents per unit of
    quantity) — the regr_slope/regr_intercept family spelled through its
    sufficient statistics instead of the built-ins, because the
    built-ins accumulate running means whose float rounding depends on
    partitioning. Here every sum (n, Σx, Σy, Σx², Σxy) is an EXACT
    int64 (quantity is integral; price quantized to cents) aggregated
    in any order, and the slope is four correctly-rounded IEEE ops over
    exactly-representable integers with the same association order in
    both engines — bit-identical, partitioning-independent.

    Scale shape: one map-side-combined hash aggregate (5 integer
    accumulators per group cross the shuffle), then per-group scalar
    math — the sufficient-statistics pattern that makes ANY moment-based
    model (variance, covariance, OLS, PCA moments) a single exact pass
    at 100 TB.
    """
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("bigint")
    y = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    slope = (d("n") * d("sxy") - d("sx") * d("sy")) / (
        d("n") * d("sxx") - d("sx") * d("sx")
    )
    return s.select(
        "l_returnflag", "n", "sx", "sy", "sxx", "sxy", slope.alias("slope_cents")
    )


@query(
    "agg_observe_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_units,
           CAST(COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT)
               AS n_discounted
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def agg_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``Observation`` metrics — data-quality counters collected DURING
    another query's single pass (``df.observe``), not by a second scan:
    the production pattern for row counts, null rates, and guardrail
    sums on a 100 TB pipeline where re-reading the input to audit it
    would double the cost. The observed frame here is driven by a noop
    sink (full plan executes, nothing collected); the metrics row is
    then surfaced relationally and hash-checked against an oracle that
    recomputes the same aggregates — integer-exact, so the observation
    path must agree bit-for-bit."""
    from pyspark.sql import Observation

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    obs = Observation("quality_gate")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("qty_units"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(int(m["n_rows"]), int(m["qty_units"]), int(m["n_discounted"]))],
        "n_rows bigint, qty_units bigint, n_discounted bigint",
    )


@query(
    "agg_hll_sketch",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_exact,
           true AS within_bounds
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache DataSketches HLL aggregate (``hll_sketch_agg`` /
    ``hll_sketch_estimate``) — the mergeable fixed-size distinct-count
    sketch a 100 TB pipeline uses when the exact distinct is too
    expensive to carry: each task folds its partition into a <= 2^lgK
    register array, the shuffle moves ONE sketch per group per task
    (KB, not the value set), and sketches merge associatively — the
    same shape as datasketches rollups in Druid/BigQuery.

    The estimate itself is probabilistic, so the hash-checked surface
    pins (a) the EXACT distinct count computed in the same pass and
    (b) a boolean that the sketch landed within 5% relative error —
    ~6x the lgK=14 standard error of ~0.8%, far enough out that the
    check never flakes yet a sketch-math regression flips the boolean
    and hash-fails."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count_distinct("o_custkey").alias("n_exact"),
            F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey", 14)).alias("est"),
        )
        .select(
            "o_orderstatus",
            "n_exact",
            (
                F.abs(F.col("est") - F.col("n_exact"))
                / F.col("n_exact").cast("double")
                < F.lit(0.05)
            ).alias("within_bounds"),
        )
    )


@query(
    "agg_listagg",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, '|' ORDER BY n_name) AS names,
           COUNT(*) AS n
    FROM nation GROUP BY n_regionkey
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (``listagg ... WITHIN GROUP`` — SQL
    2016, first-class in Spark 4.0): concatenates each group's values in
    a DECLARED total order, so the result is deterministic and
    hash-checkable (an unordered listagg is nondeterministic under
    parallel aggregation — the classic cross-engine trap this key pins).
    DuckDB spells it string_agg(... ORDER BY). Scale: sort happens
    per-group within the hash aggregate; result size is bounded by group
    payload, so keep it for dimension-scale rollups (here: nation names
    per region), not billion-row groups."""
    load(spark, sf_dir, "nation").createOrReplaceTempView("eng_listagg_nation")
    return spark.sql(
        """
        SELECT n_regionkey,
               listagg(n_name, '|') WITHIN GROUP (ORDER BY n_name) AS names,
               COUNT(*) AS n
        FROM eng_listagg_nation GROUP BY n_regionkey
        """
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           COUNT(DISTINCT o_custkey) AS n_distinct_merged,
           COUNT(DISTINCT CASE WHEN o_custkey >= 1
                               THEN (o_custkey - 1) // 32768 + 1
                               ELSE (o_custkey + 32767) // 32768 END)
               AS n_buckets
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via roaring-style bitmaps
    (``bitmap_construct_agg`` / ``bitmap_or_agg`` / ``bitmap_count``) —
    the Druid/ClickHouse-scale pattern where COUNT(DISTINCT) over a
    dense integer key becomes a 4 KB-per-bucket bitmap that merges with
    bitwise OR instead of shuffling every raw value.

    Two independent paths must agree and both are hash-pinned against
    the oracle's plain COUNT(DISTINCT):
    - direct: key -> (bucket, bit position) -> one bitmap per
      (status, bucket) -> popcount sum per status;
    - merged: the same bitmaps built at the FINER (status, priority,
      bucket) grain first, then OR-merged up to status — proving the
      re-aggregability that makes bitmap cubes work (pre-aggregate
      once, roll up any dimension later without touching raw data).

    Bucket arithmetic in the oracle replicates Spark's exact
    bitmap_bucket_number semantics for BOTH sign domains (empirically
    pinned: v>=1 -> (v-1) floorDiv 32768 + 1; v<=0 -> (v+32767)
    floorDiv 32768 — the fixture's custkey 0 sits in bucket 0).

    100 TB shape: each exchange carries one 4 KB bitmap per 32768-key
    range per group instead of the raw key stream (the Expand-based
    exact COUNT(DISTINCT) carries every distinct value to the shuffle);
    OR-merge is associative/commutative so partial aggregation is
    map-side and partitioning-independent. Spark 3.5+ public API.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderpriority",
        F.bitmap_bucket_number("o_custkey").alias("bkt"),
        F.bitmap_bit_position("o_custkey").alias("pos"),
    )
    direct = (
        o.groupBy("o_orderstatus", "bkt")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
        .groupBy("o_orderstatus")
        .agg(F.sum(F.bitmap_count("bm")).alias("n_distinct"),
             F.count(F.lit(1)).alias("n_buckets"))
    )
    merged = (
        o.groupBy("o_orderstatus", "o_orderpriority", "bkt")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
        .groupBy("o_orderstatus", "bkt")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        .groupBy("o_orderstatus")
        .agg(F.sum(F.bitmap_count("bm")).alias("n_distinct_merged"))
    )
    return direct.join(merged, "o_orderstatus").select(
        "o_orderstatus", "n_distinct", "n_distinct_merged", "n_buckets"
    )


@query(
    "agg_mode_countif",
    oracle="""
    WITH counted AS (
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS c
        FROM orders GROUP BY o_orderstatus, o_orderpriority),
    ranked AS (
        SELECT o_orderstatus, o_orderpriority AS priority_mode,
               ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                  ORDER BY c DESC, o_orderpriority) AS rn
        FROM counted),
    base AS (
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent
        FROM orders GROUP BY o_orderstatus)
    SELECT b.o_orderstatus, r.priority_mode, b.n_orders, b.n_urgent
    FROM base b JOIN ranked r ON b.o_orderstatus = r.o_orderstatus
    WHERE r.rn = 1
    """,
)
def agg_mode_countif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC MODE + COUNT_IF: ``mode(col, true)`` (Spark 4's
    deterministic form — ties resolve to the LOWEST value, so the
    result is partitioning-independent and hash-checkable, where the
    default mode is free to return any tied value) alongside
    ``count_if`` for conditional counting without a CASE expression.
    The oracle rebuilds deterministic mode relationally: count per
    value, rank by (count DESC, value), take rank 1 — the exact
    tie-break contract, independently formulated.

    One hash aggregate with map-side partials; mode's state is a
    per-group value->count map, bounded by the column's cardinality
    (5 priorities here) — the same per-group state bound that makes it
    safe at scale for low-cardinality columns and a deliberate
    anti-pattern for high-cardinality ones (use topk_per_group there).
    """
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.mode("o_orderpriority", True).alias("priority_mode"),
        F.count(F.lit(1)).alias("n_orders"),
        F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH d AS (
        SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
               CAST(l_quantity AS BIGINT) AS wq
        FROM lineitem),
    c AS (
        SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber, wq,
               SUM(wq) OVER (PARTITION BY l_returnflag
                             ORDER BY l_extendedprice, l_orderkey, l_linenumber
                             ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(wq) OVER (PARTITION BY l_returnflag) AS total
        FROM d),
    q AS (
        SELECT l_returnflag, l_extendedprice, total,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice, l_orderkey,
                                           l_linenumber) AS rn
        FROM c WHERE 2 * cum >= total)
    SELECT l_returnflag,
           l_extendedprice AS weighted_median_price,
           CAST(total AS BIGINT) AS total_qty
    FROM q WHERE rn = 1
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT WEIGHTED MEDIAN per group: the price at which half the total
    shipped QUANTITY lies on each side — the classic inventory/pricing
    statistic that ``percentile`` cannot express (it weights rows, not
    quantities).  Algorithm: one window pass computes the running quantity
    (cumulative sum) and the group total, then the first row (in the same
    total order) whose doubled running weight reaches the total is the
    weighted median.

    Determinism: weights are cast to BIGINT (quantities are integral) so
    every cumulative sum is exact integer arithmetic — no float
    accumulation order to drift; the ordering carries the unique
    (price, orderkey, linenumber) tiebreaker; the selected price itself is
    surfaced unmodified, so no arithmetic touches a double.  Scale: one
    shuffle on l_returnflag serves both window frames; the group count is
    tiny but the per-group sort is the same single range-sort Spark runs
    for any window — at 100 TB swap the partition key for a
    higher-cardinality group (e.g. part) with the identical plan.  The
    oracle casts its totals to BIGINT (DuckDB SUM(BIGINT) widens to
    HUGEINT, the round-2 agg_bool Arrow-dtype lesson)."""
    li = load(spark, sf_dir, "lineitem")
    order_cols = [
        F.col("l_extendedprice").asc(),
        F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
    ]
    w_order = Window.partitionBy("l_returnflag").orderBy(*order_cols)
    w_cum = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy("l_returnflag")
    d = li.select(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").alias("wq"),
    )
    c = d.withColumn("cum", F.sum("wq").over(w_cum)).withColumn(
        "total", F.sum("wq").over(w_all)
    )
    q = c.where(2 * F.col("cum") >= F.col("total")).withColumn(
        "rn", F.row_number().over(w_order)
    )
    return q.where(F.col("rn") == 1).select(
        "l_returnflag",
        F.col("l_extendedprice").alias("weighted_median_price"),
        F.col("total").alias("total_qty"),
    )


# Count-min sketch geometry: D independent multiplicative hash rows of
# W counters.  Hashes are exact int64 arithmetic (odd multipliers, mod
# 2^31 then mod W) so DuckDB replays the identical sketch — determinism
# is what turns "approximate" into hash-checkable.
_CMS_W = 256
_CMS_D = 3
_CMS_MULT = (2654435761, 2246822519, 3266489917)
_CMS_ADD = (97, 1013, 20011)


def _cms_bucket(col: str, j: int) -> str:
    """SQL text of hash row j's bucket for key ``col`` (valid in both
    engines: ``%`` on BIGINT).  The key is masked to 31 bits BEFORE the
    multiply so the product stays below 2^63 for ANY key domain —
    without the mask, a key above ~3.5e9 overflows int64, which Spark
    (non-ANSI) wraps silently while DuckDB widens, silently diverging
    exactly at scale (the round-5 ADVICE hazard class)."""
    return (
        f"(((({col} % 2147483648) * {_CMS_MULT[j]} + {_CMS_ADD[j]})"
        f" % 2147483648) % {_CMS_W})"
    )


@query(
    "agg_countmin_sketch",
    oracle=f"""
    WITH keyed AS (SELECT o_custkey AS k FROM orders),
    counters AS (
        SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS c
        FROM keyed, LATERAL (VALUES
            (0, {_cms_bucket('k', 0)}),
            (1, {_cms_bucket('k', 1)}),
            (2, {_cms_bucket('k', 2)})) AS h(j, bucket)
        GROUP BY j, bucket),
    exact AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM keyed GROUP BY k),
    top AS (
        SELECT k, exact_n FROM exact
        ORDER BY exact_n DESC, k ASC LIMIT 10),
    est AS (
        SELECT t.k, t.exact_n, MIN(c.c) AS cms_estimate
        FROM top t, LATERAL (VALUES
            (0, {_cms_bucket('t.k', 0)}),
            (1, {_cms_bucket('t.k', 1)}),
            (2, {_cms_bucket('t.k', 2)})) AS h(j, bucket)
        JOIN counters c ON c.j = h.j AND c.bucket = h.bucket
        GROUP BY t.k, t.exact_n)
    SELECT k AS o_custkey, exact_n, cms_estimate,
           cms_estimate >= exact_n AS never_undercounts
    FROM est
    """,
)
def agg_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN SKETCH heavy-hitter estimation, deterministically
    replayable: frequencies of a high-cardinality key (orders per
    customer) estimated from a fixed D x W counter grid — the streaming
    sketch that answers point-frequency queries in O(D) from O(D*W)
    memory regardless of key cardinality.  Each row contributes to one
    bucket per hash row (explode of D computed buckets — a constant-D
    map-side expansion); an estimate is the MIN over its D counters and
    can only OVERcount (collisions add, never subtract) — surfaced as a
    per-key ``never_undercounts`` bit the hash check proves true.

    Exact-integer multiplicative hashes (odd constants, mod 2^31, mod W)
    make the sketch identical in both engines — the point this key
    demonstrates: "approximate" refers to the ESTIMATE's error bound
    (eps = e/W of the stream length, delta = e^-D), not to
    nondeterminism.  At 100 TB the counter grid is a fixed 3*256-cell
    aggregate — partial-combined map-side, mergeable across any
    partitioning — while the exact side it is audited against would need
    the full key-cardinality shuffle the sketch exists to avoid."""
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    pairs = o.select(
        "k",
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"struct({j} AS j, {_cms_bucket('k', j)} AS bucket)"
                    for j in range(_CMS_D)
                )
                + ")"
            )
        ).alias("h"),
    ).select("k", F.col("h.j").alias("j"), F.col("h.bucket").alias("bucket"))
    counters = pairs.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("c"))
    exact = o.groupBy("k").agg(F.count(F.lit(1)).alias("exact_n"))
    top = exact.orderBy(F.col("exact_n").desc(), F.col("k").asc()).limit(10)
    top_buckets = top.select(
        "k",
        "exact_n",
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"struct({j} AS j, {_cms_bucket('k', j)} AS bucket)"
                    for j in range(_CMS_D)
                )
                + ")"
            )
        ).alias("h"),
    ).select("k", "exact_n", F.col("h.j").alias("j"), F.col("h.bucket").alias("bucket"))
    est = (
        top_buckets.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("k", "exact_n")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return est.select(
        F.col("k").alias("o_custkey"),
        "exact_n",
        "cms_estimate",
        (F.col("cms_estimate") >= F.col("exact_n")).alias("never_undercounts"),
    )


@query(
    "merge_incremental_aggregate",
    oracle=f"""
    WITH updated AS (
        SELECT o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderstatus, o_totalprice + 10.0
        FROM orders WHERE o_orderkey % 103 = 0)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum("o_totalprice")} AS total_price
    FROM updated GROUP BY o_orderstatus
    """,
)
def merge_incremental_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL AGGREGATE MAINTENANCE (materialized-view delta
    refresh): given a standing aggregate and a CDC delta (deletes of
    every 97th key, inserts of every 103rd at a shifted price), the new
    aggregate is computed by ADDING SIGNED DELTA CONTRIBUTIONS — counts
    advance by sum(op), sums by sum(op * value) — never by re-scanning
    the base table.  The oracle recomputes the aggregate from scratch
    over the updated table; the hash match IS the refresh-correctness
    proof (incremental == recompute), which holds because count and
    decimal-exact sum are abelian-group aggregates (subtractable), the
    property that separates delta-maintainable aggregates from MIN/MAX
    (which need recompute or auxiliary structures on delete).

    At 100 TB the cost is proportional to the DELTA, not the base: the
    delta aggregates map-side into one tiny per-group update joined
    onto the standing aggregate — the entire point of maintaining a
    materialized aggregate under streaming upserts
    (stream_foreach_upsert is the runtime twin)."""
    from ..utils import DEC, dec

    o = load(spark, sf_dir, "orders")
    base = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("c0"),
        F.sum(dec("o_totalprice")).alias("s0"),
    )
    deletes = o.where(F.col("o_orderkey") % 97 == 0).select(
        "o_orderstatus",
        F.lit(-1).alias("op"),
        dec("o_totalprice").alias("p"),
    )
    inserts = o.where(F.col("o_orderkey") % 103 == 0).select(
        "o_orderstatus",
        F.lit(1).alias("op"),
        dec(F.col("o_totalprice") + 10.0).alias("p"),
    )
    delta = deletes.unionByName(inserts).groupBy("o_orderstatus").agg(
        F.sum("op").alias("dc"),
        F.sum(F.col("p") * F.col("op")).alias("ds"),
    )
    zero = F.lit(0).cast(DEC)
    return base.join(delta, "o_orderstatus", "full_outer").select(
        "o_orderstatus",
        (F.coalesce("c0", F.lit(0)) + F.coalesce("dc", F.lit(0)))
        .cast("bigint")
        .alias("n_orders"),
        (F.coalesce(F.col("s0"), zero) + F.coalesce(F.col("ds"), zero))
        .cast("double")
        .alias("total_price"),
    )


@query(
    "agg_share_of_total",
    oracle=f"""
    WITH per AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS s
        FROM orders GROUP BY o_orderpriority),
    tot AS (SELECT SUM(s) AS t FROM per)
    SELECT per.o_orderpriority, per.n_orders,
           CAST(per.s AS DOUBLE) AS revenue,
           CAST(per.s AS DOUBLE) / CAST(tot.t AS DOUBLE) AS revenue_share
    FROM per, tot
    """,
)
def agg_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHARE-OF-TOTAL (percent contribution): each group's exact decimal
    revenue divided by the grand total — the reporting ratio behind
    every "X% of revenue" tile.  The grand total is the decimal SUM of
    the per-group decimal sums (associative, so re-aggregating partials
    is exact), and the share is one IEEE division of two
    decimal-derived doubles — bit-deterministic in both engines.

    Plan: one hash aggregate on the group key + a single-row total
    broadcast back over the (group-cardinality-bounded) result — at
    100 TB the second pass touches 5 rows, not the table."""
    from ..utils import dec

    o = load(spark, sf_dir, "orders")
    per = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(dec("o_totalprice")).alias("s"),
    )
    tot = per.agg(F.sum("s").alias("t"))
    return per.crossJoin(F.broadcast(tot)).select(
        "o_orderpriority",
        "n_orders",
        F.col("s").cast("double").alias("revenue"),
        (F.col("s").cast("double") / F.col("t").cast("double")).alias(
            "revenue_share"
        ),
    )


# MAD selection dispatch (see the docstring below): histogram row count
# above which the median selection switches from the per-group
# cumulative window (single-task sort per group — cheapest while the
# histogram fits one task comfortably; measured faster to 594 k rows)
# to two-level bucket selection (every sort bucket-bounded). Module
# level so tests can force the bucket path.
_MAD_BUCKET_SELECT_MIN = 2_000_000
# Bucket width for the bucket-selection path: values here span
# ~[0, 105 k] (prices and absolute deviations), so 64.0 yields ~1.6 k
# buckets per group — small enough for the bucket walk, wide enough
# that one bucket holds a few hundred rows.
_MAD_BUCKET_WIDTH = 64.0


@query(
    "agg_median_absolute_deviation",
    oracle="""
    WITH base AS (
        SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber
        FROM lineitem),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                      ORDER BY l_extendedprice, l_orderkey, l_linenumber)
                      AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM base),
    med AS (
        SELECT l_returnflag, l_extendedprice AS median_price
        FROM ranked WHERE rn = (n + 1) // 2),
    devs AS (
        SELECT b.l_returnflag, ABS(b.l_extendedprice - m.median_price) AS d,
               b.l_orderkey, b.l_linenumber
        FROM base b JOIN med m ON b.l_returnflag = m.l_returnflag),
    dranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                      ORDER BY d, l_orderkey, l_linenumber) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM devs)
    SELECT d.l_returnflag, m.median_price, d.d AS mad
    FROM dranked d JOIN med m ON d.l_returnflag = m.l_returnflag
    WHERE d.rn = (d.n + 1) // 2
    """,
)
def agg_median_absolute_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST DISPERSION — median absolute deviation per group: the
    outlier-resistant spread statistic (stddev is dragged by a single
    bad point; MAD is not), computed as the exact lower median of
    |x - median(x)|.  Both medians are ORDER-STATISTIC SELECTIONS (the
    value at row (n+1) div 2), never interpolated arithmetic — the
    selected values are original doubles and the only computation is
    one subtraction per row, so the result is bit-identical across
    engines.

    HISTOGRAM-MEDIAN plan (the 100 TB shape): the oracle ranks rows
    under a fully tie-broken order, but the SELECTED VALUE at row
    (n+1) div 2 is invariant to how equal values tie-break — it is the
    value v whose cumulative count first reaches the target rank.  So
    each median is computed from the per-group VALUE HISTOGRAM:
    groupBy(group, value) count (map-side partial combine — the shuffle
    carries |distinct values| rows, not |rows|), then a cumulative-count
    window over the histogram picks v with cum - cnt < (n+1) div 2 <=
    cum.  The window's per-group sort runs on the domain-bounded
    histogram instead of the full table — the difference between
    sorting 600 k rows and ~100 k distinct prices here, and between a
    table-sized and a domain-sized sort at 100 TB.

    ONE fact pass (round-19): the deviation histogram never needs the
    table — |x - median| is a function of the VALUE, so re-keying the
    price histogram by |price - median| and summing its counts IS the
    deviation histogram (identical multiset of (group, d, weight) rows
    the old second scan produced, therefore identical medians).  The
    price histogram materializes once (it is the artifact both medians
    select from) and lineitem is scanned exactly once.

    SELECTION DISPATCH (round-19, guide §2.5): the cumulative window is
    a per-group SINGLE-TASK sort of the whole histogram.  Below
    _MAD_BUCKET_SELECT_MIN histogram rows that sort is cheaper than any
    alternative (same-session A/B at sf0.1's 594 k rows: window 2.0-2.5 s
    vs bucket path 2.8-3.0 s warm — the extra stages cost more than the
    sort).  Beyond it the single-task sort is the straggler, and the
    selection switches to TWO-LEVEL BUCKET SELECTION: bucket the values
    (floor(v/W) — division by a positive constant then floor is
    monotone, so bucket order == value order and equal values share a
    bucket), take per-(group, bucket) weighted counts with one parallel
    map-side aggregate, walk the cumulative BUCKET counts to find the
    bucket containing rank k and the residual rank kk within it, then
    sort only THAT bucket's rows.  The selected value is identical by
    construction: sorted-by-value == sorted-by-(bucket, value), so the
    global k-th weighted value is the kk-th weighted value of the
    target bucket, kk = k − (weight before the bucket).  Every sort in
    that plan is bucket-count- or bucket-content-bounded — the shape
    that survives 100 TB, where the whole-domain per-group sort cannot
    (the dispatch-on-materialized-size pattern _propagate_min_labels'
    union-find exit established)."""
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")

    def hist_median(hist: DataFrame, val: str, out: str, n_hist: int) -> DataFrame:
        """(group, median value) from a (group, value, cnt) histogram —
        exact weighted lower median; selection strategy per the
        docstring's dispatch."""
        wall = Window.partitionBy("l_returnflag")
        k = F.expr("(n + 1) div 2")
        if n_hist <= _MAD_BUCKET_SELECT_MIN:
            wcum = Window.partitionBy("l_returnflag").orderBy(val)
            h = hist.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
                "n", F.sum("cnt").over(wall)
            )
            return h.where(
                (F.col("cum") - F.col("cnt") < k) & (k <= F.col("cum"))
            ).select("l_returnflag", F.col(val).alias(out))
        b = hist.withColumn(
            "bkt", F.floor(F.col(val) / _MAD_BUCKET_WIDTH).cast("long")
        )
        bcnt = b.groupBy("l_returnflag", "bkt").agg(F.sum("cnt").alias("bc"))
        wb = Window.partitionBy("l_returnflag").orderBy("bkt")
        bc = bcnt.withColumn("bcum", F.sum("bc").over(wb)).withColumn(
            "n", F.sum("bc").over(wall)
        )
        target = bc.where(
            (F.col("bcum") - F.col("bc") < k) & (k <= F.col("bcum"))
        ).select(
            "l_returnflag",
            "bkt",
            (k - (F.col("bcum") - F.col("bc"))).alias("kk"),
        )
        tb = b.join(F.broadcast(target), ["l_returnflag", "bkt"])
        wv = Window.partitionBy("l_returnflag").orderBy(val)
        h = tb.withColumn("cum", F.sum("cnt").over(wv))
        return h.where(
            (F.col("cum") - F.col("cnt") < F.col("kk"))
            & (F.col("kk") <= F.col("cum"))
        ).select("l_returnflag", F.col(val).alias(out))

    # The ONLY fact scan: per-group value histogram, materialized once
    # (domain-bounded — never the table) because both the median
    # selection and the deviation re-key consume it.  The histogram's row
    # count, which drives the selection dispatch above, comes from the
    # materializing job itself — no separate count() job.
    hist, n_hist = materialize(
        li.groupBy("l_returnflag", "l_extendedprice").agg(
            F.count(F.lit(1)).alias("cnt")
        )
    )
    # The 3-row med relation is referenced twice (deviation re-key +
    # result join); materializing it once keeps the histogram+window
    # subtree from re-executing per reference.
    med, _ = materialize(hist_median(hist, "l_extendedprice", "median_price", n_hist))
    # Deviation histogram = the price histogram re-keyed by |v - median|
    # with counts summed: exactly the (group, d) multiset of the old
    # per-row pass (same IEEE subtraction, applied once per distinct
    # value instead of once per row). Its row count is <= n_hist (the
    # re-key only merges), so the same dispatch decision applies.
    dev_hist = (
        hist.join(med, "l_returnflag")
        .groupBy(
            "l_returnflag",
            F.abs(F.col("l_extendedprice") - F.col("median_price")).alias("d"),
        )
        .agg(F.sum("cnt").alias("cnt"))
    )
    return hist_median(dev_hist, "d", "mad", n_hist).join(
        med, "l_returnflag"
    ).select("l_returnflag", "median_price", "mad")


@query(
    "agg_gini",
    oracle="""
    WITH rev AS (
        SELECT n.n_name, SUM(CAST(o.o_totalprice AS DECIMAL(28,4))) AS s
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name),
    ranked AS (
        SELECT s, CAST(ROW_NUMBER() OVER (ORDER BY s ASC, n_name) AS BIGINT)
                      AS i
        FROM rev),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(s) AS t,
               SUM(s * i) AS a
        FROM ranked)
    SELECT n AS n_entities,
           CAST(t AS DOUBLE) AS total_revenue,
           CAST(2 * a AS DOUBLE) / CAST(n * t AS DOUBLE)
               - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) AS gini
    FROM sums
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT (inequality of the revenue distribution across
    nations — the scalar twin of win_pareto's curve): computed from the
    rank-weighted decimal sum, G = 2*sum(i*s_i)/(n*sum(s)) - (n+1)/n
    with values ranked ascending.  Every accumulation is exact (decimal
    sums, integer ranks); only the final two divisions and one
    subtraction are IEEE doubles on identical operands, so the scalar
    is bit-stable.

    Scale: revenue collapses group-wise first; the ranking runs on the
    group-cardinality-bounded aggregate (25 rows), and the rank-weighted
    sum is one more tiny aggregate — same discipline as win_pareto."""
    from ..utils import dec

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n_ = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_), c.c_nationkey == n_.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(dec("o_totalprice")).alias("s"))
    )
    w = Window.orderBy(F.col("s").asc(), F.col("n_name").asc())
    ranked = rev.select(
        "s", F.row_number().over(w).cast("bigint").alias("i")
    )
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("s").alias("t"),
        F.sum(F.col("s") * F.col("i")).alias("a"),
    )
    return sums.select(
        F.col("n").alias("n_entities"),
        F.col("t").cast("double").alias("total_revenue"),
        (
            (2 * F.col("a")).cast("double") / (F.col("n") * F.col("t")).cast("double")
            - (F.col("n") + 1).cast("double") / F.col("n").cast("double")
        ).alias("gini"),
    )


@query(
    "agg_sum_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(DISTINCT CAST(l_quantity AS BIGINT)) AS BIGINT)
               AS sum_distinct_qty,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(COUNT(DISTINCT CAST(l_quantity AS BIGINT)) AS BIGINT)
               AS n_distinct_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_sum_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUM(DISTINCT) — the dedup-before-sum aggregate modifier (each
    distinct value counted once per group, the semantics behind "sum of
    unique deal sizes" style metrics), alongside the plain sum and the
    distinct count for contrast.  Quantities are integral, so the BIGINT
    cast makes every variant exact integer arithmetic.

    Catalyst plans DISTINCT aggregates via Expand + two-phase
    aggregation — the distinct value set shuffles per group, which is
    why at 100 TB a high-cardinality SUM(DISTINCT) belongs behind a
    pre-deduplicated two-step (groupBy value first) — here the value
    domain is 50, so the expand is noise."""
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    return li.groupBy("l_returnflag").agg(
        F.sum_distinct(q).alias("sum_distinct_qty"),
        F.sum(q).alias("sum_qty"),
        F.countDistinct(q).alias("n_distinct_qty"),
    )


@query(
    "agg_welch_ttest",
    oracle="""
    WITH ev AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events),
    g AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(SUM(cents * cents) AS BIGINT) AS ss
        FROM ev GROUP BY event_type),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(s) AS BIGINT) AS ts,
               CAST(SUM(ss) AS BIGINT) AS tss
        FROM g),
    d AS (
        SELECT event_type, n, tn - n AS nr,
               CAST(s AS DOUBLE) AS sd, CAST(ss AS DOUBLE) AS ssd,
               CAST(ts - s AS DOUBLE) AS srd, CAST(tss - ss AS DOUBLE) AS ssrd
        FROM g CROSS JOIN tot),
    w AS (
        SELECT event_type, n, nr, sd / n AS mean_g, srd / nr AS mean_rest,
               (ssd - sd * sd / n) / (n - 1) / n
                   + (ssrd - srd * srd / nr) / (nr - 1) / nr AS se2
        FROM d WHERE n >= 2 AND nr >= 2)
    SELECT event_type, n AS n_group, CAST(nr AS BIGINT) AS n_rest,
           mean_g / 100 AS mean_group, mean_rest / 100 AS mean_rest,
           CASE WHEN se2 > 0 THEN (mean_g - mean_rest) / SQRT(se2) END AS t_stat,
           COALESCE(se2 > 0 AND ABS((mean_g - mean_rest) / SQRT(se2)) > 1.96,
                    FALSE) AS significant
    FROM w
    """,
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test of each event_type's value against THE
    REST of the corpus — the A/B-experiment readout primitive
    (unequal-variance t; group-vs-rest needs no control-arm designation
    and one aggregation pass serves every arm).

    Scale/determinism design: the SHUFFLED stage (groupBy + the one-row
    totals rollup) carries only exact-integer cents moments (n, sum,
    sum-of-squares), so aggregation order can never perturb them; the
    rest-arm moments are pure integer subtraction from broadcast totals
    (no second pass over the data). All floating math happens AFTER
    aggregation, on ≤ |event_type| rows, as one fixed expression tree —
    both engines evaluate the identical IEEE operation sequence, so
    t-stats are bit-equal and hash-checkable. Squares are taken on
    DOUBLE copies (s*s on int64 would overflow around sf1; the double
    square is deterministic at any scale). Arms with n < 2 or zero
    pooled variance yield NULL t and a FALSE flag in both engines.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").alias("tn"), F.sum("s").alias("ts"), F.sum("ss").alias("tss")
    )
    d = g.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n",
        (F.col("tn") - F.col("n")).alias("nr"),
        F.col("s").cast("double").alias("sd"),
        F.col("ss").cast("double").alias("ssd"),
        (F.col("ts") - F.col("s")).cast("double").alias("srd"),
        (F.col("tss") - F.col("ss")).cast("double").alias("ssrd"),
    )
    w = d.filter((F.col("n") >= 2) & (F.col("nr") >= 2)).select(
        "event_type",
        "n",
        "nr",
        (F.col("sd") / F.col("n")).alias("mean_g"),
        (F.col("srd") / F.col("nr")).alias("mean_rest_i"),
        (
            (F.col("ssd") - F.col("sd") * F.col("sd") / F.col("n"))
            / (F.col("n") - 1)
            / F.col("n")
            + (F.col("ssrd") - F.col("srd") * F.col("srd") / F.col("nr"))
            / (F.col("nr") - 1)
            / F.col("nr")
        ).alias("se2"),
    )
    t = (F.col("mean_g") - F.col("mean_rest_i")) / F.sqrt(F.col("se2"))
    return w.select(
        "event_type",
        F.col("n").alias("n_group"),
        F.col("nr").cast("bigint").alias("n_rest"),
        (F.col("mean_g") / 100).alias("mean_group"),
        (F.col("mean_rest_i") / 100).alias("mean_rest"),
        F.when(F.col("se2") > 0, t).alias("t_stat"),
        F.coalesce((F.col("se2") > 0) & (F.abs(t) > 1.96), F.lit(False)).alias(
            "significant"
        ),
    )
