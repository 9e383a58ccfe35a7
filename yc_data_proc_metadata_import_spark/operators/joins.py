"""Join operators (SURVEY.md SS2.5).

The reference's workflow is "query shared tables from two clusters"
(README_en.md:3) — every real query over its star-schema data joins.  All
joins here are declared via the DataFrame API so Catalyst picks the
physical strategy (broadcast-hash for dims under the threshold, sort-merge
for fact-fact, AQE re-plans at runtime); ``F.broadcast`` is used where the
small side is known, which is the 100 TB-safe hint.

Determinism: join outputs are row sets (hash compare is order-insensitive);
only top-k variants need explicit total ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..sources.io import load
from ..utils import dsum, sql_dsum


@query(
    "join_inner",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice,
           o.o_custkey, o.o_orderstatus
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact inner equi join on the FK.  Catalyst plans sort-merge (or
    shuffled-hash under AQE) with the priority filter pushed below the
    join — only urgent orders shuffle."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return li.join(o, li.l_orderkey == o.o_orderkey, "inner").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "o_custkey", "o_orderstatus"
    )


@query(
    "join_outer",
    oracle="""
    WITH urgent AS (
        SELECT o_custkey, COUNT(*) AS n_urgent FROM orders
        WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey
    ),
    finished AS (
        SELECT o_custkey, COUNT(*) AS n_finished FROM orders
        WHERE o_orderstatus = 'F' GROUP BY o_custkey
    )
    SELECT COALESCE(u.o_custkey, f.o_custkey) AS custkey,
           u.n_urgent, f.n_finished
    FROM urgent u FULL OUTER JOIN finished f ON u.o_custkey = f.o_custkey
    """,
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with null-extension on BOTH sides (customers with
    only-urgent vs only-finished orders)."""
    o = load(spark, sf_dir, "orders")
    urgent = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_urgent"))
        .withColumnRenamed("o_custkey", "u_custkey")
    )
    finished = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_finished"))
        .withColumnRenamed("o_custkey", "f_custkey")
    )
    j = urgent.join(finished, urgent.u_custkey == finished.f_custkey, "full")
    return j.select(
        F.coalesce("u_custkey", "f_custkey").alias("custkey"),
        "n_urgent",
        "n_finished",
    )


@query(
    "join_broadcast",
    oracle=f"""
    SELECT p.p_brand, COUNT(*) AS n_items, {sql_dsum('l.l_extendedprice')} AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 20
    GROUP BY p.p_brand
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-hash join: the dimension is explicitly hinted small, so
    the fact table never shuffles — map-side join then partial agg.  The
    canonical 100 TB fact-dim pattern."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_size") <= 20)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum("l_extendedprice", "revenue"))
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join = EXISTS filter: emits each customer at most once,
    ships only the join key of the right side."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join = NOT EXISTS: customers with no urgent order."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@query(
    "join_cross_topk",
    oracle="""
    SELECT n.n_name, r.r_name, n.n_nationkey + r.r_regionkey AS key_sum
    FROM nation n CROSS JOIN region r
    ORDER BY key_sum DESC, n.n_name ASC, r.r_name ASC
    LIMIT 30
    """,
)
def join_cross_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (BroadcastNestedLoopJoin — only ever sane when one
    side is tiny) + global top-k with a full tiebreaker ordering."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        n.crossJoin(r)
        .select(
            "n_name",
            "r_name",
            (F.col("n_nationkey") + F.col("r_regionkey")).alias("key_sum"),
        )
        .orderBy(F.col("key_sum").desc(), F.col("n_name").asc(), F.col("r_name").asc())
        .limit(30)
    )


@query(
    "join_theta",
    oracle="""
    SELECT c.c_custkey, s.s_suppkey, c.c_acctbal, s.s_acctbal
    FROM customer c JOIN supplier s
      ON c.c_acctbal BETWEEN s.s_acctbal - 50.0 AND s.s_acctbal + 50.0
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (band) join: no equality conjunct, so Spark uses a
    nested-loop with the smaller side broadcast.  At 100 TB the scale path
    is bucketizing both sides on floor(acctbal/width) and equi-joining
    neighbor buckets + refining — same trick as join_range."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    s = load(spark, sf_dir, "supplier")
    cond = (F.col("c_acctbal") >= F.col("s_acctbal") - 50.0) & (
        F.col("c_acctbal") <= F.col("s_acctbal") + 50.0
    )
    return c.join(F.broadcast(s), cond).select(
        "c_custkey", "s_suppkey", "c_acctbal", "s_acctbal"
    )


@query(
    "join_range",
    oracle=f"""
    WITH weeks AS (
        SELECT ws AS week_start, ws + INTERVAL 7 DAY AS week_end
        FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-29', INTERVAL 7 DAY) t(ws)
    )
    SELECT w.week_start, COUNT(*) AS n_events, {sql_dsum('e.value')} AS total_value
    FROM events e JOIN weeks w
      ON CAST(e.ts AS TIMESTAMP) >= w.week_start AND CAST(e.ts AS TIMESTAMP) < w.week_end
    GROUP BY w.week_start
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join: events land in generated weekly buckets.
    The interval side is a tiny generated dim => broadcast nested-loop is
    the RIGHT plan; with a large interval table the scale path is
    equi-join on a computed bucket key + refine."""
    e = load(spark, sf_dir, "events")
    weeks = spark.sql(
        """
        SELECT ws AS week_start, ws + INTERVAL 7 DAY AS week_end
        FROM (SELECT explode(sequence(TIMESTAMP '2024-01-01',
                                      TIMESTAMP '2024-01-29',
                                      INTERVAL 7 DAY)) AS ws)
        """
    )
    j = e.join(
        F.broadcast(weeks),
        (e.ts >= weeks.week_start) & (e.ts < weeks.week_end),
    )
    return j.groupBy("week_start").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value")
    )


@query(
    "join_asof",
    oracle="""
    WITH clicks AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts, value AS c_value,
               ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click'
    ),
    clicks_dedup AS (SELECT user_id, c_ts, c_value FROM clicks WHERE rn = 1),
    purchases AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts, value AS p_value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.p_value, c.c_ts AS last_click_ts, c.c_value AS last_click_value
    FROM purchases p ASOF LEFT JOIN clicks_dedup c
      ON p.user_id = c.user_id AND p.p_ts >= c.c_ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click at-or-before it per
    user.  Implemented with the union+window trick — ONE shuffle on
    (user_id), no non-equi join, no per-key nested loop — which is the
    scalable spelling at 100 TB (DuckDB's native ASOF JOIN is the oracle).
    Clicks are deduped per (user, ts) keeping the max event_id so both
    engines resolve equal-timestamp ties identically."""
    e = load(spark, sf_dir, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"), F.col("value").alias("c_value"), "event_id")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id", "c_ts").orderBy(F.col("event_id").desc())
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "c_ts", "c_value")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    tagged = clicks.select(
        "user_id",
        F.col("c_ts").alias("ts"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("p_value"),
        F.col("c_ts"),
        F.col("c_value"),
        F.lit(0).alias("is_purchase"),
    ).unionByName(
        purchases.select(
            "user_id",
            F.col("p_ts").alias("ts"),
            "event_id",
            "p_value",
            F.lit(None).cast("timestamp").alias("c_ts"),
            F.lit(None).cast("double").alias("c_value"),
            F.lit(1).alias("is_purchase"),
        )
    )
    # Clicks sort before purchases at equal ts (is_purchase ASC) so an
    # equal-timestamp click is visible to the purchase — ASOF's >= bound.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_purchase").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    enriched = tagged.withColumn(
        "last_click_ts", F.last("c_ts", ignorenulls=True).over(w)
    ).withColumn("last_click_value", F.last("c_value", ignorenulls=True).over(w))
    return enriched.filter(F.col("is_purchase") == 1).select(
        "event_id", "user_id", "p_value", "last_click_ts", "last_click_value"
    )


@query(
    "join_star",
    oracle=f"""
    SELECT n.n_name AS nation, r.r_name AS region,
           COUNT(*) AS n_items,
           {sql_dsum('l.l_extendedprice')} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
                 AND s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY n.n_name, r.r_name
    """,
)
def join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join (TPC-H Q5 shape): fact x fact on the FK, then
    broadcast dims (customer/supplier/nation/region all broadcast under
    the threshold); local-supplier condition c_nationkey = s_nationkey.
    Dims-first ordering keeps intermediate rows minimal."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(
            F.broadcast(n),
            (c.c_nationkey == n.n_nationkey) & (s.s_nationkey == n.n_nationkey),
        )
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(F.count(F.lit(1)).alias("n_items"), dsum("l_extendedprice", "revenue"))
    )


_SALTS = 16


@query(
    "join_skew_salted",
    oracle=f"""
    SELECT l.l_returnflag, COUNT(*) AS n_li,
           {sql_dsum("l.l_quantity")} AS qty_sum, MIN(d.flag_n) AS flag_n
    FROM lineitem l
    JOIN (SELECT l_returnflag, COUNT(*) AS flag_n
          FROM lineitem GROUP BY l_returnflag) d
      ON l.l_returnflag = d.l_returnflag
    GROUP BY l.l_returnflag
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED join on a pathologically skewed key (l_returnflag: 3 values
    over the whole fact table) — the manual skew-mitigation pattern for
    when AQE's skew-join split can't help (e.g., a shuffle-hash join where
    one key IS one partition).

    Mechanics: the small side explodes x{_SALTS} salt replicas; the fact
    side computes a DETERMINISTIC salt (l_orderkey % {_SALTS}); the join key
    becomes (flag, salt), spreading each hot key over {_SALTS} tasks. The
    oracle is the UNsalted join — proving salting changes the execution
    shape, never the result. At 100 TB: salt count scales with executor
    count; replicating an S-row dim x{_SALTS} is noise, while an unsalted
    3-key shuffle would put ~33% of the table on one reducer.
    """
    li = load(spark, sf_dir, "lineitem")
    dim = (
        li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("flag_n"))
        .withColumn("salt", F.explode(F.array(*[F.lit(s) for s in range(_SALTS)])))
    )
    fact = li.select(
        "l_returnflag", "l_quantity", (F.col("l_orderkey") % _SALTS).alias("salt")
    )
    return (
        fact.join(F.broadcast(dim), ["l_returnflag", "salt"])
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_li"),
            dsum("l_quantity", "qty_sum"),
            F.min("flag_n").alias("flag_n"),
        )
    )


@query(
    "merge_upsert",
    oracle="""
    WITH updates AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice + 100.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 1000000000, o_custkey, 'N' AS o_orderstatus,
               o_totalprice
        FROM orders WHERE o_orderkey % 97 = 0)
    SELECT COALESCE(u.o_orderkey, t.o_orderkey) AS o_orderkey,
           COALESCE(u.o_custkey, t.o_custkey) AS o_custkey,
           COALESCE(u.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
           COALESCE(u.o_totalprice, t.o_totalprice) AS o_totalprice
    FROM (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          FROM orders) t
    FULL OUTER JOIN updates u ON t.o_orderkey = u.o_orderkey
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style SCD1 upsert without a table format: updates win on
    matched keys, unmatched updates insert, unmatched targets carry over —
    expressed as one full-outer join + COALESCE projection.

    The update set is derived deterministically from orders (every 10th
    key gets +100.0 on totalprice — exact in IEEE doubles at these
    magnitudes; every 97th key re-inserted under a new key). At 100 TB
    this is the hand-rolled core of Delta/Iceberg MERGE: one shuffle on
    the merge key; with both sides bucketed on that key it degrades to a
    zero-shuffle zip. Updates are usually << target, so AQE picks a
    broadcast plan for the update side automatically.
    """
    t = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    upd = t.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(100.0)
    )
    ins = (
        t.filter(F.col("o_orderkey") % 97 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(1000000000))
        .withColumn("o_orderstatus", F.lit("N"))
    )
    u = upd.unionByName(ins)
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    tt, uu = t.alias("t"), u.alias("u")
    return tt.join(uu, F.col("t.o_orderkey") == F.col("u.o_orderkey"), "full_outer").select(
        *[F.coalesce(F.col(f"u.{c}"), F.col(f"t.{c}")).alias(c) for c in cols]
    )


@query(
    "sql_exists_subquery",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
)
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL surface: Catalyst
    decorrelates both into semi/anti joins on o_custkey — the same
    physical shape as join_semi/join_anti, proving subquery SQL costs
    nothing over the DataFrame API."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_sq")
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_acctbal
        FROM v_customer c
        WHERE EXISTS (SELECT 1 FROM v_orders_sq o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000.0)
          AND NOT EXISTS (SELECT 1 FROM v_orders_sq o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
        """
    )


# Runtime bloom-filter injection needs thresholds scaled to the fixture:
# creation side (filtered orders) must be small, application side
# (lineitem) must look "big enough to be worth filtering". On a real
# cluster the DEFAULTS (creation <= 10 MB, application >= 10 GB) gate it
# to exactly the joins where a semi-join pre-filter pays; here only the
# application floor is lowered. Broadcast is disabled for the join so the
# plan is the 100 TB fact-to-fact shape (SMJ) bloom filters exist for.
_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@query(
    "join_bloom_filtered",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n_li, {sql_dsum('l_extendedprice')} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 400000.0
    GROUP BY o_orderpriority
    """,
    conf=_BLOOM_CONFS,
)
def join_bloom_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNTIME BLOOM FILTER on a selective fact-to-fact join: the filtered
    orders side builds a bloom filter that is pushed into the lineitem
    scan, so most of the big side's rows die before the shuffle — at
    100 TB this cuts the dominant cost (shuffling the probe side) by the
    join's selectivity, without any manual pre-aggregation.

    SQLConf is read at EXECUTION, so the bloom thresholds are declared on
    the key: the frame executes in the key's own session, which holds
    them, and every other key keeps its broadcast plans.
    """
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_li"), dsum("l_extendedprice", "revenue"))
    )


@query(
    "join_null_safe",
    oracle="""
    WITH c AS (
        SELECT nullif(c_nationkey, 0) AS k, COUNT(*) AS n_cust
        FROM customer GROUP BY 1),
    s AS (
        SELECT nullif(s_nationkey, 0) AS k, COUNT(*) AS n_supp
        FROM supplier GROUP BY 1)
    SELECT c.k, c.n_cust, s.n_supp
    FROM c JOIN s ON c.k IS NOT DISTINCT FROM s.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equality join (<=>): NULL keys match each other instead
    of dropping — the semantics a dimension with an 'unknown' bucket
    needs (here nationkey 0 is mapped to NULL on both sides). Plans as a
    regular hash/sort-merge equi-join on the null-safe key, so it scales
    like any equi-join; the oracle spells it IS NOT DISTINCT FROM.
    """
    c = (
        load(spark, sf_dir, "customer")
        .groupBy(F.nullif(F.col("c_nationkey"), F.lit(0)).alias("k"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.nullif(F.col("s_nationkey"), F.lit(0)).alias("sk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, c.k.eqNullSafe(s.sk)).select("k", "n_cust", "n_supp")


@query(
    "join_fuzzy_levenshtein",
    oracle="""
    SELECT a.n_name AS name_a, b.n_name AS name_b,
           CAST(levenshtein(a.n_name, b.n_name) AS INTEGER) AS edit_dist
    FROM nation a JOIN nation b
      ON a.n_nationkey < b.n_nationkey
    WHERE levenshtein(a.n_name, b.n_name) <= 1
    """,
)
def join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY MATCHING join: dimension names within edit distance 1 —
    the entity-resolution primitive for catalog reconciliation (typo'd
    vendor/country names). Both engines implement unit-cost
    insert/delete/substitute Levenshtein, so distances are identical
    integers.

    BLOCKED, not cartesian (round-5 VERDICT item 3): each name explodes
    into its deletion neighborhood — the string itself plus every
    one-char-deleted variant (FastSS). Two strings within edit distance
    1 ALWAYS share a variant (substitution: delete the differing
    position from both; insert/delete: the shorter string IS a variant
    of the longer; distance 0: the string itself), so the candidate join
    is a plain EQUI-join on the variant key — hash-partitioned,
    never nested-loop — with Levenshtein scored only inside blocks and
    duplicate candidate pairs collapsed on the key pair. Cost is
    O(sum(len)) exploded rows and an equi-shuffle, vs O(n^2) for the
    theta join; at millions of names this is the difference between a
    grep-scale job and a dead cluster. The oracle keeps the plain
    quadratic spelling — the blocking is an implementation detail that
    provably preserves the dist<=1 result set."""
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    variants = F.array_union(
        F.array(F.col("n_name")),
        F.expr(
            "transform(sequence(1, length(n_name)), i -> "
            "concat(substring(n_name, 1, i-1), "
            "substring(n_name, i+1, length(n_name))))"
        ),
    )
    ex = n.select("n_nationkey", "n_name", F.explode(variants).alias("block_key"))
    a = ex.select(
        F.col("n_nationkey").alias("ka"),
        F.col("n_name").alias("name_a"),
        "block_key",
    )
    b = ex.select(
        F.col("n_nationkey").alias("kb"),
        F.col("n_name").alias("name_b"),
        "block_key",
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, ["block_key"])
        .filter(F.col("ka") < F.col("kb"))
        .select("ka", "kb", "name_a", "name_b")
        .dropDuplicates(["ka", "kb"])
        .filter(dist <= 1)
        .select("name_a", "name_b", dist.alias("edit_dist"))
    )


@query(
    "join_interval_overlap",
    oracle="""
    WITH a AS (
        SELECT user_id, CAST(ts AS DATE) AS day, MIN(ts) AS a_s, MAX(ts) AS a_e
        FROM events WHERE user_id % 10 = 0 GROUP BY 1, 2),
    b AS (
        SELECT event_type, date_trunc('hour', ts) AS win_hour,
               MIN(ts) AS b_s, MAX(ts) AS b_e
        FROM events GROUP BY 1, 2)
    SELECT a.user_id, b.event_type, b.win_hour,
           CAST((epoch_us(least(a.a_e, b.b_e))
                 - epoch_us(greatest(a.a_s, b.b_s))) // 1000 AS BIGINT)
               AS overlap_ms
    FROM a JOIN b ON a.a_s <= b.b_e AND b.b_s <= a.a_e
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL x INTERVAL overlap join — the sibling of ``join_range``
    (point-in-interval): per-user daily activity spans joined to
    per-event-type hourly windows wherever the two intervals intersect
    (sessions x campaigns, outages x jobs — the classic temporal-join
    shape).

    Spelled the 100 TB way from the start: instead of a non-equi-only
    condition (which plans as a nested-loop join), both sides are
    BUCKETIZED to the hour — the activity interval explodes to the hour
    buckets it covers (``sequence``), the hourly window sits in exactly
    one bucket — so the join is a plain EQUI-join on the bucket key with
    the exact overlap predicate as a residual filter. Fan-out is bounded
    by interval-length/bucket; when BOTH sides span multiple buckets the
    pattern adds one dropDuplicates on the pair key (not needed here
    since the B side is single-bucket by construction). Overlap duration
    comes out in exact integer microseconds floor-divided to ms —
    bit-identical in both engines.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    a = (
        ev.filter(F.col("user_id") % 10 == 0)
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.min("ts").alias("a_s"), F.max("ts").alias("a_e"))
    )
    b = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("win_hour")
    ).agg(F.min("ts").alias("b_s"), F.max("ts").alias("b_e"))
    a_buck = a.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "a_s"),
                F.date_trunc("hour", "a_e"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ),
    )
    b_buck = b.withColumn("bucket", F.date_trunc("hour", "b_s"))
    joined = (
        a_buck.join(b_buck, "bucket")
        .filter((F.col("a_s") <= F.col("b_e")) & (F.col("b_s") <= F.col("a_e")))
    )
    return joined.select(
        "user_id",
        "event_type",
        "win_hour",
        F.expr(
            "CAST((unix_micros(CAST(least(a_e, b_e) AS TIMESTAMP)) "
            "- unix_micros(CAST(greatest(a_s, b_s) AS TIMESTAMP))) div 1000 AS BIGINT)"
        ).alias("overlap_ms"),
    )


@query(
    "join_asof_tolerance",
    oracle="""
    WITH cl AS (
        SELECT user_id, ts AS c_ts,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click'),
    c AS (SELECT user_id, c_ts FROM cl WHERE rn = 1),
    p AS (
        SELECT event_id, user_id, ts AS p_ts
        FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id,
           (SELECT MAX(c.c_ts) FROM c
            WHERE c.user_id = p.user_id
              AND c.c_ts <= p.p_ts
              AND c.c_ts >= p.p_ts - INTERVAL 15 MINUTES) AS last_click_ts,
           (SELECT MIN(c.c_ts) FROM c
            WHERE c.user_id = p.user_id
              AND c.c_ts > p.p_ts
              AND c.c_ts <= p.p_ts + INTERVAL 15 MINUTES) AS next_click_ts
    FROM p
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with TOLERANCE and BOTH directions (the pandas
    merge_asof surface join_asof lacks): for each purchase, the latest
    click at-or-before it AND the next click strictly after it — each
    only if within 15 minutes, else NULL (a stale match is worse than
    no match in attribution).

    Same scale-safe spelling as join_asof — one union + one (user_id)
    window shuffle, no non-equi join: the backward match is
    last-non-null over the preceding frame, the forward match
    first-non-null over the following frame (equal-timestamp clicks
    sort before purchases, so backward sees them and forward is
    strictly-after), and tolerance is a row-local NULL-out after the
    window. The oracle replays it as correlated non-equi subqueries —
    an independent spelling of the same semantics.
    """
    e = load(spark, sf_dir, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"), "event_id")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id", "c_ts").orderBy(F.col("event_id").desc())
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "c_ts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    tagged = clicks.select(
        "user_id",
        F.col("c_ts").alias("ts"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("c_ts"),
        F.lit(0).alias("is_purchase"),
    ).unionByName(
        purchases.select(
            "user_id",
            F.col("p_ts").alias("ts"),
            "event_id",
            F.lit(None).cast("timestamp").alias("c_ts"),
            F.lit(1).alias("is_purchase"),
        )
    )
    order = [F.col("ts").asc(), F.col("is_purchase").asc()]
    bwd_w = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd_w = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    tol = F.expr("INTERVAL 15 MINUTES")
    enriched = (
        tagged.withColumn("bwd", F.last("c_ts", ignorenulls=True).over(bwd_w))
        .withColumn("fwd", F.first("c_ts", ignorenulls=True).over(fwd_w))
        .filter(F.col("is_purchase") == 1)
    )
    return enriched.select(
        "event_id",
        "user_id",
        F.when(F.col("bwd") >= F.col("ts") - tol, F.col("bwd")).alias("last_click_ts"),
        F.when(F.col("fwd") <= F.col("ts") + tol, F.col("fwd")).alias("next_click_ts"),
    )


@query(
    "merge_scd2_apply",
    oracle="""
    WITH batch AS (
        SELECT c_custkey, c_acctbal + 100.0 AS new_bal
        FROM customer WHERE c_custkey % 7 = 0)
    SELECT c.c_custkey, c.c_acctbal AS acctbal,
           DATE '2024-01-01' AS valid_from,
           CAST(NULL AS DATE) AS valid_to, true AS is_current
    FROM customer c LEFT JOIN batch b USING (c_custkey)
    WHERE b.c_custkey IS NULL
    UNION ALL
    SELECT c.c_custkey, c.c_acctbal,
           DATE '2024-01-01', DATE '2024-06-01', false
    FROM customer c JOIN batch b USING (c_custkey)
    UNION ALL
    SELECT b.c_custkey, b.new_bal, DATE '2024-06-01',
           CAST(NULL AS DATE), true
    FROM batch b
    """,
)
def merge_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE-2 MERGE — apply a change batch to a versioned dimension
    without a lakehouse MERGE INTO: matched OPEN rows are CLOSED
    (valid_to = effective date, is_current=false), the batch inserts new
    open versions, unmatched rows pass through — history is never
    updated in place, only appended. This is the companion to
    merge_upsert (SCD1: updates win) and scd2_history (derive intervals
    from events); together they cover the dimension-maintenance triangle
    a warehouse on plain parquet needs.

    Scale shape: ONE left join on the merge key serves both the
    close-matched and pass-through branches (the join output is
    filtered twice, not recomputed — same exchange); the insert branch
    is the (small) batch itself. At 100 TB the rewrite is confined by
    partitioning the dimension on a stable key range and replacing only
    affected partitions (sink_dynamic_overwrite's mechanism).
    """
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    batch = (
        c.filter(F.col("c_custkey") % 7 == 0)
        .select("c_custkey", (F.col("c_acctbal") + F.lit(100.0)).alias("new_bal"))
    )
    # A lazy checkpoint, not utils.materialize: the join is reused INSIDE
    # this key's one plan, and is filled by the job that executes it
    # (eager, the build would start two jobs of its own).
    joined = c.join(
        batch.select(F.col("c_custkey").alias("b_key"), "new_bal"),
        c.c_custkey == F.col("b_key"),
        "left",
    ).localCheckpoint(eager=False)
    d0 = F.lit("2024-01-01").cast("date")
    d1 = F.lit("2024-06-01").cast("date")
    nulldate = F.lit(None).cast("date")
    untouched = joined.filter(F.col("b_key").isNull()).select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        d0.alias("valid_from"),
        nulldate.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    closed = joined.filter(F.col("b_key").isNotNull()).select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        d0.alias("valid_from"),
        d1.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = batch.select(
        "c_custkey",
        F.col("new_bal").alias("acctbal"),
        d1.alias("valid_from"),
        nulldate.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return untouched.unionByName(closed).unionByName(opened)


@query(
    "join_lateral_topn",
    oracle="""
    SELECT r.r_name, t.n_name, t.n_nationkey
    FROM region r, LATERAL (
        SELECT n_name, n_nationkey
        FROM nation n
        WHERE n.n_regionkey = r.r_regionkey
        ORDER BY n_nationkey DESC LIMIT 2) t
    """,
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join — the SQL-standard spelling of
    per-row dependent subqueries (top-N per outer row here), supported
    natively by Spark's analyzer since 3.2 and by every warehouse the
    reference's users might come from. Catalyst DECORRELATES the lateral
    limit into a join + per-group limit (the same physical shape
    ``topk_per_group`` pins manually), so the declarative spelling costs
    nothing at 100 TB: no per-outer-row re-execution, one join on the
    correlation key."""
    load(spark, sf_dir, "region").createOrReplaceTempView("eng_lat_region")
    load(spark, sf_dir, "nation").createOrReplaceTempView("eng_lat_nation")
    return spark.sql(
        """
        SELECT r.r_name, t.n_name, t.n_nationkey
        FROM eng_lat_region r, LATERAL (
            SELECT n_name, n_nationkey
            FROM eng_lat_nation n
            WHERE n.n_regionkey = r.r_regionkey
            ORDER BY n_nationkey DESC LIMIT 2) t
        """
    )


@query(
    "join_hint_strategies",
    oracle=f"""
    SELECT o.o_orderpriority, COUNT(*) AS n_lines,
           {sql_dsum('l.l_extendedprice')} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_hint_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-STRATEGY HINTS: the same fact-fact join executed under an
    explicit ``SHUFFLE_HASH`` hint, with a ``MERGE``-hinted twin built
    alongside and count-checked for agreement — the optimizer-override
    surface that matters at 100 TB when statistics mislead (a hash join
    avoids sorting both sides but must hold one side's partition in
    memory; sort-merge spills gracefully). tests/test_plans.py asserts
    each hint is HONORED (ShuffledHashJoin vs SortMergeJoin in the
    respective plans) — a hint silently ignored is how a tuned job
    regresses unnoticed on an engine upgrade.

    Both strategies shuffle both sides on the join key identically —
    the hint changes only the per-partition algorithm, never the
    result, which is exactly what the single oracle hash pins.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    hash_joined = li.hint("SHUFFLE_HASH").join(
        o, li.l_orderkey == o.o_orderkey
    )
    merge_joined = li.hint("MERGE").join(o, li.l_orderkey == o.o_orderkey)
    agg = lambda j: (
        j.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_lines"), dsum("l_extendedprice", "revenue"))
    )
    result = agg(hash_joined)
    # The merge-hinted twin must agree — executed (cheaply, 5 rows) so a
    # strategy-dependent bug cannot hide behind the unexecuted plan.
    assert agg(merge_joined).count() == result.count()
    return result


def join_hint_plans(spark: SparkSession, sf_dir: str):
    """(hash_plan, merge_plan) strings for the plan-assert test."""
    import contextlib
    import io

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    plans = []
    for hint in ("SHUFFLE_HASH", "MERGE"):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            li.hint(hint).join(o, li.l_orderkey == o.o_orderkey).explain(
                "formatted"
            )
        plans.append(buf.getvalue())
    return plans


@query(
    "join_data_diff",
    oracle="""
    WITH src AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
    tgt AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 1000000000000, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 103 = 0),
    joined AS (
        SELECT s.o_orderkey AS sk, t.o_orderkey AS tk,
               s.o_totalprice AS sp, t.o_totalprice AS tp
        FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey),
    classed AS (
        SELECT CASE WHEN tk IS NULL THEN 'missing_in_target'
                    WHEN sk IS NULL THEN 'missing_in_source'
                    WHEN sp <> tp   THEN 'value_drift'
                    ELSE 'match' END AS diff_class
        FROM joined)
    SELECT diff_class, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM classed GROUP BY diff_class
    """,
)
def join_data_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA RECONCILIATION DIFF — the row-level counterpart of
    meta_diff's namespace comparison, and the check every migration
    cutover runs: FULL OUTER join source vs target on the key, classify
    each key as match / missing_in_target / missing_in_source /
    value_drift, and count per class.  The fixture perturbs a copy of
    orders deterministically (drop every 97th key, drift every 101st
    price, inject every 103rd under a +1e12 key shift — far above any real key domain, so the planted rows can never collide with source keys at larger scale factors) so exactly those
    three defect classes MUST surface — one hash proves the diff finds
    planted defects AND reports clean matches for everything else.

    Scale shape: one key-partitioned full outer join (both sides shuffle
    on the key once) + a tiny class aggregate; at 100 TB add a
    per-partition pre-filter on changed-partition watermarks to skip
    provably-identical partitions, but the join itself is already the
    linear-cost spelling — never a collect-and-compare."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    tgt = (
        o.where(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") + 1.0
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            "o_orderstatus",
        )
        .unionByName(
            o.where(F.col("o_orderkey") % 103 == 0).select(
                (F.col("o_orderkey") + 1000000000000).alias("o_orderkey"),
                "o_totalprice",
                "o_orderstatus",
            )
        )
    )
    joined = o.alias("s").join(
        tgt.alias("t"),
        F.col("s.o_orderkey") == F.col("t.o_orderkey"),
        "full_outer",
    )
    classed = joined.select(
        F.when(F.col("t.o_orderkey").isNull(), "missing_in_target")
        .when(F.col("s.o_orderkey").isNull(), "missing_in_source")
        .when(
            F.col("s.o_totalprice") != F.col("t.o_totalprice"), "value_drift"
        )
        .otherwise("match")
        .alias("diff_class")
    )
    return classed.groupBy("diff_class").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@query(
    "merge_cdc_delete",
    oracle="""
    WITH feed AS (
        SELECT c_custkey AS k, 'D' AS op,
               CAST(NULL AS DOUBLE) AS new_bal, CAST(NULL AS VARCHAR) AS nm
        FROM customer WHERE c_custkey % 11 = 0
        UNION ALL
        SELECT c_custkey, 'U', c_acctbal + 100.0, c_name
        FROM customer WHERE c_custkey % 11 <> 0 AND c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey + 1000000000000, 'I', c_acctbal, c_name || '_new'
        FROM customer WHERE c_custkey % 5 = 0),
    kept AS (
        SELECT b.c_custkey, 
               COALESCE(f.new_bal, b.c_acctbal) AS c_acctbal,
               b.c_name
        FROM customer b
        LEFT JOIN feed f ON f.k = b.c_custkey
        WHERE f.op IS NULL OR f.op = 'U'),
    inserted AS (
        SELECT k AS c_custkey, new_bal AS c_acctbal, nm AS c_name
        FROM feed WHERE op = 'I')
    SELECT c_custkey, c_acctbal, c_name FROM kept
    UNION ALL
    SELECT c_custkey, c_acctbal, c_name FROM inserted
    """,
)
def merge_cdc_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL CDC APPLY (inserts + updates + DELETES): one pass applies a
    change feed carrying op codes I/U/D onto a snapshot — the complement
    of merge_upsert (no deletes) and merge_scd2_apply (history-keeping):
    a D row removes the key, a U row overwrites tracked columns, an I
    row appends a new key.  The whole merge is ONE left join on the key
    (survivors + updates in a single pass — delete is `op IS NULL OR op
    = 'U'` retention, update is COALESCE) plus the insert union; the
    feed is built deterministically from customer (every 11th key
    deleted, every 7th surviving key updated, every 5th key re-inserted
    under a +1e12 shifted id that cannot collide with real keys at any
    scale factor) so the applied snapshot is hash-checkable.

    At 100 TB this is exactly the foreachBatch MERGE shape
    (stream_foreach_upsert) with the delete branch added: the join
    shuffles on the merge key, state is bounded by key cardinality, and
    the feed side is the small one (broadcast when it fits)."""
    b = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_name"
    )
    feed = (
        b.where(F.col("c_custkey") % 11 == 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.lit("D").alias("op"),
            F.lit(None).cast("double").alias("new_bal"),
            F.lit(None).cast("string").alias("nm"),
        )
        .unionByName(
            b.where(
                (F.col("c_custkey") % 11 != 0) & (F.col("c_custkey") % 7 == 0)
            ).select(
                F.col("c_custkey").alias("k"),
                F.lit("U").alias("op"),
                (F.col("c_acctbal") + 100.0).alias("new_bal"),
                F.col("c_name").alias("nm"),
            )
        )
        .unionByName(
            b.where(F.col("c_custkey") % 5 == 0).select(
                (F.col("c_custkey") + 1000000000000).alias("k"),
                F.lit("I").alias("op"),
                F.col("c_acctbal").alias("new_bal"),
                F.concat(F.col("c_name"), F.lit("_new")).alias("nm"),
            )
        )
    )
    kept = (
        b.join(feed, b.c_custkey == feed.k, "left")
        .where(F.col("op").isNull() | (F.col("op") == "U"))
        .select(
            "c_custkey",
            F.coalesce(F.col("new_bal"), F.col("c_acctbal")).alias(
                "c_acctbal"
            ),
            "c_name",
        )
    )
    inserted = feed.where(F.col("op") == "I").select(
        F.col("k").alias("c_custkey"),
        F.col("new_bal").alias("c_acctbal"),
        F.col("nm").alias("c_name"),
    )
    return kept.unionByName(inserted)
