"""Partitioning-invariance: results must be BIT-IDENTICAL when the
cluster shape changes.

The engine's central determinism claim (README "Bit-exact determinism")
is that no result depends on aggregation ORDER — decimal-exact sums,
integer cross-comparisons, single IEEE divisions of exact operands.
The driver's DuckDB hash-compare tests cross-ENGINE agreement; this
suite tests cross-SHAPE agreement: the same key evaluated under a
different ``spark.sql.shuffle.partitions`` (and therefore different
partial-aggregation trees, different row arrival orders, different
task counts) must produce byte-identical normalized rows.  A key that
passed the oracle only because both engines happened to fold floats in
the same order would fail here — this is the test that would have
caught an accumulation-order bug BEFORE a driver adjudication.

Keys chosen: every family whose determinism is non-trivial — float
aggregation (decimal trick), window prefix sums, ratio surfaces,
sketches, iterative graph state, weighted statistics.
"""

from __future__ import annotations

import pytest

import yc_data_proc_metadata_import_spark as engine
from yc_data_proc_metadata_import_spark.session import conf_scope

from .compare import _norm

QUERIES = engine.queries()

KEYS = [
    "agg_groupby",          # decimal-exact SUM/AVG over floats
    "agg_share_of_total",   # re-aggregated decimal partials + division
    "win_running_sum",      # per-row decimal prefix sums
    "win_time_weighted_avg",  # weighted decimal sum + exact conversion
    "agg_countmin_sketch",  # counter grid built from partial counts
    "graph_pagerank",       # iterative integer state
    "graph_clustering_coefficient",  # single-division double surface
    "llm_tfidf",            # ratio/log surfaces over counts
    "win_retention_cohorts",  # distinct-count ratios
    "merge_incremental_aggregate",  # delta-refresh decimal partials
    "agg_gini",             # rank-weighted decimal sums
    "win_pareto",           # ordered decimal prefix accumulation
    "agg_weighted_median",  # integer cumulative-weight selection
]


def _rows(df):
    return sorted(
        tuple(_norm(v) for v in row)
        for row in (tuple(r) for r in df.collect())
    )


@pytest.mark.parametrize("key", KEYS)
def test_shape_invariant(key, spark, sf_dir):
    if key not in QUERIES:
        pytest.skip(f"{key} not registered")
    df_a = QUERIES[key](spark, sf_dir)
    rows_a = _rows(df_a)
    # The frame executes in the session it was built in, not the caller's.
    session = df_a.sparkSession
    assert session.conf.get("spark.sql.shuffle.partitions") != "7"
    with conf_scope(session, {"spark.sql.shuffle.partitions": "7"}):
        rows_b = _rows(QUERIES[key](spark, sf_dir))
    assert rows_a == rows_b, (
        f"{key}: result depends on shuffle partitioning "
        f"({len(rows_a)} vs {len(rows_b)} rows; first diff: "
        f"{next((a, b) for a, b in zip(rows_a, rows_b) if a != b) if len(rows_a) == len(rows_b) else 'row count'})"
    )


def test_sharded_sequence_gaps_boundary_stitch(spark):
    """The shard-BOUNDARY path of the sharded gap audit: no driver
    fixture produces a reportable gap that straddles a 65536 multiple
    (verified at sf0.1 — 0 of 2999 gaps cross), so the lookahead
    duplication is pinned here on a synthetic keyspace with every edge
    the algebra claims to handle:

    - a <=max_missing gap fully inside a shard,
    - a <=max_missing gap crossing a shard boundary (resume offset near
      0 and at exactly max_missing),
    - a boundary gap one over the cap (must be dropped),
    - an entirely empty shard (gap >> cap, dropped),
    - adjacent keys across the boundary (no gap at all).

    Reference = the naive single-partition LEAD over the same keys —
    the semantics the sharded form must reproduce exactly.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from yc_data_proc_metadata_import_spark.operators.windows import (
        sharded_sequence_gaps,
    )

    W, M = 1000, 50  # small shard width/cap so the test runs on tiny data
    keys = set()
    keys.update(range(100, 150))            # dense run inside shard 0
    keys.update({500, 520})                 # in-shard gap of 19
    keys.update({990, 1030})                # boundary gap of 39 (offset 30 <= M)
    keys.update({1995, 2046})               # boundary gap of exactly M (offset 46)
    keys.update({2990, 3042})               # boundary gap of M+1 -> dropped
    keys.update({3999, 4000})               # adjacent across boundary: no gap
    keys.update({4500, 6500})               # shard 5 empty: gap 1999 -> dropped
    keys.update({6553, 6554, 6600})         # shard 6 tail
    # NEGATIVE key domain (round-7 ADVICE): the lookahead predicate is
    # pmod, matching F.floor's toward-negative-infinity shard division —
    # these pin the boundary stitch below zero and across zero, where a
    # sign-preserving % would mis-classify the lookahead rows.
    keys.update(range(-150, -100))          # dense run inside shard -1
    keys.update({-1005, -995})              # gap crossing the -1000 boundary
    keys.update({-3, 5})                    # gap crossing the 0 boundary
    # BEYOND-2^53 key domain: shard assignment must be exact integer
    # floor-division — double true-division carries ~2^9 absolute error
    # at 2^62, enough to misassign a boundary key to a non-adjacent
    # shard and silently drop its stitch.
    big = 4611686018427388000  # multiple of W=1000, near 2^62
    keys.update({big - 5, big + 3})         # gap crossing that boundary
    df = spark.createDataFrame([(k,) for k in sorted(keys)], "k long")

    got = {
        (r.gap_after, r.resumes_at, r.n_missing)
        for r in sharded_sequence_gaps(df, shard_w=W, max_missing=M).collect()
    }
    ref_w = Window.orderBy("k")
    naive = (
        df.withColumn("next_k", F.lead("k").over(ref_w))
        .where(
            (F.col("next_k") - F.col("k") > 1)
            & (F.col("next_k") - F.col("k") - 1 <= M)
        )
        .select(
            F.col("k").alias("gap_after"),
            F.col("next_k").alias("resumes_at"),
            (F.col("next_k") - F.col("k") - 1).cast("bigint").alias("n_missing"),
        )
    )
    want = {(r.gap_after, r.resumes_at, r.n_missing) for r in naive.collect()}
    assert got == want
    # The scenario really exercises the boundary: at least two reported
    # gaps cross a shard edge, and the over-cap boundary gap is absent.
    crossing = {g for g in got if g[0] // W != g[1] // W}
    assert len(crossing) >= 2, crossing
    assert (2990, 3042, 51) not in got
    # The negative-domain stitches really happened.
    assert (-1005, -995, 9) in got and (-3, 5, 7) in got
    # ... and the beyond-2^53 boundary stitch survived exact shard math.
    assert (big - 5, big + 3, 7) in got


def test_sharded_sequence_gaps_property(spark):
    """Property form of the boundary test: on random sparse keyspaces
    spanning several (small) shards, the sharded gap audit must equal
    the naive global-window reference exactly. Random draws concentrate
    keys near shard edges so boundary stitches occur often. Hypothesis
    drives the draw; Spark executes each case, so examples are few but
    each covers hundreds of keys."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from yc_data_proc_metadata_import_spark.operators.windows import (
        sharded_sequence_gaps,
    )

    W, M = 256, 40
    rng = random.Random(0xC0FFEE)
    for trial in range(6):
        n_keys = rng.randrange(50, 400)
        keys = set()
        while len(keys) < n_keys:
            if rng.random() < 0.5:
                # cluster near a shard edge to force boundary pairs
                edge = rng.randrange(1, 8) * W
                keys.add(max(0, edge + rng.randrange(-M - 5, M + 5)))
            else:
                keys.add(rng.randrange(0, 8 * W))
        df = spark.createDataFrame([(k,) for k in sorted(keys)], "k long")
        got = {
            (r.gap_after, r.resumes_at, r.n_missing)
            for r in sharded_sequence_gaps(df, shard_w=W, max_missing=M).collect()
        }
        naive = (
            df.withColumn("next_k", F.lead("k").over(Window.orderBy("k")))
            .where(
                (F.col("next_k") - F.col("k") > 1)
                & (F.col("next_k") - F.col("k") - 1 <= M)
            )
            .select(
                F.col("k").alias("gap_after"),
                F.col("next_k").alias("resumes_at"),
                (F.col("next_k") - F.col("k") - 1).cast("bigint").alias("n_missing"),
            )
        )
        want = {(r.gap_after, r.resumes_at, r.n_missing) for r in naive.collect()}
        assert got == want, f"trial {trial}: {got ^ want}"


def test_histogram_median_equals_tiebroken_selection(spark):
    """Property backing the MAD rewrite: the value selected by the
    cumulative-count histogram median equals the value at row
    (n+1) div 2 under ANY full tie-broken row ordering — including data
    with heavy duplication, where the tie-break actually bites."""
    import random

    rng = random.Random(0xBEEF)
    for trial in range(8):
        groups = {}
        for g in ("A", "B", "C"):
            n = rng.randrange(1, 60)
            # small value domain -> many duplicates
            groups[g] = [float(rng.randrange(0, 7)) for _ in range(n)]
        rows = [(g, v, i) for g, vs in groups.items() for i, v in enumerate(vs)]
        df = spark.createDataFrame(rows, "l_returnflag string, l_extendedprice double, rid long")

        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        hist = df.groupBy("l_returnflag", "l_extendedprice").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        wcum = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
        wall = Window.partitionBy("l_returnflag")
        h = hist.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
            "n", F.sum("cnt").over(wall)
        )
        k = F.expr("(n + 1) div 2")
        got = {
            (r.l_returnflag, r.l_extendedprice)
            for r in h.where(
                (F.col("cum") - F.col("cnt") < k) & (k <= F.col("cum"))
            ).collect()
        }
        want = {
            (g, sorted(vs)[(len(vs) + 1) // 2 - 1]) for g, vs in groups.items()
        }
        assert got == want, f"trial {trial}"
