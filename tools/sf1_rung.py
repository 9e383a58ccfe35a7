#!/usr/bin/env python
"""Replay a representative key subset + the invariance suite at sf1 (10x).

Round-11 VERDICT item 2: turn the 100 TB plan claims into a measured
second data point.  Runs three passes against the .scratch/sf1 rung
built by tools/make_sf1.py (6 M lineitem rows, 10x every sf0.1 table):

1. CORRECTNESS: each representative key runs on Spark AND its
   registered DuckDB oracle over the same sf1 parquet; results compared
   with tests.compare.assert_match — the exact driver comparator
   (row count + arrow types + order-insensitive values).  Two keys get
   scale-appropriate comparators instead (first rung run, r12):
   - llm_dedup_near: the oracle is the EXACT pair set and LSH recall is
     probabilistic — 100% on the driver fixtures (no pairs below
     J~0.95) but 99.94% on this rung's adversarial J in [0.5,1] pair
     mass, per-J recall matching the 8x4 banding curve 1-(1-J^4)^8
     almost exactly (0.966 vs 0.952 theory at J~0.7).  The rung
     therefore adjudicates what the algorithm PROMISES: precision
     == 1.0 (the verify stage recomputes exact Jaccard, so a single
     false pair is a bug) and recall >= 0.999.
   - llm_dedup_simhash: the pair-list OUTPUT is inherently quadratic on
     the driver corpus (~40% of all doc pairs sit within Hamming 10 at
     every tier: 48,957 pairs at n=500; 5.05M at n=5,000; 544,259,317
     at n=50,000) — a 544M-row collect is the wrong comparator shape,
     so both engines reduce to an exact-integer checksum
     (count, sum(doc_a), sum(doc_b), sum(hamming)) computed
     engine-side.  Order-insensitive and overflow-free (sums <= 2^48).
2. WALL: Spark execution wall per key via the bench's noop-sink
   convention (full plan runs, nothing collected), recorded next to the
   same key's sf0.1 wall so the scaling exponent is visible.
3. INVARIANCE: the partitioning-invariance suite's key list re-executed
   at sf1 under shuffle.partitions 32 vs 7 — bit-identical normalized
   rows required (the cross-SHAPE determinism claim at the new scale).

PRESETS (SPARK_GRAFT_RUNG_PRESET): "sf1" (default, the full KEYS
subset above — len(KEYS) entries; no hard-coded count) and "sf10" — the 100x-the-bench-tier decade
(SPARK_GRAFT_SF1_OUT=.scratch/sf10 SPARK_GRAFT_SF1_COPIES=100
tools/make_sf1.py; 60 M lineitem rows).  sf10 restricts to the
relational core + linear-text/embedding keys (the quadratic-OUTPUT
dedup keys are the sf1 finding — their pair lists are data-quadratic,
so re-running them a decade up measures nothing new and costs hours)
and swaps the full-collect comparator for the engine-side
exact-integer/decimal checksum on keys whose OUTPUT scales with the
data (window/join row streams) — full value compare stays on every
key with an aggregated output.

Output: one JSON line to stdout + .scratch/<preset>_rung_report.json.
Run solo (it assumes the host, like a bench run).

FIXTURE BUILD COMMANDS (scratch is wiped between rounds; these are the
exact invocations each preset expects — reconstructed from prose once
too often):

  sf1 (full tables, 10x):
      python tools/make_sf1.py
  sf10 (full tables, 100x):
      SPARK_GRAFT_SF1_OUT=.scratch/sf10 SPARK_GRAFT_SF1_COPIES=100 \
          python tools/make_sf1.py
  sf100 (relational subset + events, 1000x, chunk-written):
      SPARK_GRAFT_SF1_OUT=.scratch/sf100 SPARK_GRAFT_SF1_COPIES=1000 \
          SPARK_GRAFT_SF1_TABLES=region,nation,customer,supplier,part,orders,lineitem,events \
          SPARK_GRAFT_SF1_CHUNK=50 python tools/make_sf1.py
  sf100_docs (documents only, the 5M-doc corpus behind LABELS_5M_r17.json):
      SPARK_GRAFT_SF1_OUT=.scratch/sf100_docs SPARK_GRAFT_SF1_COPIES=1000 \
          SPARK_GRAFT_SF1_TABLES=documents python tools/make_sf1.py
  hard 2M-doc corpus (for the label fixpoint + truth analysis):
      python tools/make_hard_docs.py .scratch/hard_docs_2m_r17 200000 10

Targeted re-adjudication after a single-key fix:
      SPARK_GRAFT_RUNG_PRESET=<preset> SPARK_GRAFT_RUNG_KEYS=<key,key> \
          python tools/sf1_rung.py
(the report records restricted_to_keys so a filtered run can't pass as
a full rung).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SF1 = os.path.join(REPO, ".scratch", "sf1")

# Representative subset (round-11 VERDICT: joins, dedup family, windows,
# TPC-H Q6/Q21 named explicitly; one representative per remaining family).
KEYS = [
    # scans / flagship
    "scan_parquet",
    "flagship_pricing_summary",
    # joins
    "join_inner",
    "join_star",
    "join_asof",
    "join_range",
    "join_skew_salted",
    "merge_upsert",
    "bucketed_join_noshuffle",
    # aggregates
    "agg_groupby",
    "agg_cube",
    "agg_approx_distinct",
    "agg_median_absolute_deviation",
    # windows
    "win_ranking",
    "win_running_sum",
    "win_sessionize",
    "topk_per_group",
    "win_sequence_gaps",
    "win_retention_cohorts",
    # round-18: rolling z-score over the 1M-event stream — the window
    # family's newest key, adjudicated at its first decade up.
    "win_anomaly_zscore",
    # round-18: group-vs-rest Welch t over 1M events (post-agg double
    # tree; the int64-square overflow guard is exactly for this tier).
    "agg_welch_ttest",
    # TPC-H
    "tpch_q6_forecast_revenue",
    "tpch_q18_large_volume",
    "tpch_q21_waiting_supplier",
    # dedup family
    "llm_dedup_exact",
    "llm_dedup_near",
    "llm_dedup_simhash",
    "llm_dedup_simhash_labels",
    # round-16: the fragmenting-corpus labels key at 10x (4,166 families
    # -> 54,158 generated docs). Round-17 (round-16 VERDICT task 8): the
    # registered recursive-reach oracle is quadratic in component size
    # (91 s compare at this tier), so the rung adjudicates via the same
    # compare_component_labels iterated-propagation ground truth the
    # main labels key uses — identical exactness (full-join over every
    # doc's (cluster_id, keep)), O(edges * diameter) instead.
    "llm_dedup_simhash_labels_hard",
    "llm_dedup_ngram",
    # round-18: directed shingle containment at 50k docs — same
    # inverted-index cost class as llm_dedup_ngram (sum df^2), no size
    # prune by construction (asymmetric metric).
    "llm_dedup_containment",
    "llm_dedup_cluster",
    "llm_contamination_check",
    # similarity family
    "llm_topk_cosine",
    "llm_sim_join_lsh",
    "llm_ann_ivf",
    # round-18: the PQ pair at 50k vectors — full unrolled-training
    # oracle replays (MATERIALIZED CTEs; linear in corpus).
    "llm_ann_pq",
    "llm_ann_ivfpq",
    "llm_semdedup",
    # text family
    "llm_tokenize",
    "llm_tfidf",
    "llm_gopher_quality",
    # round-18: integer micro-bit entropy at 50k docs (linear, two hash
    # aggs) — first decade-up adjudication for the new quality key.
    "llm_token_entropy",
    # streaming (availableNow drains over the 1M-event sf1 stream
    # fixtures; outputs stay window-bounded because replicas share the
    # source time range)
    "stream_tumbling",
    "stream_sliding",
    "stream_watermark",
    "stream_dedup",
    "stream_stateful",
    # round-18: the stateful numeric twin — expanding per-user moments
    # over the 1M-event drain (oracle int64 bound holds to ~93k
    # events/user; this tier is 66k).
    "stream_zscore",
    # metadata / catalog lifecycle
    "meta_roundtrip",
    "meta_profile_table",
    "catalog_save_as_table",
    # pruning / partitioned layout (fixture-building keys — the sf1
    # partitioned/bucketed fixtures are built here, once)
    "scan_partition_pruned",
    "join_dpp_pruned",
    "sink_partitioned",
    # UDF surface + analytics
    "udf_pandas",
    "udaf_grouped",
    "sql_recursive_cte",
    "graph_pagerank",
    "graph_triangle_count",
    "graph_clustering_coefficient",
    # round-18 (round-17 VERDICT task 6): the remaining two graph keys
    # had sf10-only rung evidence — one full recursive-CTE oracle replay
    # each over the sf1 spine closes the decade below.
    "graph_shortest_path",
    "graph_connected_components",
    "graph_kcore",
    "reshape_pivot",
]

INVARIANCE_KEYS = [
    "agg_groupby",
    "agg_share_of_total",
    "win_running_sum",
    "win_time_weighted_avg",
    "agg_countmin_sketch",
    "graph_pagerank",
    "llm_tfidf",
    "win_retention_cohorts",
    "merge_incremental_aggregate",
    "agg_gini",
    "win_pareto",
    "agg_weighted_median",
]

# sf10: relational core + linear llm keys; big-output keys move to the
# checksum comparator (full collect of a 10M-row window stream is a
# harness cost, not an engine property — the sf0.01 gate and the sf1
# rung already value-compare these keys in full).
KEYS_SF10 = [
    "scan_parquet",
    "flagship_pricing_summary",
    "join_inner",
    "join_star",
    "join_asof",
    "join_range",
    "join_skew_salted",
    "merge_upsert",
    "bucketed_join_noshuffle",
    "agg_groupby",
    "agg_cube",
    "agg_approx_distinct",
    "agg_median_absolute_deviation",
    "win_ranking",
    "win_running_sum",
    "win_sessionize",
    "topk_per_group",
    "win_sequence_gaps",
    "win_retention_cohorts",
    "tpch_q6_forecast_revenue",
    "tpch_q18_large_volume",
    "tpch_q21_waiting_supplier",
    "llm_dedup_exact",
    "llm_topk_cosine",
    "llm_tokenize",
    "llm_tfidf",
    "llm_gopher_quality",
    # round-12 VERDICT task 3: close the 100x evidence gap for the
    # state-bearing families — streaming drains, metadata round-trip,
    # and the banded/clustered dedup keys. llm_dedup_simhash stays OUT:
    # the sf1 rung proved its pair list is data-quadratic on this corpus
    # (~40% pair density at every tier => ~5e10 pairs at 500k docs);
    # its scale deliverable llm_dedup_simhash_labels is adjudicated at
    # sf1, where the 544M-pair intermediate is already the stress case.
    "stream_tumbling",
    "stream_sliding",
    "stream_watermark",
    # stream_dedup is deliberately NOT in the sf10 preset (round-13
    # finding): its dropDuplicates state is one entry per event_id, so a
    # 10M-event availableNow drain holds 10M keys in the default
    # IN-HEAP state store and OOMs an 8 GB single node (Spark caught the
    # task OOM but the heap never recovered — maintenance/shuffle
    # threads kept dying). The key stays proven at sf1 (1M events); the
    # 100x state-bearing representative is the RocksDB-backed store,
    # which spills state to local disk — exactly the production answer
    # for state >> heap.
    "stream_rocksdb_state",
    "stream_stateful",
    "meta_roundtrip",
    "meta_profile_table",
    # The EXACT-quadratic dedup keys are measurably infeasible at 500k
    # docs on one node (round-13 finding, details in SURVEY 6.2d): the
    # template shingles shared corpus-wide make the exact inverted-index
    # self-join's INTERMEDIATE ~1e11 rows — Spark's own exact-ngram
    # shuffle exhausted the 250 GB disk, and llm_dedup_near's exact
    # ground-truth oracle ate >100 GB RAM + all temp space in DuckDB
    # while Spark's banded LSH side finished in 112.7 s. They stay
    # adjudicated at sf1 (50k docs); the 100x dedup representatives are
    # the LINEAR keys below.
    "llm_dedup_incremental",
    # round-14: the simhash family's linear-output label deliverable
    # runs at sf10 on the star-edge redesign (llm/dedup.py — nothing
    # quadratic materialized). Exact DuckDB ground truth is infeasible
    # here (~9e9 fp-pairs even over the 216,443 distinct fingerprints),
    # so the key gets the VERDICT-blessed invariant battery + witnessed-
    # edge soundness comparator (compare_labels_invariants) plus the
    # partitioning-invariance pass; exactness of the algorithm itself
    # is adjudicated at sf1 against the independent iterated fixpoint.
    "llm_dedup_simhash_labels",
    # round-14: IVF at scaled K (K=448 ~ sqrt(200k), env override set in
    # main) — adjudicated by recall vs the exact top-k, the number an
    # ANN user tunes nprobe against; plumbing exactness is the sf1 rung
    # assert_match at registry K.
    "llm_ann_ivf",
    # round-16 (round-15 VERDICT task 4): the graph family's only prior
    # evidence ran on the 25-node nation graph; this row derives the
    # trade graph from the 60M-row fact spine (the scale-relevant step)
    # and replays the full integer-exact PageRank oracle in DuckDB over
    # the same parquet. compare_pagerank additionally re-times the edge
    # derivation alone so the fact-join wall is recorded separately
    # from the nodes^2-bounded iterations.
    "graph_pagerank",
    # round-17 (round-16 VERDICT task 6): the other two graph keys share
    # pagerank's _trade_edges fact-join pipeline (price-thresholded
    # variants), so each is one full recursive-CTE oracle replay over
    # the same 60M-row spine — compare_full, no special comparator.
    "graph_shortest_path",
    "graph_connected_components",
    # round-17: triangle enumeration + clustering coefficient ride the
    # same spine; their oracles' self-joins run on the nodes^2-bounded
    # MATERIALIZED edge CTE, so the DuckDB cost is the edge derivation,
    # same as the other graph rows.
    "graph_triangle_count",
    "graph_clustering_coefficient",
    # round-18: k-core rides the same 60M-row spine (nodes^2-bounded
    # MATERIALIZED edge CTE + unrolled peel rounds — full compare).
    "graph_kcore",
    # round-18: rolling z-score at 10M events (checksum tier: the int
    # columns cover ids/cents/frame counts; zscore doubles are excluded
    # by checksum policy and full-value-compared at sf1).
    "win_anomaly_zscore",
    # round-18: PQ two-stage ANN at 200k vectors, full oracle replay
    # (the unrolled training runs on MATERIALIZED CTEs; assignment
    # cross joins are 200k x 16 per subspace — linear in corpus).
    "llm_ann_pq",
]

CHECKSUM_KEYS_SF10 = {
    "join_inner",
    "join_asof",
    "merge_upsert",
    "bucketed_join_noshuffle",
    "win_ranking",
    "win_running_sum",
    "win_sessionize",
    "llm_dedup_exact",
    "llm_tokenize",
    "llm_tfidf",
    "win_anomaly_zscore",
    # (round-13: the exact-quadratic dedup keys left the sf10 preset —
    # see the KEYS_SF10 comment — so no pair-list checksum rows remain;
    # llm_dedup_near would in any case need the recall comparator, since
    # its oracle is the exact pair set while LSH recall is the
    # 1-(1-J^4)^8 curve.)
}

# sf100: one more decade (600M lineitem rows, 100M events — round-13
# VERDICT task 5's bounded probe). Bounded-OUTPUT relational keys only;
# row-stream outputs use the engine-side checksum. The fixture is
# generated with SPARK_GRAFT_SF1_TABLES=<relational subset> and
# SPARK_GRAFT_SF1_CHUNK (chunked directory parquet), so documents/
# embeddings keys are out of scope by construction.
KEYS_SF100 = [
    "scan_parquet",
    "flagship_pricing_summary",
    "agg_groupby",
    "agg_approx_distinct",
    "tpch_q6_forecast_revenue",
    "join_star",
    "topk_per_group",
    "join_inner",
    "win_sessionize",
    # round-15 (round-14 VERDICT task 7): the streaming representative —
    # 100M events through an availableNow drain with the RocksDB state
    # backend (the r13-identified boundary answer: in-heap state OOMs at
    # this scale, RocksDB spills to local disk). Output is the windowed
    # aggregate (windows x event types — small), full-value compared.
    "stream_rocksdb_state",
    # round-18 (round-17 VERDICT task 2): the graph family's 600M-row
    # edge-derivation spine was one decade unmeasured. All three oracles
    # now run on a MATERIALIZED edge CTE (the sf10 triangle incident's
    # fix, applied pre-emptively to pagerank/components), so the DuckDB
    # cost is ONE fact-join replay per key; graph_pagerank's comparator
    # additionally re-times the Spark edge derivation alone.
    "graph_pagerank",
    "graph_triangle_count",
    "graph_connected_components",
    # round-18: k-core peeling on the same 600M-row spine (unrolled
    # oracle over the MATERIALIZED edge CTE — one fact-join replay).
    "graph_kcore",
]

CHECKSUM_KEYS_SF100 = {"join_inner", "win_sessionize"}

INVARIANCE_KEYS_SF100 = ["agg_groupby"]

INVARIANCE_KEYS_SF10 = [
    "llm_dedup_simhash_labels",
    "agg_groupby",
    "agg_share_of_total",
    "agg_countmin_sketch",
    "graph_pagerank",
    "win_retention_cohorts",
    "merge_incremental_aggregate",
    "agg_gini",
    "win_pareto",
    "agg_weighted_median",
]


def checksum_plan(df, key: str):
    """Engine-side exact checksum plan for a quadratic-output key:
    (num_cols, spark agg exprs, duckdb sum-expression sql).

    Module-level (not a closure) so tests/test_scale_rung_tools.py can
    pin the two load-bearing rules without running a rung:

    - exact-integer AND exact-decimal columns sum order-independently in
      both engines; doubles are EXCLUDED (float addition is order-
      dependent — a checksum over them would flake; the full-value tiers
      already cover them). Zero summable columns is an ERROR, not a
      count-only comparison (round-12 ADVICE: silent degradation would
      report "oracle-exact" backed by nothing but a row count).
    - integer sums are widened to DECIMAL(38,0) on BOTH sides:
      sum(bigint) wraps at 2^63 in Spark but auto-widens to HUGEINT in
      DuckDB — measured live on win_sessionize at sf10, where
      sum(epoch_ms) over 9.5M rows is ~1.6e19 and the wrapped Spark sum
      differed from the DuckDB sum by exactly 2^64. Decimal columns keep
      their own scale (a cast to (38,0) would truncate with engine-
      specific rounding).
    """
    from pyspark.sql import functions as F

    num_cols = [
        f.name
        for f in df.schema.fields
        if f.dataType.simpleString()
        in ("bigint", "int", "integer", "smallint", "tinyint")
        or f.dataType.simpleString().startswith("decimal")
    ]
    if not num_cols:
        raise ValueError(
            f"{key}: no int/decimal columns to checksum — "
            "use the full-value comparator for this key"
        )
    int_cols = {
        f.name
        for f in df.schema.fields
        if not f.dataType.simpleString().startswith("decimal")
    }

    def _sexpr(c):
        return (
            F.sum(F.col(c).cast("decimal(38,0)")) if c in int_cols else F.sum(c)
        )

    spark_exprs = [F.count(F.lit(1)).alias("n")] + [
        _sexpr(c).alias(f"s_{c}") for c in num_cols
    ]
    sums = ", ".join(
        f"sum(CAST({c} AS DECIMAL(38,0))) AS s_{c}"
        if c in int_cols
        else f"sum({c}) AS s_{c}"
        for c in num_cols
    )
    return num_cols, spark_exprs, sums


def main() -> int:
    preset = os.environ.get("SPARK_GRAFT_RUNG_PRESET", "sf1")
    global SF1
    if preset == "sf10":
        SF1 = os.path.join(REPO, ".scratch", "sf10")
        keys, inv_keys = KEYS_SF10, INVARIANCE_KEYS_SF10
        checksum_keys = CHECKSUM_KEYS_SF10
        sf_val = 10.0
        # Scale the IVF quantizer to the corpus (K ~ sqrt(200k) = 448,
        # nprobe widened to keep recall): MUST happen before the engine
        # import below — the constants (and the oracle strings nobody
        # replays at this preset) are read at module import.
        os.environ.setdefault("SPARK_GRAFT_KM_K", "448")
        os.environ.setdefault("SPARK_GRAFT_IVF_NPROBE", "32")
    elif preset == "sf100":
        SF1 = os.path.join(REPO, ".scratch", "sf100")
        keys, inv_keys = KEYS_SF100, INVARIANCE_KEYS_SF100
        checksum_keys = CHECKSUM_KEYS_SF100
        sf_val = 100.0
    else:
        keys, inv_keys = KEYS, INVARIANCE_KEYS
        checksum_keys = {"llm_dedup_simhash"}
        sf_val = 1.0
    # Explicit smoke-test override: point the preset's key/comparator mix
    # at a smaller generated fixture dir (tests and pre-flight runs).
    # abspath is load-bearing: a RELATIVE dir reaches the metadata keys'
    # DDL replay as a relative LOCATION, which the imported namespace
    # resolves against the warehouse dir instead of the fixture dir —
    # meta_roundtrip then reads an empty path (UNABLE_TO_INFER_SCHEMA).
    SF1 = os.path.abspath(os.environ.get("SPARK_GRAFT_RUNG_DIR", SF1))
    if not os.path.isdir(SF1):
        print(f"{preset} rung missing — run tools/make_sf1.py first ({SF1})")
        return 2
    # Targeted re-adjudication: restrict to a comma-separated key subset
    # (e.g. after an oracle fix) without replaying the whole preset.
    # The report notes the restriction so a filtered run can't pass as a
    # full rung.
    only = {k for k in os.environ.get("SPARK_GRAFT_RUNG_KEYS", "").split(",") if k}
    if only:
        # A typo'd or out-of-preset name must not silently drop to an
        # empty run that exits 0 with failures=[] (round-17 ADVICE: easy
        # to misread as the fix being verified).
        unknown = only - set(keys) - set(inv_keys)
        if unknown:
            print(
                f"SPARK_GRAFT_RUNG_KEYS names not in the {preset} preset: "
                f"{sorted(unknown)}"
            )
            return 2
        keys = [k for k in keys if k in only]
        inv_keys = [k for k in inv_keys if k in only]
        if not keys and not inv_keys:
            print(f"SPARK_GRAFT_RUNG_KEYS filtered the {preset} preset to zero keys")
            return 2

    import duckdb

    from tests.compare import _norm, assert_match
    from yc_data_proc_metadata_import_spark.session import conf_scope, get_spark
    from yc_data_proc_metadata_import_spark.sources.io import TABLES, table_path

    spark = get_spark(app_name=f"{preset}-rung")
    import yc_data_proc_metadata_import_spark as engine

    queries, oracles = engine.queries(), engine.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        p = table_path(SF1, t)
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")  # chunked directory table
        elif not os.path.exists(p):
            continue  # table-filtered fixture (sf100 relational subset)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def run_noop(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    # Warm-up (bench convention): JVM/codegen + Arrow-Python machinery.
    run_noop(queries["flagship_pricing_summary"](spark, SF1))

    report: dict = {"sf": sf_val, "src": SF1, "keys": {}, "invariance": {}}
    failures: list[str] = []

    def compare_full(key, row):
        assert_match(queries[key](spark, SF1), con, oracles[key], key)
        row["match"] = True

    def compare_recall(key, row):
        # precision must be exact (verify stage recomputes exact Jaccard);
        # recall is the published probabilistic property of 8x4 banding.
        # Set ops run in DuckDB over the Arrow-registered Spark result —
        # never Python sets (25M-pair outputs at sf10).  The Spark side is
        # DISTINCT'd in DuckDB so precision/recall keep r12's SET
        # semantics even if a future implementation emits duplicate rows
        # (round-13 ADVICE: raw row counts would silently inflate).
        got = queries[key](spark, SF1).select("doc_a", "doc_b").toArrow()
        con.register("rcl_raw", got)
        con.execute(
            "CREATE OR REPLACE TABLE rcl_spark AS "
            "SELECT DISTINCT doc_a, doc_b FROM rcl_raw"
        )
        con.unregister("rcl_raw")
        con.execute(
            f"CREATE OR REPLACE TABLE rcl_exact AS "
            f"SELECT doc_a, doc_b FROM ({oracles[key]})"
        )
        n_spark = con.execute("SELECT count(*) FROM rcl_spark").fetchone()[0]
        n_exact = con.execute("SELECT count(*) FROM rcl_exact").fetchone()[0]
        extra = con.execute(
            "SELECT count(*) FROM rcl_spark s ANTI JOIN rcl_exact e"
            " USING (doc_a, doc_b)"
        ).fetchone()[0]
        recalled = con.execute(
            "SELECT count(*) FROM rcl_exact e SEMI JOIN rcl_spark s"
            " USING (doc_a, doc_b)"
        ).fetchone()[0]
        con.execute("DROP TABLE rcl_spark")
        row["precision"] = 1.0 if not n_spark else round(1 - extra / n_spark, 6)
        row["recall"] = round(recalled / n_exact, 6) if n_exact else 1.0
        row["n_spark"], row["n_exact"] = n_spark, n_exact
        row["match"] = extra == 0 and row["recall"] >= 0.999

    def duck_propagate(pair_sql: str, init_sql: str | None = None) -> None:
        """Exact connected components in DuckDB: min-label propagation
        to fixpoint over the pair graph => table cc_l(node, label),
        label = component minimum. The recursive-reach CTE the sf0.01
        oracle uses is quadratic in component SIZE (the sf1 simhash
        graph has a ~37k-node component => ~1.4e9 reach rows), so the
        rung's independent ground truth iterates instead — same
        converged fixpoint, cost O(edges * diameter).

        ``init_sql`` optionally supplies the initial (node, label) rows
        — used by the fingerprint-level truth, whose nodes are simhash
        values seeded with their min doc_id (and whose isolated nodes
        must still get rows); default is node-labels-itself over the
        edge endpoints."""
        con.execute(
            f"CREATE OR REPLACE TABLE cc_e AS WITH p AS ({pair_sql}) "
            "SELECT doc_a AS u, doc_b AS v FROM p "
            "UNION ALL SELECT doc_b, doc_a FROM p"
        )
        con.execute(
            "CREATE OR REPLACE TABLE cc_l AS "
            + (
                f"SELECT node, label FROM ({init_sql})"
                if init_sql
                else "SELECT DISTINCT u AS node, u AS label FROM cc_e"
            )
        )
        while True:
            con.execute(
                "CREATE OR REPLACE TABLE cc_n AS "
                "SELECT l.node, LEAST(l.label, COALESCE(MIN(nb.label), l.label))"
                " AS label "
                "FROM cc_l l LEFT JOIN "
                "(SELECT e.u, l2.label FROM cc_e e JOIN cc_l l2 ON e.v = l2.node)"
                " nb ON nb.u = l.node "
                "GROUP BY l.node, l.label"
            )
            changed = con.execute(
                "SELECT count(*) FROM cc_n n JOIN cc_l l USING (node) "
                "WHERE n.label <> l.label"
            ).fetchone()[0]
            con.execute("CREATE OR REPLACE TABLE cc_l AS SELECT * FROM cc_n")
            if changed == 0:
                return

    def label_truth_compare(key, row, truth: str) -> None:
        """FULL-JOIN a (doc_id, cluster_id, keep) truth query against
        the engine's result. doc_id is unique on both sides (groupBy
        output), so zero unmatched FULL-JOIN rows == exact set
        equality."""
        got = queries[key](spark, SF1).toArrow()
        con.register("cc_spark", got)
        n_truth = con.execute(f"SELECT count(*) FROM ({truth})").fetchone()[0]
        mismatch = con.execute(
            f"WITH t AS ({truth}) SELECT count(*) FROM t "
            "FULL JOIN cc_spark s ON t.doc_id = s.doc_id "
            "AND t.cluster_id = s.cluster_id AND t.keep = s.keep "
            "WHERE t.doc_id IS NULL OR s.doc_id IS NULL"
        ).fetchone()[0]
        con.unregister("cc_spark")
        row["n_spark"], row["n_truth"] = got.num_rows, n_truth
        row["mismatches"] = mismatch
        row["match"] = mismatch == 0 and got.num_rows == n_truth

    def compare_component_labels(key, row, pair_sql, universe_sql):
        """Adjudicate a (doc_id, cluster_id, keep) label deliverable
        against DuckDB's independently-propagated exact components.
        universe_sql supplies the singleton universe —
        llm_dedup_simhash_labels emits every non-empty doc."""
        duck_propagate(pair_sql)
        truth = (
            f"WITH u AS ({universe_sql}) "
            "SELECT u.doc_id, COALESCE(l.label, u.doc_id) AS cluster_id, "
            "COALESCE(l.label, u.doc_id) = u.doc_id AS keep "
            "FROM u LEFT JOIN cc_l l ON l.node = u.doc_id"
        )
        label_truth_compare(key, row, truth)
        row["n_pairs"] = (
            con.execute("SELECT count(*) FROM cc_e").fetchone()[0] // 2
        )
        row["n_clusters"] = con.execute(
            "SELECT count(DISTINCT label) FROM cc_l"
        ).fetchone()[0]

    def ivf_recall(key, row):
        # recall vs the exact top-k — the number an ANN user actually
        # tunes nprobe against
        from yc_data_proc_metadata_import_spark.llm import similarity as _sim

        exact_sql = (
            f"WITH v AS ({_sim._VECS_SQL}) "
            "SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id "
            "FROM v q JOIN v n ON n.vec_id <> q.vec_id "
            f"WHERE q.vec_id < {_sim._N_QUERIES} "
            "QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY "
            + _sim._DOT_SQL.format(a="q.emb", b="n.emb")
            + f" / (q.norm * n.norm) DESC, n.vec_id) <= {_sim._TOP_K}"
        )
        want = set(map(tuple, con.execute(exact_sql).fetchall()))
        got = {
            (r.query_id, r.neighbor_id)
            for r in queries[key](spark, SF1).select(
                "query_id", "neighbor_id"
            ).collect()
        }
        row["recall_vs_exact"] = round(len(got & want) / len(want), 6)
        row["n_exact"] = len(want)

    def compare_ivf(key, row):
        # sf1: plumbing is exact — full-value compare vs the trained-
        # codebook oracle replay, THEN measure recall.
        assert_match(queries[key](spark, SF1), con, oracles[key], key)
        ivf_recall(key, row)
        row["match"] = True  # exactness gate is the oracle assert above

    def compare_ivf_recall_only(key, row):
        # sf10 (scaled K=448): the oracle replay (448-centroid Lloyd in
        # DuckDB list arithmetic) is measurably impractical and the
        # plumbing is already oracle-exact at sf1 — adjudicate what the
        # decade-up claim IS: the trained codebook's recall vs the
        # exact top-k, gated at 0.9.
        from yc_data_proc_metadata_import_spark.llm import similarity as _sim

        row["km_k"] = int(os.environ.get("SPARK_GRAFT_KM_K", "8"))
        row["nprobe"] = int(os.environ.get("SPARK_GRAFT_IVF_NPROBE", "3"))
        # round-17: multi-assignment is the default index shape — record
        # it so the rung row documents WHICH index the recall measures.
        row["nassign"] = _sim._IVF_NASSIGN
        ivf_recall(key, row)
        row["match"] = row["recall_vs_exact"] >= 0.9

    def compare_checksum(key, row):
        df = queries[key](spark, SF1)
        num_cols, spark_exprs, sums = checksum_plan(df, key)
        got = df.agg(*spark_exprs).collect()[0].asDict()
        want = dict(
            zip(
                ["n"] + [f"s_{c}" for c in num_cols],
                con.execute(
                    f"SELECT count(*) AS n, {sums} FROM ({oracles[key]})"
                ).fetchone(),
            )
        )
        from decimal import Decimal

        def _cnorm(v):
            return str(v.normalize()) if isinstance(v, Decimal) else int(v)

        got = {k: _cnorm(v) for k, v in got.items()}
        want = {k: _cnorm(v) for k, v in want.items()}
        row["checksum_cols"] = num_cols
        row["checksum"] = got
        row["match"] = got == want
        if not row["match"]:
            row["oracle_checksum"] = want

    from yc_data_proc_metadata_import_spark.llm import dedup as _dedup

    # (The doc-level Hamming<=T pair SQL that used to live here moved to
    # the fingerprint level — see compare_labels_fp_truth below; the
    # hard-corpus comparator still builds its own doc-level pair SQL
    # because its fragmenting graph is small.)

    def compare_labels_invariants(key, row):
        """sf10 label adjudication: the cheap DuckDB-checkable invariant
        battery plus, since round 15, the EXHAUSTIVE fp-level fixpoint
        (tools/sf10_label_fixpoint.py, run as a subprocess with its own
        session): the doc-level pair graph (~9e9 pairs) stays
        infeasible, but the edge relation depends only on fingerprints,
        so ALL ~23.4e9 distinct-fp pairs are evaluated in chunked numpy
        and the resulting per-doc truth labels FULL-JOIN-compared
        against the engine — sampled witnessed edges are kept for
        continuity but no longer carry the proof."""
        got = queries[key](spark, SF1).toArrow()
        con.register("lab_spark", got)
        checks = {}
        n_docs = con.execute(
            "SELECT count(*) FROM documents WHERE trim(text) <> ''"
        ).fetchone()[0]
        checks["n_rows_eq_nonempty_docs"] = got.num_rows == n_docs
        checks["one_row_per_doc"] = bool(con.execute(
            "SELECT count(*) = count(DISTINCT doc_id) FROM lab_spark"
        ).fetchone()[0])
        checks["keep_iff_rep"] = bool(con.execute(
            "SELECT count(*) = 0 FROM lab_spark WHERE keep <> (cluster_id = doc_id)"
        ).fetchone()[0])
        checks["cluster_le_doc"] = bool(con.execute(
            "SELECT count(*) = 0 FROM lab_spark WHERE cluster_id > doc_id"
        ).fetchone()[0])
        checks["every_cluster_has_rep_row"] = bool(con.execute(
            "SELECT count(*) = 0 FROM (SELECT DISTINCT cluster_id FROM lab_spark "
            "EXCEPT SELECT doc_id FROM lab_spark WHERE keep)"
        ).fetchone()[0])
        # exact-integer fingerprint replay (linear) — cohesion: docs
        # sharing a fingerprint are Hamming-0 neighbors, so they MUST
        # share a cluster
        con.execute(
            f"CREATE OR REPLACE TABLE lab_fp AS WITH {_dedup._SIMHASH_CTES} "
            "SELECT doc_id, simhash FROM fp"
        )
        checks["same_fp_same_cluster"] = bool(con.execute(
            "SELECT count(*) = 0 FROM (SELECT f.simhash FROM lab_fp f "
            "JOIN lab_spark s USING (doc_id) GROUP BY f.simhash "
            "HAVING count(DISTINCT s.cluster_id) > 1)"
        ).fetchone()[0])
        # witnessed-edge soundness: every sampled doc pair that shares a
        # block within Hamming<=T is a REAL edge and must share a cluster
        bk = 2**_dedup._BLOCK_BITS - 1
        sampled = con.execute(
            f"""WITH samp AS (SELECT doc_id, simhash FROM lab_fp WHERE doc_id % 37 = 0),
            blk AS (SELECT doc_id, simhash, j.b AS block_id,
                    (simhash >> (j.b * {_dedup._BLOCK_BITS})) & {bk} AS block_key
                    FROM samp, (SELECT unnest(range(0, 4)) AS b) j),
            pr AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                   FROM blk x JOIN blk y ON x.block_id = y.block_id
                    AND x.block_key = y.block_key AND x.doc_id < y.doc_id
                   WHERE bit_count(xor(x.simhash, y.simhash)) <= {_dedup._HAMMING_T})
            SELECT count(*),
                   count(*) FILTER (WHERE sa.cluster_id <> sb.cluster_id)
            FROM pr JOIN lab_spark sa ON sa.doc_id = pr.a
                    JOIN lab_spark sb ON sb.doc_id = pr.b"""
        ).fetchone()
        row["n_sampled_edges"], split = int(sampled[0]), int(sampled[1])
        checks["sampled_edges_cohere"] = split == 0 and sampled[0] > 0
        row["n_clusters"], row["sum_cluster_id"] = [
            int(v)
            for v in con.execute(
                "SELECT count(DISTINCT cluster_id), sum(cluster_id) FROM lab_spark"
            ).fetchone()
        ]
        con.unregister("lab_spark")
        # EXHAUSTIVE independent ground truth (round-15): subprocess so
        # its Spark session, fork-pool, and 8 GB heap are isolated from
        # the rung's own session. The tool re-runs the engine itself —
        # a fresh-session replay, strictly stronger than reusing ours.
        import subprocess
        import tempfile

        fx_out = os.path.join(
            tempfile.mkdtemp(dir=os.path.join(REPO, ".scratch")),
            "label_fixpoint.json",
        )
        try:
            proc = subprocess.run(
                [
                    sys.executable,
                    os.path.join(REPO, "tools", "sf10_label_fixpoint.py"),
                    SF1,
                    fx_out,
                ],
                capture_output=True,
                text=True,
                timeout=3600,
            )
        except subprocess.TimeoutExpired:
            # A hung fixpoint tool must degrade to a recorded failure
            # like every other comparator path, not crash the whole rung
            # (round-15 ADVICE).
            proc = None
        if os.path.exists(fx_out):
            with open(fx_out) as f:
                fx = json.load(f)
        elif proc is None:
            fx = {"match": False, "err": "timeout (3600s)"}
        else:
            fx = {"match": False, "err": proc.stderr[-400:]}
        row["exhaustive_fixpoint"] = {
            k: fx.get(k)
            for k in (
                "match",
                "mismatches",
                "n_fp_pairs_evaluated",
                "n_fp_edges",
                "n_clusters_truth",
                "allpairs_sec",
                "engine_sec",
                "err",
            )
            if k in fx
        }
        checks["exhaustive_fixpoint_exact"] = bool(fx.get("match"))
        row["checks"] = checks
        row["match"] = all(checks.values())

    def compare_pagerank(key, row):
        """Full oracle replay (25-row integer-exact ranks) + a separate
        re-timing of the loop-invariant edge-derivation pipeline — the
        only part of the key whose cost scales with the fact data."""
        compare_full(key, row)
        from yc_data_proc_metadata_import_spark.operators.analytics import (
            _trade_edges,
        )

        t0 = time.perf_counter()
        row["n_edges"] = _trade_edges(spark, SF1).count()
        row["edge_derivation_sec"] = round(time.perf_counter() - t0, 3)

    COMPARATORS = {k: compare_checksum for k in checksum_keys}
    COMPARATORS["llm_dedup_near"] = compare_recall
    COMPARATORS["graph_pagerank"] = compare_pagerank
    def compare_labels_fp_truth(key, row):
        """sf1 labels truth at the FINGERPRINT level (round-17 VERDICT
        task 4): the doc-level pair graph is 544M edges at 50k docs, but
        the edge relation depends only on the ~30k distinct fingerprints
        — derive fp-level edges (88M), propagate min-doc labels over the
        fp graph seeded with each fp's min doc_id, then map every doc
        through its fingerprint.  Identical converged truth (docs
        sharing a fingerprint are Hamming-0 edges, so doc components ==
        fp components expanded), and the method the exhaustive fixpoint
        tool already proved at 23.4B fp-pairs (sf10) / 1.4T (hard-2M).
        Measured: 299 s doc-level -> ~50 s."""
        bits = _dedup._BLOCK_BITS
        bk = 2**bits - 1
        con.execute(
            f"CREATE OR REPLACE TABLE sh_fp AS WITH {_dedup._SIMHASH_CTES} "
            "SELECT doc_id, simhash FROM fp"
        )
        con.execute(
            "CREATE OR REPLACE TABLE fpu AS "
            "SELECT simhash, min(doc_id) AS md FROM sh_fp GROUP BY simhash"
        )
        fp_pair_sql = (
            f"WITH blk AS (SELECT simhash, j.b AS block_id, "
            f"(simhash >> (j.b * {bits})) & {bk} AS block_key "
            "FROM fpu, (SELECT unnest(range(0, 4)) AS b) j) "
            "SELECT DISTINCT x.simhash AS doc_a, y.simhash AS doc_b "
            "FROM blk x JOIN blk y ON x.block_id = y.block_id "
            "AND x.block_key = y.block_key AND x.simhash < y.simhash "
            f"WHERE bit_count(xor(x.simhash, y.simhash)) "
            f"<= {_dedup._HAMMING_T}"
        )
        duck_propagate(
            fp_pair_sql, init_sql="SELECT simhash AS node, md AS label FROM fpu"
        )
        truth = (
            "SELECT d.doc_id, l.label AS cluster_id, "
            "l.label = d.doc_id AS keep "
            "FROM sh_fp d JOIN cc_l l ON l.node = d.simhash"
        )
        label_truth_compare(key, row, truth)
        row["n_fp_pairs"] = (
            con.execute("SELECT count(*) FROM cc_e").fetchone()[0] // 2
        )
        row["n_clusters"] = con.execute(
            f"SELECT count(DISTINCT cluster_id) FROM ({truth})"
        ).fetchone()[0]

    def compare_cluster_iterative(key, row):
        """llm_dedup_cluster truth via iterated min-label propagation
        over the oracle's OWN jaccard pair CTE (round-17 VERDICT task
        4): the registry oracle's recursive-reach closure is quadratic
        in component size (332 s at sf1, ~255 s of it in the closure);
        the propagation reaches the same fixpoint in O(edges *
        diameter).  Output universe matches the oracle: nodes with at
        least one edge."""
        sql = oracles[key]
        prefix = sql[: sql.index("edges AS")].rstrip().rstrip(",")
        duck_propagate(prefix + " SELECT doc_a, doc_b FROM pairs")
        label_truth_compare(
            key,
            row,
            "SELECT node AS doc_id, label AS cluster_id, "
            "node = label AS keep FROM cc_l",
        )
        row["n_pairs"] = (
            con.execute("SELECT count(*) FROM cc_e").fetchone()[0] // 2
        )

    COMPARATORS["llm_dedup_cluster"] = compare_cluster_iterative

    if preset == "sf1":
        COMPARATORS["llm_ann_ivf"] = compare_ivf
        COMPARATORS["llm_dedup_simhash_labels"] = compare_labels_fp_truth
        # Hard fragmenting corpus (round-16 VERDICT task 8): same
        # iterated-propagation truth, but the pair graph and universe
        # come from the generated-docs CTE chain the key's oracle uses
        # (both engines derive the corpus independently). Nested WITH
        # is fine — DuckDB accepts a full statement as a CTE body.
        hard_pair_sql = (
            f"WITH {_dedup._hard_docs_ctes()},\n    "
            + _dedup._simhash_ctes("docs")
            + " SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b "
            "FROM blocks x JOIN blocks y "
            "ON x.block_id = y.block_id AND x.block_key = y.block_key "
            "AND x.doc_id < y.doc_id "
            f"WHERE bit_count(xor(x.simhash, y.simhash)) "
            f"<= {_dedup._HAMMING_T}"
        )
        hard_universe_sql = (
            f"WITH {_dedup._hard_docs_ctes()} SELECT doc_id FROM docs"
        )
        COMPARATORS["llm_dedup_simhash_labels_hard"] = lambda key, row: (
            compare_component_labels(
                key, row, hard_pair_sql, universe_sql=hard_universe_sql
            )
        )
    else:
        COMPARATORS["llm_ann_ivf"] = compare_ivf_recall_only
        COMPARATORS["llm_dedup_simhash_labels"] = compare_labels_invariants

    import gc

    from yc_data_proc_metadata_import_spark import utils as _utils

    def release_pinned_blocks() -> int:
        """Drop session-cached DataFrames (whose py4j refs pin their
        localCheckpoint/persisted blocks), then force both GCs so the
        ContextCleaner releases the blocks. Returns entries dropped."""
        n = _utils.clear_session_caches()
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        return n

    def heap_pressure_release(where: str) -> None:
        """Between keys: release ONLY under real heap pressure, so
        cache-amortized walls stay comparable round-over-round in the
        common case. Measured r17 first run: without this, 40 keys of
        pinned blocks drove the 37th key into GC thrash (42 s fresh vs
        117 s in-run) and OOM'd the invariance pass; with an 8 GB heap
        the 60% trigger fires well before either."""
        rt = spark.sparkContext._jvm.Runtime.getRuntime()
        used = rt.totalMemory() - rt.freeMemory()
        if used > 0.6 * rt.maxMemory():
            n = release_pinned_blocks()
            report.setdefault("heap_releases", []).append(
                {"at": where, "dropped_cache_entries": n,
                 "heap_used_gb": round(used / 2**30, 2)}
            )
            print(
                f"[{preset}-rung] heap release at {where}: "
                f"{round(used / 2**30, 2)} GB used, {n} cache entries",
                file=sys.stderr,
                flush=True,
            )

    for key in keys:
        row: dict = {}
        heap_pressure_release(key)
        try:
            t0 = time.perf_counter()
            run_noop(queries[key](spark, SF1))
            row["spark_sec"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            COMPARATORS.get(key, compare_full)(key, row)
            row["compare_sec"] = round(time.perf_counter() - t0, 3)
            if not row.get("match"):
                failures.append(key)
        except Exception as e:  # noqa: BLE001 — record, keep going
            row["match"] = False
            row["err"] = f"{type(e).__name__}: {e}"[:400]
            failures.append(key)
        report["keys"][key] = row
        print(f"[{preset}-rung] {key}: {row}", file=sys.stderr, flush=True)

    # The invariance pass inherits the whole key pass's pinned blocks —
    # release unconditionally (this is where the r17 first run OOM'd).
    release_pinned_blocks()

    def rows_of(df):
        return sorted(
            tuple(_norm(v) for v in row) for row in (tuple(r) for r in df.collect())
        )

    def clear_result_caches():
        # Session-cached RESULT artifacts (converged label tables) would
        # make the two invariance runs compare one materialization with
        # itself — clear them so both runs truly recompute. Input-level
        # caches (fingerprints, token tables) stay: their partitioning
        # is fixed by defaultParallelism, not shuffle.partitions.
        _dedup.simhash_labels_cached.cache_clear()
        _dedup.dedup_clusters_cached.cache_clear()

    for key in inv_keys:
        row = {}
        try:
            clear_result_caches()
            df = queries[key](spark, SF1)
            a = rows_of(df)
            # A key's frame executes in the session it was built in.
            with conf_scope(df.sparkSession, {"spark.sql.shuffle.partitions": "7"}):
                clear_result_caches()
                b = rows_of(queries[key](spark, SF1))
            row["invariant"] = a == b
            row["n_rows"] = len(a)
            if a != b:
                failures.append(f"invariance:{key}")
        except Exception as e:  # noqa: BLE001
            row["invariant"] = False
            row["err"] = f"{type(e).__name__}: {e}"[:400]
            failures.append(f"invariance:{key}")
        report["invariance"][key] = row
        print(f"[{preset}-rung] invariance {key}: {row}", file=sys.stderr, flush=True)

    report["n_keys"] = len(keys)
    report["n_match"] = sum(1 for r in report["keys"].values() if r.get("match"))
    report["n_invariant"] = sum(
        1 for r in report["invariance"].values() if r.get("invariant")
    )
    report["failures"] = failures
    if only:
        report["restricted_to_keys"] = sorted(only)
    report["wall_total_sec"] = round(
        sum(r.get("spark_sec", 0.0) for r in report["keys"].values()), 3
    )
    line = json.dumps(report)
    print(line)
    with open(
        os.path.join(REPO, ".scratch", f"{preset}_rung_report.json"), "w"
    ) as f:
        f.write(line + "\n")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
