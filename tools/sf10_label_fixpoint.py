#!/usr/bin/env python
"""Independent EXACT ground truth for `llm_dedup_simhash_labels` at sf10.

Round-14 VERDICT ("What's missing" item 3): the sf10 rung adjudicates the
labels key by an invariant battery + sampled witnessed edges, because the
doc-level pair graph (~9e9 Hamming<=T pairs over 500k docs) is infeasible
to materialize.  This tool removes that gap: the edge relation depends
only on FINGERPRINTS, so the doc-level components are exactly the
fp-level components expanded (docs sharing a fingerprint are Hamming-0,
same-blocks neighbors).  At sf10 there are only ~216k distinct
fingerprints, so the FULL unordered fp-pair space (~23.4e9 pairs) is
exhaustively evaluable on one node with vectorized numpy.

The pipeline is independent of the engine on every axis that matters:

  1. fingerprints come from the shipped DuckDB oracle CTE
     (`_SIMHASH_CTES` — the SQL-expression path), NOT the engine's
     vectorized mapInPandas fingerprint kernel;
  2. the banded edge relation (pair agrees on one of the four 15-bit
     blocks AND Hamming <= 10 — the same relation the sf0.01 oracle and
     the sf1 fixpoint use) is evaluated EXHAUSTIVELY over all fp pairs:
     block-agreement mask first (8 uint64 vector ops), then a
     uint16-lookup-table popcount on the agreeing candidates only — a
     different popcount than the engine kernel's SWAR;
  3. connectivity via vectorized min-label propagation
     (np.minimum.at to a per-chunk fixpoint, star-compressed, then a
     driver-side fixpoint over the concatenated star edges) — NOT the
     engine's batched-BFS bucket kernel / star-edge / _propagate_min_labels
     pipeline;
  4. per-doc truth label = min doc_id over the fp component, FULL-JOIN
     compared in DuckDB against the engine's (doc_id, cluster_id, keep)
     output.

Usage: python tools/sf10_label_fixpoint.py [sf_dir] [out_json]
       (defaults: .scratch/sf10 — a docs-only fixture from
        SPARK_GRAFT_SF1_COPIES=100 SPARK_GRAFT_SF1_TABLES=documents
        tools/make_sf1.py — and SF10_LABEL_FIXPOINT.json)
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ProcessPoolExecutor

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# --- fp-pair evaluation constants -----------------------------------------
I_CHUNK = 512  # fp rows per task
J_CHUNK = 16384  # fp cols per inner block (bounds the XOR matrix at 67 MB)
# Duplicate suppression relies on the diagonal (j0 == i0) tile being the
# ONLY tile that straddles i == j: with I_CHUNK <= J_CHUNK every other
# tile is strictly above or below the diagonal. Raising I_CHUNK past
# J_CHUNK would let later tiles overlap the diagonal and emit swapped
# duplicates (components stay right, edge counts don't) — fail loudly if
# the constants are ever retuned that way (round-15 ADVICE).
assert I_CHUNK <= J_CHUNK, "pair dedup needs I_CHUNK <= J_CHUNK"

# uint16 popcount lookup table: xor viewed as 4 little-endian uint16 words.
_POP16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.uint8)

# Globals inherited by forked workers (set in main before the pool starts).
_FPS: np.ndarray | None = None  # (N,) uint64 distinct fingerprints
_BLOCK_MASKS: np.ndarray | None = None  # (4,) uint64 15-bit block masks
_HAM_T: int = 10


def _pairs_in_block(i0: int, i1: int, j0: int, j1: int) -> tuple[np.ndarray, np.ndarray]:
    """All edge pairs (global i, global j) inside one (i,j) tile."""
    x = _FPS[i0:i1, None] ^ _FPS[None, j0:j1]
    agree = np.zeros(x.shape, dtype=bool)
    for m in _BLOCK_MASKS:
        agree |= (x & m) == 0
    if j0 == i0:  # diagonal tile: keep the strict upper triangle only
        agree &= np.arange(i0, i1)[:, None] < np.arange(j0, j1)[None, :]
    ci, cj = np.nonzero(agree)
    if ci.size == 0:
        return ci.astype(np.int64), cj.astype(np.int64)
    # popcount only the agreeing candidates (the expensive gather stays
    # proportional to the candidate count, not the tile size)
    cand = x[ci, cj]
    ham = _POP16[cand.view(np.uint16).reshape(-1, 4)].sum(axis=1)
    keep = ham <= _HAM_T
    return ci[keep] + i0, cj[keep] + j0


def _propagate(labels: np.ndarray, a: np.ndarray, b: np.ndarray) -> None:
    """Min-label propagation over undirected edges (a, b) to a fixpoint."""
    while True:
        before = labels.copy()
        m = np.minimum(labels[a], labels[b])
        np.minimum.at(labels, a, m)
        np.minimum.at(labels, b, m)
        # chase one indirection per round so min labels hop through
        # shared endpoints (star edges make this converge in few rounds)
        np.minimum(labels, labels[labels], out=labels)
        if np.array_equal(labels, before):
            return


def _chunk_star_edges(i0: int) -> tuple[np.ndarray, np.ndarray, int]:
    """Evaluate rows [i0, i0+I_CHUNK) against all j >= i0; return the
    star-compressed connectivity (node, local-min-label) of the found
    edges plus the raw edge count."""
    n = _FPS.shape[0]
    i1 = min(i0 + I_CHUNK, n)
    a_parts, b_parts = [], []
    for j0 in range(i0, n, J_CHUNK):
        gi, gj = _pairs_in_block(i0, i1, j0, min(j0 + J_CHUNK, n))
        if gi.size:
            a_parts.append(gi)
            b_parts.append(gj)
    if not a_parts:
        return (np.empty(0, np.int64), np.empty(0, np.int64), 0)
    a = np.concatenate(a_parts)
    b = np.concatenate(b_parts)
    labels = np.arange(n, dtype=np.int64)
    _propagate(labels, a, b)
    touched = np.unique(np.concatenate([a, b]))
    return touched, labels[touched], int(a.size)


def main() -> int:
    global _FPS, _BLOCK_MASKS

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".scratch", "sf10")
    out_json = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, "SF10_LABEL_FIXPOINT.json"
    )

    import duckdb

    from yc_data_proc_metadata_import_spark.llm import dedup as _dedup

    assert _dedup._SIMHASH_BITS == 60 and _dedup._BLOCK_BITS == 15
    _BLOCK_MASKS = np.array(
        [0x7FFF << (15 * b) for b in range(4)], dtype=np.uint64
    )
    report: dict = {"sf_dir": sf_dir, "hamming_t": _dedup._HAMMING_T}

    con = duckdb.connect()
    docs = os.path.join(sf_dir, "documents.parquet")
    src = f"'{docs}/*.parquet'" if os.path.isdir(docs) else f"'{docs}'"
    con.execute(f"CREATE VIEW documents AS SELECT * FROM {src}")

    # 1. per-doc fingerprints via the shipped ORACLE SQL path
    t0 = time.perf_counter()
    con.execute(
        f"CREATE TABLE lab_fp AS WITH {_dedup._SIMHASH_CTES} "
        "SELECT doc_id, simhash FROM fp"
    )
    report["fp_oracle_sec"] = round(time.perf_counter() - t0, 1)
    t0 = time.perf_counter()
    grp = con.execute(
        "SELECT simhash, min(doc_id) AS md FROM lab_fp GROUP BY simhash "
        "ORDER BY simhash"
    ).fetchnumpy()
    fps_i64 = np.ascontiguousarray(grp["simhash"], dtype=np.int64)
    md = np.ascontiguousarray(grp["md"], dtype=np.int64)
    _FPS = fps_i64.view(np.uint64)
    n = int(_FPS.shape[0])
    report["n_docs"] = con.execute("SELECT count(*) FROM lab_fp").fetchone()[0]
    report["n_distinct_fps"] = n
    report["n_fp_pairs_evaluated"] = n * (n - 1) // 2

    # 2+3. exhaustive banded edge relation + connectivity
    workers = min(24, os.cpu_count() or 1)
    all_nodes, all_labels, n_edges = [], [], 0
    with ProcessPoolExecutor(max_workers=workers) as pool:
        for nodes, labels, cnt in pool.map(
            _chunk_star_edges, range(0, n, I_CHUNK), chunksize=4
        ):
            if nodes.size:
                all_nodes.append(nodes)
                all_labels.append(labels)
            n_edges += cnt
    final = np.arange(n, dtype=np.int64)
    if all_nodes:
        _propagate(final, np.concatenate(all_nodes), np.concatenate(all_labels))
    report["n_fp_edges"] = n_edges
    report["allpairs_sec"] = round(time.perf_counter() - t0, 1)

    # component truth label = min doc_id over member fps' min doc_ids
    comp_min = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(comp_min, final, md)
    truth_cluster = comp_min[final]
    report["n_clusters_truth"] = int(np.unique(truth_cluster).size)

    import pyarrow as pa

    con.register(
        "truth_fp",
        pa.table({"simhash": pa.array(fps_i64), "truth_cluster": pa.array(truth_cluster)}),
    )

    # 4. engine output (Spark starts only after the fork pool is done)
    t0 = time.perf_counter()
    import __spark_entry__ as contract
    from yc_data_proc_metadata_import_spark.session import get_spark

    # the engine's one session builder: every core, and an 8 GB driver
    # heap (SPARK_GRAFT_DRIVER_MEM) like every rung tool — the 500k-doc
    # hard fixture's label graph (~2x the fp count of the replicated sf10
    # corpus, ~10 pointer-doubling rounds of localCheckpoint label blocks)
    # OOMs the 1 GB default heap
    spark = get_spark(app_name="sf10-label-fixpoint")
    got = contract.queries()["llm_dedup_simhash_labels"](spark, sf_dir).toArrow()
    report["engine_sec"] = round(time.perf_counter() - t0, 1)
    con.register("lab_spark", got)
    report["n_spark_rows"] = got.num_rows

    truth_sql = (
        "SELECT f.doc_id, t.truth_cluster AS cluster_id, "
        "t.truth_cluster = f.doc_id AS keep "
        "FROM lab_fp f JOIN truth_fp t USING (simhash)"
    )
    report["n_truth_rows"] = con.execute(
        f"SELECT count(*) FROM ({truth_sql})"
    ).fetchone()[0]
    report["mismatches"] = con.execute(
        f"WITH t AS ({truth_sql}) SELECT count(*) FROM t "
        "FULL JOIN lab_spark s ON t.doc_id = s.doc_id "
        "AND t.cluster_id = s.cluster_id AND t.keep = s.keep "
        "WHERE t.doc_id IS NULL OR s.doc_id IS NULL"
    ).fetchone()[0]
    report["match"] = (
        report["mismatches"] == 0
        and report["n_spark_rows"] == report["n_truth_rows"]
    )
    # partition-shape summary: a 1-cluster truth only proves "everything
    # connected", so record enough shape for a reader to judge how much
    # structure the comparison actually adjudicated
    shape = con.execute(
        f"WITH t AS ({truth_sql}), c AS "
        "(SELECT cluster_id, count(*) AS sz FROM t GROUP BY cluster_id) "
        "SELECT count(*) FILTER (WHERE sz = 1), max(sz), "
        "round(avg(sz), 2) FROM c"
    ).fetchone()
    report["truth_singleton_clusters"] = int(shape[0])
    report["truth_max_cluster_size"] = int(shape[1])
    report["truth_avg_cluster_size"] = float(shape[2])
    with open(out_json, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report, indent=1))
    spark.stop()
    return 0 if report["match"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
