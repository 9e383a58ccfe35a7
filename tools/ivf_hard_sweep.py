"""Hard-mode IVF recall-vs-nprobe sweep (round-14 VERDICT task 3).

The standard embeddings fixture's label clusters are trivially
separable: the sf10 sweep measured recall 1.0 down to nprobe=1, which
proves the IVF plumbing but not the recall/cost tradeoff the operator
exists to navigate. This tool generates a HARD fixture — overlapping
isotropic Gaussian clusters whose within-cluster noise is comparable to
the between-center separation, at full intrinsic dimension (no
low-rank structure for the quantizer to exploit) — trains the same
codebook through the production `llm_ann_ivf` path, and records the
recall curve against the exact brute-force top-k.

Fixture: N points in d=64, C centers ~ N(0, I). point = center +
N(0, sigma^2 I) with sigma per SPARK_GRAFT_HARD_SIGMA (default 8.0:
centers sit at ||center|| ~ 8 while noise has norm ~ sigma*8 = 64, so
cluster identity contributes ~1% of a vector's energy and nearest-list
membership is genuinely ambiguous — measured recall at N=20k/K=96 bends
0.84 (nprobe=1) -> 1.0 (nprobe=64)). Cluster assignment is a seeded
uniform draw, so the Lloyd init rows (vec_id < K) are a uniform sample.

Run:  python tools/ivf_hard_sweep.py          # writes IVF_HARD_SWEEP.json
Env:  SPARK_GRAFT_HARD_N (200000), SPARK_GRAFT_HARD_C (100),
      SPARK_GRAFT_HARD_SIGMA (4.0), SPARK_GRAFT_HARD_K (448),
      SPARK_GRAFT_CPUS (the host's core count)

The registry-tier `llm_ann_ivf` key (default K=8/nprobe=3, standard
fixture, full DuckDB-oracle replay) is untouched — this sweep runs at
scaled K on the hard fixture only, mirroring the sf10 rung's
recall-adjudicated regime.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N = int(os.environ.get("SPARK_GRAFT_HARD_N", "200000"))
C = int(os.environ.get("SPARK_GRAFT_HARD_C", "100"))
SIGMA = float(os.environ.get("SPARK_GRAFT_HARD_SIGMA", "8.0"))
K = int(os.environ.get("SPARK_GRAFT_HARD_K", "448"))
DIM = 64
SEED = 20260815
NPROBES = (1, 2, 4, 8, 16, 32, 64)
# Default artifact name; decade-up runs set SPARK_GRAFT_HARD_OUT so the
# K=448/200k row is preserved beside the larger-K row.
OUT = os.environ.get(
    "SPARK_GRAFT_HARD_OUT", os.path.join(REPO, "IVF_HARD_SWEEP.json")
)


def make_fixture(dest: str) -> str:
    """Deterministic hard-mode embeddings.parquet; returns the path.
    Parameter-stamped dir so a knob change regenerates."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    tag = f"n{N}_c{C}_s{SIGMA}_unit_seed{SEED}"
    d = os.path.join(dest, f"ivf_hard_{tag}")
    path = os.path.join(d, "embeddings.parquet")
    if os.path.exists(path):
        return d
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(SEED)
    centers = rng.standard_normal((C, DIM))
    labels = rng.integers(0, C, size=N)
    pts = centers[labels] + SIGMA * rng.standard_normal((N, DIM))
    # L2-normalize: realistic for embedding corpora, leaves every cosine
    # (and therefore the exact ground truth) unchanged, and keeps the
    # quantized cluster-sum squares inside the k-means exactness
    # contract (unnormalized sigma-8 vectors overflowed the 2^53 s2
    # bound at K=448 / 200k rows).
    pts = pts / np.linalg.norm(pts, axis=1, keepdims=True)
    pts = pts.astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(N), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(pts.reshape(-1), pa.float32()), DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(labels.astype("int32"), pa.int32()),
        }
    )
    tmp = f"{path}.tmp{os.getpid()}"
    pq.write_table(tbl, tmp, compression="zstd")
    os.replace(tmp, path)
    return d


def main() -> int:
    from yc_data_proc_metadata_import_spark.session import get_spark

    spark = get_spark(app_name="ivf-hard-sweep")
    hard_dir = make_fixture(os.path.join(REPO, ".scratch"))
    print(f"[hard-sweep] fixture: {hard_dir}", flush=True)

    from yc_data_proc_metadata_import_spark.llm import similarity as sim

    sim._KM_K = K  # scaled codebook: GEMM assignment branch (> literal max)

    # Exact brute-force top-k ground truth over the same parquet.
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{os.path.join(hard_dir, 'embeddings.parquet')}')"
    )
    t0 = time.monotonic()
    if N <= 500_000:
        exact_sql = (
            f"WITH v AS ({sim._VECS_SQL}) "
            "SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id "
            "FROM v q JOIN v n ON n.vec_id <> q.vec_id "
            f"WHERE q.vec_id < {sim._N_QUERIES} "
            "QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY "
            + sim._DOT_SQL.format(a="q.emb", b="n.emb")
            + f" / (q.norm * n.norm) DESC, n.vec_id) <= {sim._TOP_K}"
        )
        want = set(map(tuple, con.execute(exact_sql).fetchall()))
    else:
        # Decade-up fixtures: the DuckDB lambda cosine costs ~66 us per
        # pair (queries x N pairs => hours at 2M), so the exact truth
        # comes from a float64 GEMM instead. The recall metric compares
        # PAIR SETS, and both tie-break identically (cosine DESC, then
        # vec_id), so the only way the two truths could differ is two
        # cosines within one ulp straddling the top-k boundary — not a
        # property of Gaussian fixtures. Self-pairs are excluded as in
        # the SQL.
        import numpy as _np
        import pyarrow.parquet as _pq

        tbl = _pq.read_table(os.path.join(hard_dir, "embeddings.parquet"))
        ids = _np.asarray(tbl["vec_id"], dtype=_np.int64)
        order = _np.argsort(ids)
        vecs = _np.stack(
            tbl["embedding"].to_numpy(zero_copy_only=False)[order]
        ).astype(_np.float64)
        ids = ids[order]
        norms = _np.sqrt((vecs * vecs).sum(axis=1))
        nq = sim._N_QUERIES
        qm = ids < nq
        cos = (vecs[qm] @ vecs.T) / _np.outer(norms[qm], norms)
        want = set()
        for row_i, qid in enumerate(ids[qm]):
            c = cos[row_i].copy()
            c[ids == qid] = -_np.inf  # exclude the self pair
            # ORDER BY cosine DESC, vec_id: lexsort keys are applied
            # last-key-primary, ids ascending breaks ties.
            top = _np.lexsort((ids, -c))[: sim._TOP_K]
            want.update((int(qid), int(ids[j])) for j in top)
    print(f"[hard-sweep] exact truth: {len(want)} pairs in "
          f"{time.monotonic() - t0:.1f}s", flush=True)

    import yc_data_proc_metadata_import_spark as engine

    q = engine.queries()["llm_ann_ivf"]

    def sweep(nassign: int) -> list[dict]:
        sim._IVF_NASSIGN = nassign
        rows = []
        for nprobe in NPROBES:
            sim._IVF_NPROBE = nprobe
            t0 = time.monotonic()
            got = {
                (r.query_id, r.neighbor_id)
                for r in q(spark, hard_dir)
                .select("query_id", "neighbor_id")
                .collect()
            }
            wall = time.monotonic() - t0
            rows.append(
                {
                    "nprobe": nprobe,
                    "recall": round(len(got & want) / len(want), 4),
                    # Upper bound on scan cost (round-16 ADVICE): at
                    # nassign > 1 a vector replicated into two PROBED
                    # lists is counted twice, so cap at 1.0 and label
                    # the field as a bound, not an exact fraction.
                    "frac_scanned_ub": round(
                        min(1.0, nassign * nprobe / K), 4
                    ),
                    "search_sec": round(wall, 2),
                }
            )
            print(f"[hard-sweep] nassign={nassign} nprobe={nprobe}: "
                  f"recall={rows[-1]['recall']} wall={wall:.1f}s", flush=True)
        return rows

    # First call trains the codebook (cached per session+fixture);
    # charge it separately so per-nprobe search_sec is search, not
    # training.
    t0 = time.monotonic()
    defaults = sim._IVF_NPROBE, sim._IVF_NASSIGN
    sim._IVF_NPROBE, sim._IVF_NASSIGN = NPROBES[0], 1
    q(spark, hard_dir).select("query_id").count()
    train_and_first = time.monotonic() - t0

    rows = sweep(1)

    # MISS DIAGNOSIS (round-15 VERDICT task 5): at the LARGEST swept
    # nprobe whose classic-IVF recall is still < 1 (the plateau), report
    # for every missed true pair the rank of the neighbor's assigned
    # list in the query's list-cost ordering. Rank <= that nprobe would
    # mean a candidate-stage artifact; rank beyond it proves the loss is
    # ASSIGNMENT-stage (the neighbor's vector quantized into a list the
    # query ranks far away) — the case multi-assignment fixes and more
    # probing cannot.
    import numpy as np

    plateau = [r["nprobe"] for r in rows if r["recall"] < 1.0]
    diag_nprobe = max(plateau) if plateau else max(NPROBES)
    sim._IVF_NPROBE, sim._IVF_NASSIGN = diag_nprobe, 1
    got_max = {
        (r.query_id, r.neighbor_id)
        for r in q(spark, hard_dir).select("query_id", "neighbor_id").collect()
    }
    missed = sorted(want - got_max)
    misses = []
    if missed:
        cents, max_abs_qv = sim._ivf_codebook(spark, hard_dir)
        S, Nc, J, s2_over_n2 = sim._km_gemm_arrays(cents, max_abs_qv)
        assigned = sim._km_fit(spark, hard_dir)
        qids = sorted({p[0] for p in missed})
        nids = sorted({p[1] for p in missed})
        qv = {
            int(r.vec_id): np.asarray(r.qv, dtype=np.float64)
            for r in assigned.filter(
                F_col_in("vec_id", set(qids) | set(nids))
            ).select("vec_id", "qv").collect()
        }
        jpos = {int(j): i for i, j in enumerate(J)}
        for qid, nid in missed:
            x = qv[qid]
            cost = (x @ x) - (2.0 * (S @ x)) / Nc + s2_over_n2
            order = np.argsort(cost, kind="stable")
            # neighbor's assigned list = its own argmin cost
            nx = qv[nid]
            ncost = (nx @ nx) - (2.0 * (S @ nx)) / Nc + s2_over_n2
            nlist = int(J[int(np.argmin(ncost))])
            rank = int(np.nonzero(order == jpos[nlist])[0][0]) + 1
            misses.append(
                {"query_id": qid, "neighbor_id": nid,
                 "neighbor_list": nlist, "list_rank_for_query": rank}
            )
        print(f"[hard-sweep] miss diagnosis: {misses}", flush=True)

    rows2 = sweep(2)

    # Restore the module's defaults (round-16 ADVICE: the sweep mutated
    # _IVF_NASSIGN/_IVF_NPROBE and returned with them stuck at the last
    # swept values — harmless for the standalone CLI, wrong for any
    # caller that imports main()).
    sim._IVF_NPROBE, sim._IVF_NASSIGN = defaults

    out = {
        "km_k": K,
        "fixture": {
            "n": N, "clusters": C, "sigma": SIGMA, "dim": DIM,
            "seed": SEED,
            "note": "overlapping isotropic Gaussians, full intrinsic "
                    "dimension — nearest-list membership ambiguous by "
                    "construction (round-14 VERDICT task 3)",
        },
        "train_plus_first_search_sec": round(train_and_first, 2),
        "rows": rows,
        "miss_diagnosis_nprobe": diag_nprobe,
        "miss_diagnosis": misses,
        "rows_nassign2": rows2,
    }
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    return 0


def F_col_in(col: str, ids: set):
    """pyspark isin filter built here to keep the module import-light."""
    from pyspark.sql import functions as F

    return F.col(col).isin([int(i) for i in ids])


if __name__ == "__main__":
    raise SystemExit(main())
