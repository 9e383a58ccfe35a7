"""Cross-validation between the approximate near-dup paths and the exact
oracle-checked one: LSH may MISS pairs (recall < 1) but must never invent
them (precision = 1), because its verify stage recomputes exact Jaccard.
The planted high-similarity duplicates must always be found.
"""

from __future__ import annotations

import yc_data_proc_metadata_import_spark as engine

QUERIES = engine.queries()


def _pairs(df):
    return {(r.doc_a, r.doc_b): r.jaccard for r in df.collect()}


def test_minhash_lsh_subset_of_exact(spark, sf_dir):
    exact = _pairs(QUERIES["llm_dedup_ngram"](spark, sf_dir))
    lsh = _pairs(QUERIES["llm_dedup_near"](spark, sf_dir))
    assert set(lsh) <= set(exact), "LSH invented pairs the exact join lacks"
    # identical verify math: jaccard values must agree bit-for-bit
    for k, v in lsh.items():
        assert v == exact[k], (k, v, exact[k])


def test_minhash_lsh_recall_on_planted_dups(spark, sf_dir):
    """8x4 banding recalls J>=0.9 pairs with p ~ 0.9998 per pair; the
    fixtures plant near-identical duplicates well above that bar."""
    exact = _pairs(QUERIES["llm_dedup_ngram"](spark, sf_dir))
    lsh = set(_pairs(QUERIES["llm_dedup_near"](spark, sf_dir)))
    planted = {k for k, v in exact.items() if v >= 0.9}
    missed = planted - lsh
    assert not missed, f"LSH missed planted near-identical dups: {missed}"


def test_embedding_lsh_subset_of_exact_simjoin(spark, sf_dir):
    exact = {(r.doc_a, r.doc_b) for r in QUERIES["llm_sim_join"](spark, sf_dir).collect()}
    lsh = {(r.doc_a, r.doc_b) for r in QUERIES["llm_sim_join_lsh"](spark, sf_dir).collect()}
    assert lsh <= exact, "SRP-LSH invented pairs the exact block join lacks"


def test_shared_derived_indexes_build_once(spark, sf_dir):
    """Round-7 contract: the dedup family's derived inputs (hashed
    shingle inverted index, simhash fingerprints, BPE merge table,
    cluster labels) are built ONCE per (session, scale) and fanned out
    to every consumer — re-invoking a consumer must hand back the same
    materialized object, not a rebuild. This is what keeps the bench's
    per-key cost the steady-state query cost and, at scale, what turns
    N key runs into one index build + N index joins."""
    from yc_data_proc_metadata_import_spark.llm import dedup, text
    from yc_data_proc_metadata_import_spark.registry import QUERIES

    idx1 = dedup.hashed_index_cached(spark, sf_dir)
    for key in ("llm_dedup_ngram", "llm_lsh_recall_audit", "llm_contamination_check"):
        QUERIES[key](spark, sf_dir).count()
    assert dedup.hashed_index_cached(spark, sf_dir) is idx1
    fp1 = dedup.simhash_fingerprints_cached(spark, sf_dir)
    QUERIES["llm_dedup_simhash"](spark, sf_dir).count()
    assert dedup.simhash_fingerprints_cached(spark, sf_dir) is fp1
    merges = text._bpe_merges_cached(spark, sf_dir)
    QUERIES["llm_bpe_apply"](spark, sf_dir).count()
    assert text._bpe_merges_cached(spark, sf_dir) is merges
    labels = dedup.dedup_clusters_cached(spark, sf_dir)
    QUERIES["llm_curation_pipeline"](spark, sf_dir).count()
    assert dedup.dedup_clusters_cached(spark, sf_dir) is labels


def test_popcount64_matches_python_bitcount():
    """SWAR popcount kernel (numpy 1.26 lacks bitwise_count) vs
    int.bit_count over boundary values and a seeded random sample."""
    import numpy as np

    from yc_data_proc_metadata_import_spark.llm.dedup import _popcount64

    rng = np.random.default_rng(42)
    vals = np.concatenate(
        [
            np.array([0, 1, 2**63, 2**64 - 1, 0x5555555555555555], np.uint64),
            rng.integers(0, 2**64, size=2000, dtype=np.uint64),
        ]
    )
    got = _popcount64(vals.copy())
    want = np.array([int(v).bit_count() for v in vals], np.uint64)
    assert (got == want).all()


def test_bucket_cc_edges_matches_bruteforce_components():
    """The batched-BFS bucket kernel's star edges must induce EXACTLY
    the Hamming<=T pair graph's components — checked against a
    brute-force union-find over all pairs on seeded random fingerprints
    (mixed density: low bits random so plenty of near pairs)."""
    import numpy as np
    import pandas as pd

    from yc_data_proc_metadata_import_spark.llm.dedup import (
        _HAMMING_T,
        _bucket_cc_edges,
    )

    rng = np.random.default_rng(7)
    n = 300
    # half tightly clustered (few high bits), half uniform
    tight = rng.integers(0, 2**12, size=n // 2, dtype=np.uint64)
    loose = rng.integers(0, 2**60, size=n - n // 2, dtype=np.uint64)
    fps = np.concatenate([tight, loose])
    md = rng.permutation(np.arange(10, 10 + n, dtype=np.int64))
    pdf = pd.DataFrame({"simhash": fps.view(np.int64), "min_doc": md})

    # brute-force union-find
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(n):
        for j in range(i + 1, n):
            if int(fps[i] ^ fps[j]).bit_count() <= _HAMMING_T:
                parent[find(i)] = find(j)
    want = {}
    for i in range(n):
        want.setdefault(find(i), set()).add(int(md[i]))
    want_edges = {
        (min(s), v) for s in want.values() if len(s) > 1 for v in s if v != min(s)
    }

    got = _bucket_cc_edges(pdf)
    got_edges = {(int(a), int(b)) for a, b in zip(got["doc_a"], got["doc_b"])}
    assert got_edges == want_edges


def test_bucket_cc_edges_property_random_graphs():
    """Property check across graph densities: for fingerprints drawn
    from windows of varying width (clique-dense through all-singleton),
    the kernel's star edges always induce the brute-force components.
    Seeded loop rather than hypothesis so the numpy draw stays
    deterministic across runs."""
    import numpy as np
    import pandas as pd

    from yc_data_proc_metadata_import_spark.llm.dedup import (
        _HAMMING_T,
        _bucket_cc_edges,
    )

    rng = np.random.default_rng(1234)
    for width_bits in (4, 8, 16, 24, 40, 60):
        n = int(rng.integers(2, 120))
        fps = rng.integers(0, 2**width_bits, size=n, dtype=np.uint64)
        md = rng.permutation(np.arange(n, dtype=np.int64)) * 3 + 1
        pdf = pd.DataFrame({"simhash": fps.view(np.int64), "min_doc": md})

        parent = list(range(n))

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        for i in range(n):
            for j in range(i + 1, n):
                if int(fps[i] ^ fps[j]).bit_count() <= _HAMMING_T:
                    parent[find(i)] = find(j)
        comps = {}
        for i in range(n):
            comps.setdefault(find(i), set()).add(int(md[i]))
        want = {
            (min(s), v)
            for s in comps.values()
            if len(s) > 1
            for v in s
            if v != min(s)
        }
        got = _bucket_cc_edges(pdf)
        got_edges = {(int(a), int(b)) for a, b in zip(got["doc_a"], got["doc_b"])}
        assert got_edges == want, f"width={width_bits} n={n}"


def test_propagate_min_labels_converges_on_deep_path(spark, monkeypatch):
    """A 1001-node path graph (diameter 1000) converges through the
    DISTRIBUTED loop (driver-UF shortcut forced off), and every node
    gets the component-minimum label. Plain neighbor-min would need
    1000 rounds — far past the cap — so this pins the round-15
    pointer-doubling chase (label -> label-of-label per round squares
    the propagation distance; ~log2(1000) = 10 rounds). The hard-mode
    docs fixture (tools/make_hard_docs.py) hit exactly this shape in
    the wild: accidental-collision chains with diameter > 20."""
    from yc_data_proc_metadata_import_spark.llm import dedup

    monkeypatch.setattr(dedup, "_DRIVER_UF_MAX_EDGES", 0)
    path_edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1000)], "doc_a long, doc_b long"
    )
    got = dedup._propagate_min_labels(path_edges)
    rows = got.collect()
    assert len(rows) == 1001
    assert {r["label"] for r in rows} == {0}


def test_propagate_min_labels_driver_uf_matches_distributed(spark, monkeypatch):
    """The round-15 driver-side union-find shortcut must be
    bit-identical to the distributed loop on the same graph (the
    converged fixpoint — component-minimum labels — is unique)."""
    import random

    from yc_data_proc_metadata_import_spark.llm import dedup

    rng = random.Random(17)
    edges = {
        tuple(sorted(rng.sample(range(200), 2))) for _ in range(150)
    }
    df = spark.createDataFrame(sorted(edges), "doc_a long, doc_b long")
    via_driver = {
        (r["node"], r["label"])
        for r in dedup._propagate_min_labels(df).collect()
    }
    monkeypatch.setattr(dedup, "_DRIVER_UF_MAX_EDGES", 0)
    via_loop = {
        (r["node"], r["label"])
        for r in dedup._propagate_min_labels(df).collect()
    }
    assert via_driver == via_loop


def test_propagate_min_labels_schema_identical_across_paths(spark, monkeypatch):
    """Round-15 ADVICE: the driver union-find hardcoded `node long,
    label long` while the distributed loop preserved input types — an
    int32 caller got different schemas from the two paths. Both now
    cast ids to long up front; pin that with a non-bigint input."""
    from yc_data_proc_metadata_import_spark.llm import dedup

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a int, doc_b int"
    )
    uf = dedup._propagate_min_labels(df)
    monkeypatch.setattr(dedup, "_DRIVER_UF_MAX_EDGES", 0)
    dist = dedup._propagate_min_labels(df)
    assert [f.simpleString() for f in uf.schema.fields] == [
        "node:bigint",
        "label:bigint",
    ]
    assert uf.schema == dist.schema
    assert {tuple(r) for r in uf.collect()} == {tuple(r) for r in dist.collect()}


def test_propagate_min_labels_raises_on_nonconvergence(spark, monkeypatch):
    """Round-14 ADVICE: non-convergence must RAISE, not silently return
    almost-converged labels as cluster ids. The real cap (40
    pointer-doubling rounds, diameter ~2^40) is unreachable by design,
    so pin the guard by shrinking the cap: 2 rounds reach distance ~4,
    far short of a diameter-63 path."""
    import pytest

    from yc_data_proc_metadata_import_spark.llm import dedup

    monkeypatch.setattr(dedup, "_PROPAGATE_MAX_ROUNDS", 2)
    monkeypatch.setattr(dedup, "_DRIVER_UF_MAX_EDGES", 0)
    path_edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="did not.*converge|converge"):
        dedup._propagate_min_labels(path_edges)
    # the rounds' label caches are released on the way out, raise or not
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_propagate_min_labels_converges_on_shallow_graph(spark):
    """Sanity twin for the raise test: a star plus an isolated edge
    converges in 2 rounds and labels every component by its min node."""
    from yc_data_proc_metadata_import_spark.llm.dedup import (
        _propagate_min_labels,
    )

    edges = spark.createDataFrame(
        [(1, 5), (1, 7), (1, 9), (20, 21)], "doc_a long, doc_b long"
    )
    got = {
        (r["node"], r["label"])
        for r in _propagate_min_labels(edges).collect()
    }
    assert got == {(1, 1), (5, 1), (7, 1), (9, 1), (20, 20), (21, 20)}


def test_subblock_pigeonhole_covers_all_close_pairs():
    """Correctness invariant of the bucket-split path: two fingerprints
    that agree exactly on block j's 15 bits and have overall Hamming
    <= _HAMMING_T must share at least one of the 15 3-bit chunks
    OUTSIDE block j — so every edge of a split bucket lands in >= 1
    shared (sub_id, sub_key) sub-bucket. (Pigeonhole: <= 10 differing
    bits touch <= 10 of those 15 chunks.)"""
    import numpy as np

    from yc_data_proc_metadata_import_spark.llm.dedup import (
        _BLOCK_BITS,
        _CHUNKS_PER_BLOCK,
        _HAMMING_T,
        _SUB_CHUNKS,
    )

    rng = np.random.default_rng(7)
    checked = 0
    for _ in range(4000):
        a = int(rng.integers(0, 2**60))
        # flip up to T random bits to build a close partner
        b = a
        for bit in rng.choice(60, size=int(rng.integers(0, _HAMMING_T + 1)),
                              replace=False):
            b ^= 1 << int(bit)
        for j in range(4):
            mask = (2**_BLOCK_BITS - 1) << (j * _BLOCK_BITS)
            if (a & mask) != (b & mask):
                continue  # pair not in block j's bucket
            shared = [
                c
                for c in range(_SUB_CHUNKS)
                if not (j * _CHUNKS_PER_BLOCK <= c < (j + 1) * _CHUNKS_PER_BLOCK)
                and ((a >> (3 * c)) & 7) == ((b >> (3 * c)) & 7)
            ]
            assert shared, f"pair {a:x}/{b:x} lost by sub-blocking in block {j}"
            checked += 1
    assert checked > 1000  # the loop actually exercised bucketed pairs


def test_subblock_split_labels_equal_and_bucket_cap_enforced(spark, sf_dir):
    """A cap that splits the big sf0.001 buckets (max measured 248
    distinct fps) but leaves the median-size ones whole must produce
    the exact same converged component labels as the unsplit plan, and
    the keyed relation must mark every over-cap bucket as split (no
    sentinel group above the cap) — the task-granularity guarantee of
    round-14 VERDICT task 2."""
    from pyspark.sql import functions as F

    from yc_data_proc_metadata_import_spark.llm import dedup

    def labels():
        got = dedup._propagate_min_labels(
            dedup._simhash_star_edges(spark, sf_dir)
        )
        return {(r["node"], r["label"]) for r in got.collect()}

    base = labels()
    orig = dedup._BUCKET_CAP
    dedup._BUCKET_CAP = 16
    try:
        assert labels() == base and len(base) > 0
        dfp = (
            dedup.simhash_fingerprints_cached(spark, sf_dir)
            .groupBy("simhash")
            .agg(F.min("doc_id").alias("min_doc"))
        )
        keyed = dedup._keyed_blocks(dfp)
        over_cap_sentinels = (
            keyed.filter(F.col("sub_id") == -1)
            .groupBy("block_id", "block_key")
            .count()
            .filter(F.col("count") > dedup._BUCKET_CAP)
            .count()
        )
        assert over_cap_sentinels == 0  # every oversized bucket split
        # and with cap 0, split rows exist at all
        assert keyed.filter(F.col("sub_id") >= 0).count() > 0
    finally:
        dedup._BUCKET_CAP = orig


def test_fingerprint_kernel_matches_expression_twin(spark, sf_dir):
    """The vectorized mapInPandas fingerprint kernel must be BIT-EXACT
    against the original SQL-expression pipeline (which mirrors the
    DuckDB oracle CTEs line by line) — the kernel exists purely for
    speed (the interpreted-HOF expressions were 549 s of the 811 s
    sf100 label wall; measured ~9x faster at sf1)."""
    from yc_data_proc_metadata_import_spark.llm import dedup

    new = {
        (r["doc_id"], r["simhash"])
        for r in dedup._simhash_fp_plan(spark, sf_dir).collect()
    }
    old = {
        (r["doc_id"], r["simhash"])
        for r in dedup._simhash_fp_expr_plan(spark, sf_dir).collect()
    }
    assert new == old and len(new) > 0
