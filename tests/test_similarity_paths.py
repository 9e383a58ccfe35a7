"""The two codebook-assignment paths must be bit-identical.

llm/similarity.py dispatches argmin-codebook assignment on K: a
driver-literal expression up to _KM_LITERAL_MAX lists (registry default,
oracle-replayed) and a float64-GEMM mapInPandas above it (scale rungs,
K ~ sqrt(n)). The GEMM is only admissible because every product and
partial sum stays an exactly-representable integer (< 2^53, guarded) —
this test pins that the two paths agree EXACTLY on the same trained
codebook, ties included (np.argmin first-occurrence == ORDER BY cost, j).
"""

from __future__ import annotations

from yc_data_proc_metadata_import_spark.llm import similarity as sim


def _assignments(df):
    return {(r["vec_id"], r["cl"]) for r in df.select("vec_id", "cl").collect()}


def test_gemm_assignment_matches_literal_path(spark, sf_dir):
    cents, max_abs_qv = sim._ivf_codebook(spark, sf_dir)
    qv = sim._km_fit(spark, sf_dir).select("vec_id", "qv")
    lit = _assignments(
        qv.withColumn("cl", sim._km_assign(cents, max_abs_qv))
    )
    orig = sim._KM_LITERAL_MAX
    sim._KM_LITERAL_MAX = 0  # force the GEMM branch for the same K
    try:
        gem = _assignments(
            sim._km_assigned(qv, spark, cents, max_abs_qv, out="cl")
        )
    finally:
        sim._KM_LITERAL_MAX = orig
    assert lit == gem and len(lit) > 0


def test_gemm_exactness_guard_trips_past_2_53(spark, sf_dir):
    """The GEMM branch must REFUSE inputs that pass the SHARED contract
    but could still produce silent one-ULP argmin divergence in float64
    BLAS. The n*n >= 2^53 bound is GEMM-only (_km_check_contract never
    inspects member counts), so a huge n isolates the GEMM guard —
    round-14 ADVICE: the old s=2^40 fixture tripped the shared s2 bound
    first and the GEMM-specific block stayed untested."""
    import pytest

    cents, max_abs_qv = sim._ivf_codebook(spark, sf_dir)
    huge_n = [(j, s_vec, 2**27) for j, s_vec, _ in cents]  # n*n = 2^54
    # precondition: the shared contract accepts this codebook, so any
    # raise below can only come from the GEMM-specific bound block
    sim._km_check_contract(huge_n, max_abs_qv)
    qv = sim._km_fit(spark, sf_dir).select("vec_id", "qv")
    orig = sim._KM_LITERAL_MAX
    sim._KM_LITERAL_MAX = 0
    try:
        with pytest.raises(
            AssertionError, match="GEMM assignment exactness bound"
        ):
            sim._km_assigned(qv, spark, huge_n, max_abs_qv, out="cl")
    finally:
        sim._KM_LITERAL_MAX = orig


def test_multi_assigned_gemm_matches_literal_path(spark, sf_dir):
    """Round-16: _km_multi_assigned (top-r list ranking — probe lists
    and IVF multi-assignment) has the same dual dispatch; the GEMM +
    stable-argsort path must reproduce the literal
    array_sort-of-cost-struct ordering EXACTLY, ties included, and r=1
    must agree with the argmin assignment path."""
    cents, max_abs_qv = sim._ivf_codebook(spark, sf_dir)
    qv = sim._km_fit(spark, sf_dir).select("vec_id", "qv")

    def ranked(df):
        return {(r["vec_id"], r["list_id"]) for r in df.collect()}

    for r in (1, 3):
        lit = ranked(sim._km_multi_assigned(qv, spark, cents, max_abs_qv, r))
        orig = sim._KM_LITERAL_MAX
        sim._KM_LITERAL_MAX = 0
        try:
            gem = ranked(
                sim._km_multi_assigned(qv, spark, cents, max_abs_qv, r)
            )
        finally:
            sim._KM_LITERAL_MAX = orig
        assert lit == gem and len(lit) > 0
    argmin = {
        (row["vec_id"], row["cl"])
        for row in sim._km_assigned(qv, spark, cents, max_abs_qv, out="cl")
        .select("vec_id", "cl")
        .collect()
    }
    top1 = ranked(sim._km_multi_assigned(qv, spark, cents, max_abs_qv, 1))
    assert top1 == argmin


def test_multi_assigned_clamps_r_past_k(spark, sf_dir):
    """r > K must not crash either dispatch path (round-16 ADVICE): the
    literal path truncates via F.slice; the GEMM path now clamps r to
    the list count before building the batch. Both must degrade to the
    same full ranking — every vector in every list, identical sets."""
    cents, max_abs_qv = sim._ivf_codebook(spark, sf_dir)
    qv = sim._km_fit(spark, sf_dir).select("vec_id", "qv").limit(40)
    r = len(cents) + 5

    def ranked(df):
        return {(row["vec_id"], row["list_id"]) for row in df.collect()}

    lit = ranked(sim._km_multi_assigned(qv, spark, cents, max_abs_qv, r))
    orig = sim._KM_LITERAL_MAX
    sim._KM_LITERAL_MAX = 0
    try:
        gem = ranked(sim._km_multi_assigned(qv, spark, cents, max_abs_qv, r))
    finally:
        sim._KM_LITERAL_MAX = orig
    assert lit == gem
    # full ranking: every surviving vector appears once per list
    n_vecs = len({v for v, _ in lit})
    assert len(lit) == n_vecs * len(cents) and n_vecs > 0


def test_ivf_nassign_env_pair_consistency(spark, sf_dir, oracle):
    """The documented contract: overriding the ``_IVF_NASSIGN`` module
    constant gives a CONSISTENT engine+oracle pair (round-16 ADVICE — the
    oracle used to hardcode rn = 1). Pin both settings: classic nassign=1 and
    the default multi-assignment nassign=2 must each hash-match the
    oracle SQL rebuilt from the same constant."""
    from tests.compare import assert_match

    import yc_data_proc_metadata_import_spark as engine

    q = engine.queries()["llm_ann_ivf"]
    orig = sim._IVF_NASSIGN
    try:
        for nassign in (1, 2):
            sim._IVF_NASSIGN = nassign
            assert_match(
                q(spark, sf_dir),
                oracle,
                sim._ivf_oracle_sql(),
                f"llm_ann_ivf[nassign={nassign}]",
            )
    finally:
        sim._IVF_NASSIGN = orig


def test_pq_shortlist_rerank_recall_floor(spark, sf_dir):
    """The two-stage PQ contract: the L=50 ADC shortlist + exact re-rank
    must recover well over half the exact top-5 even on this fixture's
    near-orthogonal embeddings (the quantization-hostile regime — the
    neighbor/background cosine gap sits below 32-bit ADC noise).
    Measured 0.88 at sf0.001 / 0.74 at sf0.01; floor set at 0.6 so a
    codebook or LUT regression trips it without chasing exact values."""
    import yc_data_proc_metadata_import_spark as engine

    q = engine.queries()
    exact = {
        (r.query_id, r.neighbor_id)
        for r in q["llm_topk_cosine"](spark, sf_dir).collect()
    }
    pq_rows = q["llm_ann_pq"](spark, sf_dir).collect()
    pq = {(r.query_id, r.neighbor_id) for r in pq_rows}
    assert len(exact & pq) / len(exact) >= 0.6
    # the re-rank stage orders by exact cosine: within each query the
    # reported rnk must be monotone in cosine (desc), and every row's
    # adc must be a finite float (the audit columns are real)
    by_q: dict = {}
    for r in pq_rows:
        by_q.setdefault(r.query_id, []).append((r.rnk, r.cosine, r.adc))
    for rows in by_q.values():
        rows.sort()
        cosines = [c for _, c, _ in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert all(a == a and abs(a) != float("inf") for _, _, a in rows)


def test_ivfpq_composition_recall_and_candidate_discipline(spark, sf_dir):
    """IVF-PQ end-to-end: recall floor (measured 0.90 at sf0.001 / 0.74
    at sf0.01), and the candidate discipline — every returned neighbor
    must be reachable through a probed list (subset of the IVF key's
    candidate relation, approximated here by the probe/assign join the
    engine itself exposes via its output)."""
    import yc_data_proc_metadata_import_spark as engine

    q = engine.queries()
    exact = {
        (r.query_id, r.neighbor_id)
        for r in q["llm_topk_cosine"](spark, sf_dir).collect()
    }
    got = {(r.query_id, r.neighbor_id) for r in q["llm_ann_ivfpq"](spark, sf_dir).collect()}
    assert len(exact & got) / len(exact) >= 0.6
    # composition sanity: the IVF key (exact scoring over the same
    # probed lists, same nassign/nprobe) returns its top-5 from the
    # same candidate set; an ivfpq pair absent from ivf's candidates
    # would mean the two stages disagree on pruning. ivf's output is
    # top-5 of the candidates by exact cosine, so ivfpq's top-5 (also
    # exact-rescored, but over the ADC-shortlisted subset) must be a
    # subset of candidates — verified transitively: any pair in ivfpq
    # but not in ivf must rank below ivf's 5th by exact cosine, never
    # above it.
    ivf = {}
    for r in q["llm_ann_ivf"](spark, sf_dir).collect():
        ivf.setdefault(r.query_id, []).append((r.rnk, r.neighbor_id, r.cosine))
    pq_rows = q["llm_ann_ivfpq"](spark, sf_dir).collect()
    for r in pq_rows:
        rows = sorted(ivf[r.query_id])
        worst_ivf = rows[-1][2]
        in_ivf = any(n == r.neighbor_id for _, n, _ in rows)
        assert in_ivf or r.cosine <= worst_ivf, (
            r.query_id,
            r.neighbor_id,
            r.cosine,
            worst_ivf,
        )
