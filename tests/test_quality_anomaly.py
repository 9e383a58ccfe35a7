"""Brute-force pins for the round-18 keys: rolling z-score anomaly
detection, token-entropy quality scoring, and directed shingle
containment.

Each Spark result is replayed in plain Python over the collected fixture
and must match EXACTLY — including float equality: all three keys derive
their doubles from exact-integer numerators/denominators through single
IEEE operations (one divide, one sqrt), so the reference implementation
here reproduces them bit-for-bit. That is the determinism contract the
DuckDB oracle parity relies on, pinned without DuckDB in the loop.
"""

from __future__ import annotations

import math
import re

import yc_data_proc_metadata_import_spark as engine

QUERIES = engine.queries()


def _half_up_micro_log2(x: int) -> int:
    # round(log2(x)*1e6) with HALF_UP ties (Spark F.round / DuckDB ROUND
    # semantics for positive inputs; python's round() is half-even).
    return math.floor(math.log2(x) * 1000000.0 + 0.5)


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"\s+", text.lower()) if t]


def test_anomaly_zscore_matches_bruteforce(spark, sf_dir):
    from yc_data_proc_metadata_import_spark.sources.io import load

    rows = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    ).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        cents = math.floor(abs(r.value) * 100 + 0.5)  # values are positive
        ts_ms = int(r.ts.replace(tzinfo=__import__("datetime").timezone.utc).timestamp() * 1000)
        by_user.setdefault(r.user_id, []).append((ts_ms, r.event_id, cents))
    want: dict[int, tuple] = {}
    for uid, evs in by_user.items():
        evs.sort()
        for i, (ts_ms, eid, x) in enumerate(evs):
            w = evs[max(0, i - 20) : i]
            n = len(w)
            s = sum(c for _, _, c in w)
            ss = sum(c * c for _, _, c in w)
            var_n2 = n * ss - s * s
            if n >= 5 and var_n2 > 0:
                z = (x * n - s) / math.sqrt(float(var_n2))
                anom = (x * n - s) * (x * n - s) > 9 * var_n2
            else:
                z, anom = None, False
            want[eid] = (uid, ts_ms, x, n, z, anom)
    got = QUERIES["win_anomaly_zscore"](spark, sf_dir).collect()
    assert len(got) == len(want)
    n_anom = 0
    for r in got:
        uid, ts_ms, x, n, z, anom = want[r.event_id]
        assert (r.user_id, r.ts_ms, r.value_cents, r.n_window) == (uid, ts_ms, x, n)
        assert r.zscore == z, (r.event_id, r.zscore, z)  # bit-exact
        assert r.is_anomaly == anom
        n_anom += bool(r.is_anomaly)
    assert n_anom > 0, "fixture produced no anomalies — test is vacuous"


def test_token_entropy_matches_bruteforce(spark, sf_dir):
    from yc_data_proc_metadata_import_spark.sources.io import load_documents_wide

    docs = load_documents_wide(spark, sf_dir).select("doc_id", "text").collect()
    want = {}
    for r in docs:
        toks = _tokens(r.text)
        if not toks:
            continue
        counts: dict[str, int] = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        n = len(toks)
        s_micro = sum(c * _half_up_micro_log2(c) for c in counts.values())
        h_micro = n * _half_up_micro_log2(n) - s_micro
        want[r.doc_id] = (
            n,
            len(counts),
            h_micro / (n * 1000000.0),
            h_micro < 4000000 * n,
        )
    got = QUERIES["llm_token_entropy"](spark, sf_dir).collect()
    assert len(got) == len(want)
    for r in got:
        n, nd, h, low = want[r.doc_id]
        assert (r.n_tokens, r.n_distinct) == (n, nd)
        assert r.entropy_bits == h, (r.doc_id, r.entropy_bits, h)  # bit-exact
        assert r.is_low_entropy == low
    lows = sum(1 for r in got if r.is_low_entropy)
    assert 0 < lows < len(got), "entropy threshold must split the corpus"


def _shingles(text: str) -> set[str]:
    toks = _tokens(text)
    if len(toks) < 3:
        return set()
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def test_containment_matches_bruteforce_all_pairs(spark, sf_dir):
    from yc_data_proc_metadata_import_spark.sources.io import load_documents_wide

    docs = load_documents_wide(spark, sf_dir).select("doc_id", "text").collect()
    sh = {r.doc_id: _shingles(r.text) for r in docs}
    want = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        if not sh[a]:
            continue
        for b in ids[i + 1 :]:
            shared = len(sh[a] & sh[b])
            if shared == 0:
                continue
            if 10 * shared >= 8 * len(sh[a]):
                want[(a, b)] = (shared, len(sh[a]), len(sh[b]), shared / len(sh[a]))
            if 10 * shared >= 8 * len(sh[b]):
                want[(b, a)] = (shared, len(sh[b]), len(sh[a]), shared / len(sh[b]))
    got = QUERIES["llm_dedup_containment"](spark, sf_dir).collect()
    assert len(got) == len(want), (len(got), len(want))
    for r in got:
        shared, n_sub, n_sup, c = want[(r.doc_sub, r.doc_sup)]
        assert (r.n_shared, r.n_sub, r.n_sup) == (shared, n_sub, n_sup)
        assert r.containment == c  # one IEEE division — bit-exact
    assert want, "fixture planted no containment pairs — test is vacuous"


def test_containment_is_superset_of_identical_jaccard_pairs(spark, sf_dir):
    """Any J=1.0 pair (identical shingle sets) must appear in BOTH
    containment directions with containment 1.0 — the metrics agree on
    exact duplicates and differ only on asymmetric overlap."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["llm_dedup_ngram"](spark, sf_dir).collect()
        if r.jaccard == 1.0
    }
    cont = {
        (r.doc_sub, r.doc_sup): r.containment
        for r in QUERIES["llm_dedup_containment"](spark, sf_dir).collect()
    }
    for a, b in exact:
        assert cont.get((a, b)) == 1.0 and cont.get((b, a)) == 1.0, (a, b)


def test_welch_ttest_matches_bruteforce(spark, sf_dir):
    from yc_data_proc_metadata_import_spark.sources.io import load

    rows = load(spark, sf_dir, "events").select("event_type", "value").collect()
    g: dict[str, list[int]] = {}
    for r in rows:
        g.setdefault(r.event_type, []).append(math.floor(abs(r.value) * 100 + 0.5))
    tn = sum(len(v) for v in g.values())
    ts = sum(sum(v) for v in g.values())
    tss = sum(sum(c * c for c in v) for v in g.values())
    got = {r.event_type: r for r in QUERIES["agg_welch_ttest"](spark, sf_dir).collect()}
    assert set(got) == {k for k, v in g.items() if 2 <= len(v) <= tn - 2}
    n_sig = 0
    for et, v in g.items():
        n, s, ss = len(v), sum(v), sum(c * c for c in v)
        nr, sr, ssr = tn - n, ts - s, tss - ss
        if n < 2 or nr < 2:
            continue
        # mirror the registered expression tree op-for-op (bit-exactness
        # is the claim under test)
        sd, ssd, srd, ssrd = float(s), float(ss), float(sr), float(ssr)
        mean_g, mean_rest = sd / n, srd / nr
        se2 = (ssd - sd * sd / n) / (n - 1) / n + (ssrd - srd * srd / nr) / (
            nr - 1
        ) / nr
        r = got[et]
        assert (r.n_group, r.n_rest) == (n, nr)
        assert r.mean_group == mean_g / 100 and r.mean_rest == mean_rest / 100
        if se2 > 0:
            t = (mean_g - mean_rest) / math.sqrt(se2)
            assert r.t_stat == t, (et, r.t_stat, t)
            assert r.significant == (abs(t) > 1.96)
            n_sig += bool(r.significant)
        else:
            assert r.t_stat is None and r.significant is False
    # fixture sanity: the flag must discriminate, not rubber-stamp
    assert 0 <= n_sig < len(got)


def test_kcore_matches_bruteforce_fixpoint(spark, sf_dir):
    """Peel in plain Python until FIXPOINT and require (a) the Spark
    result equals it and (b) the declared _KCORE_ROUNDS budget covers
    the fixture's peel depth — the docstring's fixpoint claim."""
    from yc_data_proc_metadata_import_spark.operators import analytics as A

    und = A._tri_und(spark, sf_dir)[0].collect()
    adj: dict[int, set[int]] = {}
    for r in und:
        adj.setdefault(r.a, set()).add(r.b)
        adj.setdefault(r.b, set()).add(r.a)
    alive = set(adj)
    rounds = 0
    while True:
        drop = {n for n in alive if len(adj[n] & alive) < A._KCORE_K}
        if not drop:
            break
        alive -= drop
        rounds += 1
    assert rounds <= A._KCORE_ROUNDS, (rounds, A._KCORE_ROUNDS)
    want = {n: len(adj[n] & alive) for n in alive}
    got = {r.n_nationkey: r.core_degree for r in QUERIES["graph_kcore"](spark, sf_dir).collect()}
    assert got == want
    assert want, "fixture graph has an empty 3-core — test is vacuous"


def test_stream_zscore_agrees_with_batch_on_short_prefixes(spark, sf_dir):
    """For each user's first 21 events the trailing-20 frame IS the
    expanding prefix, so the streaming key's z/flag must be bit-equal
    to win_anomaly_zscore there — a cross-key pin that the stateful
    python path and the window-expression path implement one contract."""
    batch = {
        r.event_id: r
        for r in QUERIES["win_anomaly_zscore"](spark, sf_dir).collect()
    }
    got = QUERIES["stream_zscore"](spark, sf_dir).collect()
    assert len(got) == len(batch)
    n_checked = 0
    for r in got:
        b = batch[r.event_id]
        assert (r.user_id, r.ts_ms, r.value_cents) == (
            b.user_id,
            b.ts_ms,
            b.value_cents,
        )
        if r.n_prefix <= 20:
            assert r.n_prefix == b.n_window
            assert r.zscore == b.zscore, (r.event_id, r.zscore, b.zscore)
            assert r.is_anomaly == b.is_anomaly
            n_checked += 1
    assert n_checked >= 15 * 21 - 20, n_checked  # every user contributes
