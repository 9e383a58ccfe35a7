#!/usr/bin/env python
"""Benchmark harness (driver contract + BASELINE.md targets T1-T4).

Runs every registered ``queries()`` key at ``$SPARK_GRAFT_SF_DIR`` (default:
the sf0.1 testdata dir) on ``local[n]``, where ``n`` is the engine's
``session.cpu_count()`` (``$SPARK_GRAFT_CPUS``, else the host's core count),
and prints ONE JSON line::

    {"metric": "full_suite_wall", "value": <total sec>, "unit": "sec",
     "queries": {"<key>": sec, ...}, "sf": 0.1}

Execution is forced with the ``noop`` sink (full plan runs — scan, shuffle,
codegen — nothing collected to the driver), so timings measure the engine,
not result transfer.  A warm-up query absorbs JVM/codegen spin-up so the
first measured key isn't charged for session start.  Per-query errors are
recorded under "errors" and don't abort the suite.

Besides the calibration-normalized ``value_norm``, the timed loop is also
read with ``perfbench.clock.Stopwatch``, the repo benchmark's clock:
``value_scaled`` is ``value`` times the share of the CPU time the host's
vCPUs wanted that they were granted (``granted_share``; ``steal_s`` is the
CPU time the hypervisor took), see perfbench/README.md, "Timing on a
shared host".
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

import yc_data_proc_metadata_import_spark as engine
from perfbench.clock import Stopwatch

# Keys whose first call builds a one-time derived fixture or a shared
# session artifact, declared on the registry with ``@query(...,
# prewarm=True)``. Each runs once UNMEASURED before the timed loop.
PREWARM_KEYS = engine.prewarm_keys()

# The keys the stdout line reports. A caller may keep only the TAIL of
# stdout, and a line carrying every per-key timing overflowed such a
# capture, so the line carries the BASELINE.md targets plus one
# representative per operator family; the full per-key map lands in
# BENCH_LOCAL.jsonl.
# Cross-round key overlap is what rows are compared on: add, never remove.
HEADLINE_KEYS = (
    "flagship_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q10_returned_items",
    "join_asof",
    "join_star",
    "bucketed_join_noshuffle",
    "agg_groupby",
    "agg_cube",
    "win_ranking",
    "win_sessionize",
    "topk_per_group",
    "sort_multi",
    "meta_roundtrip",
    "llm_dedup_exact",
    "llm_dedup_near",
    "llm_topk_cosine",
    "llm_sim_join",
    "llm_tokenize",
    "llm_tfidf",
    "stream_tumbling",
    "stream_stateful",
    "graph_pagerank",
    "llm_cdc_chunking",
    "win_retention_cohorts",
    "dq_expectations",
    "llm_dedup_simhash_labels",
    "llm_ann_ivf",
)


# Contention-demotion bounds (round-11 ADVICE: hoisted from inline
# literals so re-calibration is a one-line, greppable change — and
# env-overridable like SPARK_GRAFT_SOLO so a host/probe change doesn't
# require an edit). Calibrated to THIS host + the 2M-iteration probe in
# _calibrate(): every recorded solo median sits at 118.3-134.9 ms even
# across the ±15% host-state swing, every recorded contended median at
# 157.8-165.1 ms. Re-derive both if the probe workload or host changes.
CAL_CONTENDED_ABS_MS = float(os.environ.get("SPARK_GRAFT_CAL_ABS_MS", "145.0"))
CAL_CONTENDED_RATIO = float(os.environ.get("SPARK_GRAFT_CAL_RATIO", "1.2"))
# Relative floor for the ratio trigger (round-17 ADVICE): the fixed
# 145 ms AND-guard was derived on the pre-r17 host (solo 118-135 ms);
# the r17 host reads 96-113 ms solo, so a sibling arriving mid-run can
# push the end probe to ~130 ms — over the ratio bound yet under the
# stale absolute floor, and the row would be mislabeled solo.  The
# floor is now RELATIVE to the run's own start median (1.25x), so it
# tracks whatever host profile the run actually started on.  Note this
# deliberately re-classifies the r17 99.9->140.6 cold run as demotable:
# that row's wall was +18% over the clean cold row (256 s vs 217 s), so
# whatever inflated the probe (sibling or all-core throttle) inflated
# the suite too — "solo" would have been the wrong label for it.
CAL_ABS_REL_FLOOR = float(os.environ.get("SPARK_GRAFT_CAL_REL_FLOOR", "1.25"))
# Idle-guard band (round-16 VERDICT task 2): every recorded solo median
# sits at 118.3-134.9 ms, every contended one at 157.8-165.1 ms — 140 ms
# splits the gap below the demotion bound. The guard WAITS for the host
# to return to this band before starting the suite, because the dominant
# contention source is the host's burstable-CPU credit throttle after
# our own back-to-back runs (~26% inflation, recovers in ~15 min idle) —
# so a committed row is clean by construction, not by footnote.
CAL_NOMINAL_MS = float(os.environ.get("SPARK_GRAFT_CAL_NOMINAL_MS", "140.0"))
IDLE_WAIT_MAX_S = float(os.environ.get("SPARK_GRAFT_IDLE_WAIT_MAX_S", "900"))
IDLE_POLL_S = float(os.environ.get("SPARK_GRAFT_IDLE_POLL_S", "60"))
# Loadavg band for the idle guard (round-17 VERDICT task 3): the r17
# committed row was tagged solo:false purely because the 1-min loadavg
# at start read 6.02 — the exponentially-damped residue of a prior run
# that had already FINISHED (its calibration medians sat in the solo
# band and idle_wait_s was 0).  The guard now also waits for loadavg to
# decay below this bound before starting, so a clean host yields a
# clean inferred tag instead of inheriting its predecessor's load.
# 1-min loadavg decays with a ~60 s time constant, so draining 6 -> 1
# costs ~2 min of the 900 s budget; a GENUINE sibling holds the value
# up and the run starts (budget-bounded) with the honest demotion below.
IDLE_LOAD_MAX = float(os.environ.get("SPARK_GRAFT_IDLE_LOAD_MAX", "1.0"))
# All-core/single-thread calibration ratio bound (round-18 VERDICT task
# 1a): an ALL-CORE throttle (burstable-CPU credit exhaustion, a
# bandwidth-hungry sibling) inflates the 32-thread suite while leaving
# the single-thread probe fast — the r18 main run read ratio 1.55/1.34
# and was mislabeled solo, turning 14 untouched keys into "regressed".
# Healthy recorded band on this host is 1.15-1.3 (SMT + all-core
# clocks); above the bound on EITHER end of the run, the row is not a
# comparable solo measurement and an inferred tag must demote.
CAL_ALLCORE_RATIO_MAX = float(
    os.environ.get("SPARK_GRAFT_CAL_ALLCORE_RATIO", "1.3")
)


def _cal_unit_ms(_=None) -> float:
    """One single-thread calibration work unit (median of 3)."""
    samples = []
    for _i in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(2_000_000):
            x += i * i
        samples.append((time.perf_counter() - t0) * 1000.0)
    samples.sort()
    return samples[1]


def calibrate_allcore(workers: int | None = None) -> dict[str, float]:
    """ALL-CORE companion to the single-thread probe (round-17 finding).

    The r17 host shift exposed the single-thread probe's blind spot:
    probe medians DROPPED to 96-103 ms (faster than every recorded solo
    round, 118-135) while the suite wall rose ~19% UNIFORMLY per key —
    single-core boost up, sustained all-core throughput down.  A
    single-thread probe cannot see SMT pressure, memory-bandwidth
    neighbors, or all-core turbo limits; this one runs the SAME work
    unit on every core simultaneously (fork pool, GIL-free) and reports
    the median/max per-worker unit time.  Recorded as provenance beside
    cal_ms_med so a host-profile change is visible in the row rather
    than inferred from per-key forensics."""
    import multiprocessing as mp
    import statistics

    n = workers or min(32, os.cpu_count() or 1)
    try:
        # spawn, not fork (round-17 ADVICE): the end-of-run probe forks
        # from a process hosting live py4j/JVM gateway threads, and
        # fork() from a multithreaded parent can deadlock the child on
        # locks held at fork time — a hang the except guard can't catch.
        # spawn starts clean interpreters; _cal_unit_ms is module-level
        # so it pickles by reference.
        with mp.get_context("spawn").Pool(n) as pool:
            r = sorted(pool.map(_cal_unit_ms, range(n)))
        # statistics.median, not r[n//2] (round-17 ADVICE): for even n
        # the upper-middle element biases the recorded med high relative
        # to the single-thread probe's true-median convention.
        return {"med": round(statistics.median(r), 1), "max": round(r[-1], 1), "n": n}
    except Exception:  # provenance must never kill the bench
        return {"med": -1.0, "max": -1.0, "n": 0}


def scratch_state_of(n_start: int, n_end: int) -> str:
    """Tri-state scratch provenance from fixture counts at run start/end.

    "warm" only when the suite built ZERO new fixtures (end == start > 0)
    — self-calibrating, no hard-coded expected-count to drift as fixtures
    are added; "cold" when the scratch started empty; "partial" otherwise
    (an aborted prior run left SOME fixtures but most of the ~26 s build
    cost was still paid — round-11 ADVICE: such a row must not compare as
    warm)."""
    if n_start == 0:
        return "cold"
    if n_end == n_start:
        return "warm"
    return "partial"


def idle_guard(
    calibrate,
    sleep,
    nominal_ms: float | None = None,
    max_wait_s: float | None = None,
    poll_s: float | None = None,
    getload=None,
    load_max: float | None = None,
) -> tuple[dict, dict, float]:
    """Wait until the host is verifiably idle: calibration median in the
    nominal solo band AND (when ``getload`` is given) 1-min loadavg
    below ``load_max``.

    Returns (final_cal, pre_wait_cal, seconds_waited). Module-level (not
    inline in main) so tests can pin the loop's contract: no wait when
    the first probe is nominal; bounded polling otherwise; the caller
    decides what a still-hot exit means (demotion). The wait is the cure
    for both observed false-contention causes: burst-credit exhaustion
    from our own prior runs (~26% wall inflation, recovers in ~15 min
    idle — see CAL_NOMINAL_MS) and the damped loadavg residue of an
    ALREADY-FINISHED predecessor (round-17 VERDICT task 3: the r17 row
    was demoted on load_start 6.02 while its probe medians were solo;
    1-min loadavg decays with a ~60 s time constant, so draining it is
    a ~2 min wait — see IDLE_LOAD_MAX)."""
    nominal_ms = CAL_NOMINAL_MS if nominal_ms is None else nominal_ms
    max_wait_s = IDLE_WAIT_MAX_S if max_wait_s is None else max_wait_s
    poll_s = IDLE_POLL_S if poll_s is None else poll_s
    load_max = IDLE_LOAD_MAX if load_max is None else load_max

    def _hot() -> str | None:
        if cal["med"] > nominal_ms:
            return f"cal median {cal['med']} ms > {nominal_ms} ms nominal"
        if getload is not None:
            load = getload()
            if load > load_max:
                return f"1-min loadavg {load:.2f} > {load_max} idle bound"
        return None

    cal = calibrate()
    pre = dict(cal)
    waited = 0.0
    while (reason := _hot()) and waited < max_wait_s:
        print(
            f"[bench] idle-guard: {reason} — waiting {poll_s:.0f}s "
            f"({waited:.0f}/{max_wait_s:.0f}s used)",
            file=sys.stderr,
            flush=True,
        )
        sleep(poll_s)
        waited += poll_s
        cal = calibrate()
    return cal, pre, waited


def allcore_guard(
    calibrate,
    calibrate_mt,
    sleep,
    ratio_max: float | None = None,
    max_wait_s: float | None = None,
    poll_s: float | None = None,
) -> tuple[dict, dict, float]:
    """Wait until the host's ALL-CORE throughput is back in band.

    Companion to ``idle_guard`` (round-18 VERDICT task 1a): the
    single-thread probe cannot see an all-core throttle (credit
    exhaustion leaves single-core boost fast while sustained 32-thread
    throughput drops ~50%), so a run can pass the idle guard and still
    be incomparable. This guard polls the all-core probe until its
    median is within ``ratio_max`` of a fresh single-thread median, so
    a committed row is clean by construction. Returns
    (final_allcore_cal, final_singlethread_cal, seconds_waited); a
    still-hot exit is the caller's demotion problem, same contract as
    idle_guard. The probe's failure sentinel (med <= 0) exits
    immediately — provenance must never hang the bench."""
    ratio_max = CAL_ALLCORE_RATIO_MAX if ratio_max is None else ratio_max
    max_wait_s = IDLE_WAIT_MAX_S if max_wait_s is None else max_wait_s
    poll_s = IDLE_POLL_S if poll_s is None else poll_s

    # Single-thread probe FIRST: running it right after the 32-process
    # spawn pool winds down reads ~50% high (observed 160 ms against a
    # 106 ms true median — scheduler still reaping/migrating), which
    # both poisons the recorded start median and biases the ratio low.
    cal = calibrate()
    cal_mt = calibrate_mt()
    waited = 0.0
    while (
        cal_mt["med"] > 0
        and cal["med"] > 0
        and cal_mt["med"] > ratio_max * cal["med"]
        and waited < max_wait_s
    ):
        print(
            f"[bench] allcore-guard: all-core median {cal_mt['med']} ms > "
            f"{ratio_max}x single-thread {cal['med']} ms — waiting "
            f"{poll_s:.0f}s ({waited:.0f}/{max_wait_s:.0f}s used)",
            file=sys.stderr,
            flush=True,
        )
        sleep(poll_s)
        waited += poll_s
        cal = calibrate()
        cal_mt = calibrate_mt()
    return cal_mt, cal, waited


def demote_if_contended(
    solo: bool,
    solo_source: str,
    cal_start_med: float,
    cal_end_med: float,
    allcore_start_med: float | None = None,
    allcore_end_med: float | None = None,
) -> tuple[bool, str]:
    """Demote an inferred solo tag when contention ARRIVED mid-run.

    Detector is the single-thread calibration probe, not end-of-run
    loadavg: loadavg at suite end is polluted by the bench's own
    32-thread Spark work (16.28 measured on the solo r10 run, 4.38 on
    solo r11 — a loadavg rule would self-demote every inferred row),
    while the probe runs after the suite with our executors idle, so
    only a sibling process inflates it. Two triggers:

    - RATIO (CAL_CONTENDED_RATIO): end median >20% over start median =
      a sibling ARRIVED mid-run (solo runs measured 123.9→134.9,
      132.8→130.5).
    - ABSOLUTE (CAL_CONTENDED_ABS_MS): both medians over the bound =
      contended THROUGHOUT. The ratio alone misses this (the r11 drill
      row — truly concurrent for its whole duration — read 159.7→165.1,
      ratio 1.03, and load_start 0.63 because loadavg is exponentially
      damped when the sibling launched seconds earlier). See the module
      constants above for the calibration data behind both bounds.

    - ALL-CORE (CAL_ALLCORE_RATIO_MAX, round-18 VERDICT task 1a): an
      all-core throttle leaves BOTH single-thread medians fast — the
      r18 main run read 101→108 ms single-thread (no trigger above)
      while its all-core probe read 156.8/145.5 ms (ratio 1.55/1.34
      against the healthy 1.15-1.3 band) and the 32-thread suite ran
      2-3x slow on untouched keys. Either end's all-core/single-thread
      ratio above the bound demotes. The probe's failure sentinel
      (med <= 0) never demotes.

    A declared tag is the operator's statement and is never touched.
    """
    if solo_source != "inferred":
        return solo, solo_source
    for st, mt in ((cal_start_med, allcore_start_med), (cal_end_med, allcore_end_med)):
        if mt is not None and mt > 0 and st > 0 and mt > CAL_ALLCORE_RATIO_MAX * st:
            return False, "inferred_contended"
    # The RATIO trigger's floor is RELATIVE to the run's own start
    # median (round-17 ADVICE): the old fixed 145 ms AND-guard was
    # derived on the pre-r17 host (solo 118-135 ms) and the r17 host's
    # 96-113 ms solo band slid entirely under it — a sibling arriving
    # mid-run (~1.27x inflation, per the r11 drill) would read ~130 ms
    # and keep the solo tag.  end > 1.25x start tracks the host the run
    # started on.  The cost is accepted and documented at
    # CAL_ABS_REL_FLOOR: a cold-boost start + hot-package end (the r17
    # 99.9 -> 140.6 run) now demotes too — correctly, because that
    # run's suite wall was +18% over the clean cold row; whatever
    # inflated the probe inflated the measurement, and "solo" is a
    # comparability claim, not a process census.
    if (
        cal_end_med > CAL_CONTENDED_RATIO * cal_start_med
        and cal_end_med > CAL_ABS_REL_FLOOR * cal_start_med
    ) or (
        cal_start_med > CAL_CONTENDED_ABS_MS
        and cal_end_med > CAL_CONTENDED_ABS_MS
    ):
        return False, "inferred_contended"
    return solo, solo_source


def main() -> int:
    from yc_data_proc_metadata_import_spark.session import (
        codegen_compiles,
        cpu_count,
        get_spark,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = cpu_count()
    # Solo-vs-concurrent provenance (round-8 VERDICT item 4): the round-8
    # recorded wall was 19% above the same code's solo runs because bench
    # sometimes ran beside the full-registry rehearsal. Tag every row so
    # noise can't masquerade as regression: SPARK_GRAFT_SOLO=0/1 declares
    # it explicitly; otherwise infer from the 1-min load average at start
    # (an idle 32-core box sits near 0; a concurrent Spark driver pushes
    # it well past 4). Committed BENCH_r*.json rows are solo cold runs by
    # convention — check this flag before recording one.
    def _calibrate() -> dict[str, float]:
        # Fixed single-thread work unit (~100 ms uncontended): host-level
        # CPU contention on this VM is invisible to loadavg yet swings
        # the suite wall ±15% between idle solo runs of identical code
        # (round-9 measurement: 218 s vs 251 s, per-key delta uniform at
        # p50 +0.11 s). Dividing walls by the calibration factor makes
        # rows comparable across host states. Best-of-N measures the best
        # scheduling slice; MEDIAN tracks sustained contention (round-9
        # ADVICE) — normalization below uses the median.
        samples = []
        for _ in range(5):  # first pass pays interpreter warm-up
            t0 = time.perf_counter()
            x = 0
            for i in range(2_000_000):
                x += i * i
            samples.append((time.perf_counter() - t0) * 1000.0)
        samples.sort()
        return {"best": round(samples[0], 1), "med": round(samples[2], 1)}

    # Idle-guard (round-16 VERDICT task 2 + round-17 task 3): refuse to
    # START while the probe median is outside the nominal solo band OR
    # the 1-min loadavg is above the idle bound (the damped residue of a
    # finished predecessor run is drained by waiting; a live sibling
    # holds it up). Re-probe every IDLE_POLL_S up to IDLE_WAIT_MAX_S —
    # if a genuine sibling keeps the host hot past the budget, run
    # anyway but the inference + demotion below tag the row so it is
    # never mislabeled solo.
    cal_start, cal_pre_wait, idle_waited = idle_guard(
        _calibrate, time.sleep, getload=lambda: os.getloadavg()[0]
    )
    # All-core guard (round-18 VERDICT task 1a): the single-thread idle
    # guard above cannot see an all-core throttle (the r18 run started
    # with single-thread 101 ms — nominal — while the all-core probe
    # read 1.55x and the suite ran 2-3x slow). Wait for the sustained-
    # parallel ratio to re-enter the healthy band; a still-hot exit is
    # demoted below. The guard's own fresh single-thread probe replaces
    # cal_start so the recorded start pair is contemporaneous. It gets
    # only the budget the idle guard left, so the worst-case stall before
    # a run is the one IDLE_WAIT_MAX_S.
    cal_mt_start, _cal_st_recheck, allcore_waited = allcore_guard(
        _calibrate,
        calibrate_allcore,
        time.sleep,
        max_wait_s=max(0.0, IDLE_WAIT_MAX_S - idle_waited),
    )
    if _cal_st_recheck["med"] > 0:
        cal_start = _cal_st_recheck

    # Solo-vs-concurrent provenance, read AFTER the guard so the loadavg
    # hint reflects the host state the suite actually starts in.
    load_start = os.getloadavg()[0]
    solo_env = os.environ.get("SPARK_GRAFT_SOLO")
    # Provenance of the solo tag matters (round-9 ADVICE): loadavg is
    # exponentially damped, so a sibling launched seconds before us reads
    # near 0 and would be mislabeled solo. An explicit SPARK_GRAFT_SOLO
    # declaration is trustworthy; the loadavg inference is only a hint —
    # record WHICH one produced the tag so the commit convention
    # ("BENCH_r*.json rows are solo cold runs") can require "declared".
    if solo_env in ("0", "1"):
        solo, solo_source = solo_env == "1", "declared"
    else:
        solo, solo_source = load_start < 4.0, "inferred"
    # Still outside the band after exhausting the wait budget: an
    # inferred tag demotes NOW (start-state contention is already
    # proven; the end-of-run ratio check cannot see it).
    if solo_source == "inferred" and cal_start["med"] > CAL_CONTENDED_ABS_MS:
        solo, solo_source = False, "inferred_contended"

    try:
        sf = float(os.path.basename(os.path.normpath(sf_dir)).removeprefix("sf"))
    except ValueError:
        sf = None

    # Scratch provenance (round 11): ~26 s of the sf0.1 suite wall is
    # derived-fixture builds (CSV/JSON/manifest/export fixtures under
    # .scratch), paid only when this SF's fixtures aren't already
    # committed — the r10 committed row ran warm (scan_manifest_files
    # 0.33 s) while the r11 cold run paid 3.32 s for the same key, a
    # 13% wall swing that is amortization, not regression. Tag every
    # row so cold and warm walls are never compared directly. Probe
    # with the engine's own SCRATCH path and fingerprinted sf_tag —
    # the tag embeds a content fingerprint of the testdata dir, so
    # fixtures from a REGENERATED testdata (stale fingerprint, still
    # carrying _SUCCESS until lazily reaped) correctly read as cold.
    # The state is derived from a start + END count (round-11 ADVICE:
    # a single-fixture leftover from an aborted run must not tag the
    # row warm while ~26 s of build cost is still paid): "warm" only
    # when the suite built ZERO new fixtures (end == start > 0) — self-
    # calibrating, no hard-coded expected-count to drift as fixtures
    # are added; "cold" when it started empty; "partial" otherwise.
    # Both counts are recorded as audit fields.
    import glob as _glob

    from yc_data_proc_metadata_import_spark.sources.io import SCRATCH, sf_tag

    def _count_warm_fixtures() -> int:
        return len(
            _glob.glob(os.path.join(SCRATCH, f"*_{sf_tag(sf_dir)}*", "_SUCCESS"))
        )

    _n_warm = _count_warm_fixtures()

    spark = get_spark(app_name="engine-bench")  # local[cpus], cpus partitions

    import __spark_entry__ as contract

    queries = contract.queries()

    def run(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    # Warm-up: JVM classloading + codegen + parquet footer reads, plus
    # one trivial Arrow-batched Python job so the Python worker pool and
    # the ArrowPythonRunner path spin up here rather than inside the
    # first timed llm_*/udf_* key (worker fork + Arrow codegen is ~1 s of
    # process setup, identical for every Python key thereafter).
    run(queries["flagship_pricing_summary"](spark, sf_dir))
    from pyspark.sql import functions as _F

    def _warm(label, thunk):
        # A broken warm-up path must degrade to that key's per-key error
        # row in the timed loop, never abort the whole suite (the
        # docstring contract above).
        try:
            run(thunk())
        except Exception as e:  # noqa: BLE001 — the timed loop reports it
            print(
                f"[bench] warmup {label}: {type(e).__name__}: {e}"[:300],
                file=sys.stderr,
                flush=True,
            )

    _warm(
        "pandas_udf",
        lambda: spark.range(spark.sparkContext.defaultParallelism).withColumn(
            "v", _F.pandas_udf(lambda s: s + 1, "long")(_F.col("id"))
        ),
    )

    # Python DataSource planner spin-up: the FIRST read through a
    # registered Python data source pays ~3-4 s of one-time driver-side
    # planner-process + Arrow-eval setup shared by every Python source
    # thereafter (measured: scan_python_datasource 3.8 s cold, 0.6 s
    # warm). Absorb it here with a one-row source so the timed key
    # measures the source, not the machinery — same contract as the
    # pandas_udf warm-up above.
    def _warm_datasource():
        from pyspark.sql.datasource import (
            DataSource,
            DataSourceReader,
            InputPartition,
        )

        class _WarmReader(DataSourceReader):
            def partitions(self):
                return [InputPartition(0)]

            def read(self, partition):
                yield (0,)

        class _WarmSource(DataSource):
            @classmethod
            def name(cls):
                return "bench_warmup_pyds"

            def schema(self):
                return "i int"

            def reader(self, schema):
                return _WarmReader()

        spark.dataSource.register(_WarmSource)
        return spark.read.format("bench_warmup_pyds").load()

    _warm("python_datasource", _warm_datasource)

    # Python UDTF path spin-up (same shared-machinery class, measured:
    # udtf_polymorphic 2.4 s cold, 0.4 s warm): one-row lateral call.
    def _warm_udtf():
        from pyspark.sql.functions import udtf as _udtf

        @_udtf(returnType="x int")
        class _WarmUDTF:
            def eval(self, v: int):
                yield (v,)

        return _WarmUDTF(_F.lit(1))

    _warm("udtf", _warm_udtf)

    # Fixture prewarm (PREWARM_KEYS): on a warm .scratch this pass is a few
    # seconds of no-ops.
    for key in PREWARM_KEYS:
        if key in queries:
            try:
                run(queries[key](spark, sf_dir))
            except Exception as e:  # noqa: BLE001 — the timed loop reports it
                # Surface prewarm failures (round-4 ADVICE: a swallowed
                # prewarm exception hides WHICH fixture build broke).
                print(
                    f"[bench] prewarm {key}: {type(e).__name__}: {e}"[:300],
                    file=sys.stderr,
                    flush=True,
                )

    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    compiles_start = codegen_compiles(spark)
    clock = Stopwatch()
    for key in sorted(queries):
        t0 = time.perf_counter()
        try:
            run(queries[key](spark, sf_dir))
            times[key] = round(time.perf_counter() - t0, 3)
            print(f"[bench] {key}: {times[key]}s", file=sys.stderr, flush=True)
        except Exception as e:  # noqa: BLE001 — record, keep benching
            errors[key] = f"{type(e).__name__}: {e}"[:200]
            print(f"[bench] {key}: ERROR {errors[key]}", file=sys.stderr, flush=True)
    _, share, steal = clock.read()
    # Janino compiles in the timed loop: generated-class cache misses.
    compiles = codegen_compiles(spark) - compiles_start

    # (The rounds-5..8 decimal-representation diagnostic dump lived here;
    # retired with the typed_probe_* keys once CORRECTNESS_r08 recorded
    # the finding — see SURVEY 6.1b.)

    # Re-check contention AFTER the run (round-10 ADVICE): loadavg is
    # exponentially damped, so contention that arrives mid-run reads
    # near 0 at start and would stay labeled solo. See
    # demote_if_contended for why the detector is the calibration
    # probe and not end-of-run loadavg (self-load pollution);
    # load_end is recorded below as audit only.
    load_end = os.getloadavg()[0]
    cal_end = _calibrate()
    cal_mt_end = calibrate_allcore()
    _n_warm_end = _count_warm_fixtures()
    scratch_state = scratch_state_of(_n_warm, _n_warm_end)
    solo, solo_source = demote_if_contended(
        solo,
        solo_source,
        cal_start["med"],
        cal_end["med"],
        allcore_start_med=cal_mt_start["med"],
        allcore_end_med=cal_mt_end["med"],
    )
    value = round(sum(times.values()), 3)
    # Calibration-normalized wall (round-9 VERDICT task 3): scale to the
    # 120 ms reference work-unit so a ±15% host-load swing can't
    # masquerade as (or mask) a plan regression. Median-of-5 at start and
    # end; the mean of the two medians is the run's sustained CPU factor.
    cal_mean = (cal_start["med"] + cal_end["med"]) / 2.0
    result = {
        "metric": "full_suite_wall",
        "value": value,
        "value_norm": round(value * (120.0 / cal_mean), 3),
        "value_scaled": round(value * share, 3),
        "granted_share": round(share, 4),
        "steal_s": round(steal, 2),
        "unit": "sec",
        "queries": {k: times[k] for k in HEADLINE_KEYS if k in times},
        "n_queries": len(times),
        "sf": sf,
        "solo": solo,
        "solo_source": solo_source,
        "cal_ms": [cal_start["best"], cal_end["best"]],
        "cal_ms_med": [cal_start["med"], cal_end["med"]],
        # All-core probe medians (see calibrate_allcore): the ratio to
        # cal_ms_med is the host's sustained-parallel penalty — ~1.15-1.3
        # on a healthy dedicated box (SMT + all-core clocks), >1.5 when a
        # bandwidth-hungry sibling or all-core throttle is eating the
        # suite while the single-thread probe reads fast.
        "cal_allcore_ms_med": [cal_mt_start["med"], cal_mt_end["med"]],
        # Idle-guard provenance: how long the guard waited for the
        # nominal band and what the probe read BEFORE waiting (equal to
        # cal_ms_med[0] when no wait was needed).
        "idle_wait_s": round(idle_waited, 1),
        "idle_wait_allcore_s": round(allcore_waited, 1),
        "cal_ms_med_pre_wait": cal_pre_wait["med"],
        "scratch": scratch_state,
        "n_warm_fixtures": _n_warm,
        "n_warm_fixtures_end": _n_warm_end,
        # The core count the suite actually ran on (session.cpu_count()).
        "cpus": cpus,
    }
    if errors:
        # Key NAMES are short and diagnostic (round-4 ADVICE); the long
        # messages stay in BENCH_LOCAL.jsonl to protect the stdout tail.
        result["n_errors"] = len(errors)
        result["error_keys"] = sorted(errors)
    # Durable local artifact (round-2 VERDICT: BENCH_r01 was empty and
    # BENCH_r02's captured stdout tail was truncated — keep our own
    # history instead of depending on the driver's capture).
    try:
        with open(os.path.join(os.path.dirname(__file__) or ".", "BENCH_LOCAL.jsonl"), "a") as f:
            f.write(
                json.dumps(
                    {
                        "ts": int(time.time()),
                        **result,
                        "load_start": round(load_start, 2),
                        "load_end": round(load_end, 2),
                        "all_queries": times,
                        "errors": errors,
                        "codegen_compiles": compiles,
                    }
                )
                + "\n"
            )
    except OSError:
        pass
    # Print the one-line JSON summary LAST, after JVM shutdown (round-18
    # VERDICT task 1b): the r18 c8 scaling run's line was pushed out of
    # the driver's 2,000-char tail capture by a Spark shutdown stack spew
    # (RpcEnvStoppedException traceback) that landed AFTER the print.
    # Stopping the session here puts any shutdown noise BEFORE the line.
    stop_then_print(spark, result)
    return 0


# Bound on the shutdown wait before the result line is printed anyway.
STOP_TIMEOUT_S = 60.0


def stop_then_print(spark, result: dict) -> None:
    """Stop the session, then print ``result`` as the JSON line.

    The stop runs in a daemon thread joined with ``STOP_TIMEOUT_S``, so a
    hung ``spark.stop()`` cannot lose the line; the brief drain sleep
    lets the JVM's async stderr flush first."""

    def stop() -> None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 — the measurement is already done
            pass

    stopper = threading.Thread(target=stop, daemon=True)
    stopper.start()
    stopper.join(STOP_TIMEOUT_S)
    if stopper.is_alive():
        print(f"spark.stop() still running after {STOP_TIMEOUT_S:g} s", file=sys.stderr)
    time.sleep(1.0)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    sys.exit(main())
