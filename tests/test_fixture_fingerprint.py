"""Fixture-regeneration regression tests (round-4 VERDICT item 6).

``scan_typed_columns`` hash-failed in rounds 3 AND 4 because its derived
table rebuilt only when a ``_SUCCESS`` marker was missing — a condition a
testdata regeneration under an unchanged path never triggers, so a
session with a persistent catalog served stale pre-regeneration data.

The fix keys every derived scratch path and derived TABLE NAME on a
content fingerprint of the source dir (``io.sf_tag``).  These tests
simulate the exact failure: build a derived fixture, REGENERATE the
source under the same path with different data, and assert the derived
result reflects the new data within the same SparkSession (whose catalog
still holds the old derived table).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

from yc_data_proc_metadata_import_spark.registry import QUERIES
from yc_data_proc_metadata_import_spark.sources.io import (
    SCRATCH,
    _fixture_dir,
    _sf_fingerprint,
    sf_tag,
    table_path,
)


@pytest.fixture()
def regen_sf(tmp_path, sf_dir):
    """A private copy of the sf dir that tests may regenerate in place."""
    dst = tmp_path / "sfregen"
    dst.mkdir()
    for name in os.listdir(sf_dir):
        src = os.path.join(sf_dir, name)
        if os.path.isdir(src):
            shutil.copytree(src, dst / name)
        else:
            shutil.copy2(src, dst / name)
    return str(dst)


def test_sf_tag_changes_on_touch(regen_sf):
    """The fingerprint must react to a bare mtime bump (the weakest
    possible regeneration signal)."""
    before = sf_tag(regen_sf)
    target = table_path(regen_sf, "orders")
    st = os.stat(target)
    os.utime(target, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    after = sf_tag(regen_sf)
    assert before != after


def test_sf_tag_stable_without_changes(regen_sf):
    assert sf_tag(regen_sf) == sf_tag(regen_sf)


def _regenerate(regen_sf: str, table: str = "orders", key: str = "o_orderkey") -> None:
    """Rewrite ``table`` under the SAME path with the rows of odd ``key``
    only — what regenerating the testdata does."""
    import duckdb

    path = table_path(regen_sf, table)
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE o AS SELECT * FROM read_parquet('{path}') "
        f"WHERE {key} % 2 = 1"
    )
    os.remove(path)
    con.execute(f"COPY o TO '{path}' (FORMAT parquet)")
    con.close()


def test_typed_orders_rebuilds_after_regen(spark, regen_sf):
    """The round-3/4 red key, replayed: same session, same sf path,
    regenerated source data -> the derived DDL-typed table must rebuild
    and serve the NEW row counts (the broken guard served the old)."""
    q = QUERIES["scan_typed_columns"]
    before = {r["status_c"]: r["n"] for r in q(spark, regen_sf).collect()}
    _regenerate(regen_sf)
    after = {r["status_c"]: r["n"] for r in q(spark, regen_sf).collect()}
    assert sum(after.values()) < sum(before.values()), (
        "derived typed_orders table served stale pre-regeneration data: "
        f"before={before} after={after}"
    )


def test_partitioned_sink_rebuilds_after_regen(spark, regen_sf):
    """Same hazard class for path-cached derived fixtures: the
    partition-pruned scan must observe regenerated source data."""
    q = QUERIES["scan_partition_pruned"]
    before = q(spark, regen_sf).count()
    _regenerate(regen_sf)
    after = q(spark, regen_sf).count()
    assert after < before, (
        f"status_parts_orders fixture served stale data: before={before} after={after}"
    )


def test_session_artifact_rebuilds_after_regen(spark, regen_sf):
    """Same hazard class for session artifacts: the token table, built
    once per session and shared by the text keys, must rebuild when
    ``documents`` is regenerated under the same path."""
    from yc_data_proc_metadata_import_spark.llm.text import tokens

    before = tokens(spark, regen_sf).select("doc_id").distinct().count()
    _regenerate(regen_sf, "documents", "doc_id")
    after = tokens(spark, regen_sf).select("doc_id").distinct().count()
    assert 0 < after < before, (
        f"token table served stale pre-regeneration rows: before={before} after={after}"
    )


def test_stale_sibling_cleanup(regen_sf):
    """_fixture_dir removes same-kind dirs with an outdated fingerprint
    (testdata regenerates every round; dead copies must not accumulate)."""
    old = _fixture_dir("fptest_kind", regen_sf)
    os.makedirs(old, exist_ok=True)
    target = table_path(regen_sf, "orders")
    st = os.stat(target)
    os.utime(target, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    new = _fixture_dir("fptest_kind", regen_sf)
    assert new != old
    assert not os.path.exists(old), "stale fixture sibling not cleaned up"
    shutil.rmtree(new, ignore_errors=True)


def test_fingerprint_covers_nested_files(tmp_path):
    """Directory-valued tables (multi-part parquet dirs) must contribute
    every member file."""
    d = tmp_path / "sf"
    sub = d / "t.parquet"
    sub.mkdir(parents=True)
    (sub / "part-0.parquet").write_bytes(b"a")
    fp1 = _sf_fingerprint(str(d))
    (sub / "part-1.parquet").write_bytes(b"b")
    assert _sf_fingerprint(str(d)) != fp1


def test_bucketed_stale_fixture_cleanup(spark, sf_dir):
    """bucketed_join_noshuffle's bucketed copies are ``_fixture_dir``
    fixtures, so a copy (and its lock) at a stale fingerprint is reaped
    when the key runs."""
    base, _fp = sf_tag(sf_dir).rsplit("_", 1)
    stale = os.path.join(SCRATCH, f"orders_b_{base}_{'0' * 10}")
    os.makedirs(stale, exist_ok=True)
    open(f"{stale}.lock", "w").close()
    QUERIES["bucketed_join_noshuffle"](spark, sf_dir).count()
    assert not os.path.exists(stale), "stale bucketed fixture not cleaned"
    assert not os.path.exists(f"{stale}.lock"), "stale bucketed lock not cleaned"


def test_fixture_version_forces_rebuild(regen_sf):
    """Bumping a builder's version constant must re-key (and therefore
    rebuild) exactly that fixture, and reap the old-version dir — the
    stale-by-CODE hazard (round-5 VERDICT item 7)."""
    v1 = _fixture_dir("fpver_kind", regen_sf)
    v2 = _fixture_dir("fpver_kind", regen_sf, version="2")
    assert v1 != v2
    assert _fixture_dir("fpver_kind", regen_sf, version="2") == v2
    other = _fixture_dir("fpother_kind", regen_sf)
    os.makedirs(v1, exist_ok=True)
    os.makedirs(other, exist_ok=True)
    _fixture_dir("fpver_kind", regen_sf, version="2")
    assert not os.path.exists(v1), "old-version fixture dir not reaped"
    assert os.path.exists(other), "unrelated fixture wrongly reaped"
    shutil.rmtree(other, ignore_errors=True)


def test_fixture_version_alternation_raises(regen_sf):
    """Two live call sites disagreeing on a kind's version would reap
    each other's dirs on every access; returning to a previously-used
    version is that signature and must fail loudly (code-review round 6).
    A forward bump (the legitimate mechanism) stays allowed."""
    import pytest

    _fixture_dir("fpalt_kind", regen_sf, version="1")
    _fixture_dir("fpalt_kind", regen_sf, version="2")  # forward bump: fine
    with pytest.raises(AssertionError, match="alternating"):
        _fixture_dir("fpalt_kind", regen_sf, version="1")


def test_width_sibling_spared_stale_fp_reaped(regen_sf):
    """Width-suffixed fixture dirs (round-8 ADVICE, both findings): a
    sibling at the CURRENT fingerprint but a DIFFERENT width is a
    concurrent session's live layout and must survive; a sibling at a
    STALE fingerprint is pre-regeneration debris and must be reaped at
    ANY width (previously width-suffixed dirs escaped reaping entirely
    and accumulated across testdata regenerations).  The same holds for
    ``_materialize``'s lock files: a stale-fingerprint lock goes with
    its dir, a current-fingerprint one is never touched."""
    cur = _fixture_dir("fpwidth_kind", regen_sf, width=32)
    assert cur.endswith("_w32"), cur
    base = cur[: -len("_w32")]
    other_width = base + "_w8"
    prefix_dir, _fp = base.rsplit("_", 1)
    stale_w = f"{prefix_dir}_{'0' * 10}_w32"
    stale_other_w = f"{prefix_dir}_{'0' * 10}_w8"
    stale_bare = f"{prefix_dir}_{'0' * 10}"  # legacy hashed-width layout
    keep = (cur, other_width, f"{cur}.lock", f"{other_width}.lock", f"{base}.lock")
    stale = (stale_w, stale_other_w, stale_bare, f"{stale_w}.lock", f"{stale_bare}.lock")
    for d in keep + stale:
        if d.endswith(".lock"):
            open(d, "w").close()
        else:
            os.makedirs(d, exist_ok=True)
    assert _fixture_dir("fpwidth_kind", regen_sf, width=32) == cur
    for d in keep:
        assert os.path.exists(d), f"current-fingerprint entry reaped: {d}"
    for d in stale:
        assert not os.path.exists(d), f"stale-fingerprint sibling survived: {d}"
    for d in keep:
        if d.endswith(".lock"):
            os.remove(d)
        else:
            shutil.rmtree(d)


def test_media_fixture_width_visible_in_name(spark, sf_dir):
    """The media fixtures must encode the building session's parallelism
    as a VISIBLE _w<N> suffix, not hash it into the fingerprint — hashed,
    a concurrent different-parallelism session's committed fixture looks
    like a stale-fingerprint sibling and gets reaped mid-scan (round-8
    ADVICE, medium)."""
    from yc_data_proc_metadata_import_spark.llm.multimodal import (
        _media_fixture_dir,
    )

    out = _media_fixture_dir(spark, "ppm_media", sf_dir)
    par = spark.sparkContext.defaultParallelism
    assert out.endswith(f"_w{par}"), out


def test_materialize_never_rebuilds_committed_fixture(tmp_path):
    """A committed fixture (marker present) is served as it is: the
    writer is never called, so no late builder can replace a directory
    another session may be scanning."""
    from yc_data_proc_metadata_import_spark.sources.io import _materialize

    out = tmp_path / "fix"
    out.mkdir()
    (out / "_SUCCESS").touch()
    (out / "part-0.parquet").write_bytes(b"winner")

    def writer(p):
        raise AssertionError("writer called for a committed fixture")

    assert _materialize(writer, str(out)) == str(out)
    assert (out / "part-0.parquet").read_bytes() == b"winner"
    assert sorted(os.listdir(tmp_path)) == ["fix"], os.listdir(tmp_path)


def _write_part(payload: bytes):
    def writer(p):
        os.makedirs(p)
        with open(os.path.join(p, "part-0.parquet"), "wb") as f:
            f.write(payload)

    return writer


def test_materialize_replaces_markerless_debris(tmp_path):
    """Marker-less debris (an interrupted write) is the one thing a build
    may remove; the fresh build must land with its marker."""
    from yc_data_proc_metadata_import_spark.sources.io import _materialize

    out = tmp_path / "fix"
    out.mkdir()
    (out / "part-0.parquet").write_bytes(b"torn write, no marker")
    (out / "part-1.parquet").write_bytes(b"more debris")
    _materialize(_write_part(b"fresh build"), str(out))
    assert (out / "_SUCCESS").exists()
    assert sorted(os.listdir(out)) == ["_SUCCESS", "part-0.parquet"]
    assert (out / "part-0.parquet").read_bytes() == b"fresh build"
    # The 0-byte flock file that serializes builds is the one permitted
    # leftover — it must NEVER be deleted (unlinking a lock another
    # process holds open would let two builders in at once on different
    # inodes).
    assert sorted(os.listdir(tmp_path)) == ["fix", "fix.lock"], os.listdir(tmp_path)
    assert os.path.getsize(tmp_path / "fix.lock") == 0


def test_materialize_builds_once_across_threads(tmp_path):
    """Threads racing a cold fixture (at least three, and more than the
    cores): the writer runs exactly once, and ``out`` holds exactly that
    writer's output (the threads of one process share one staging name
    under the process's run root, so an unlocked build lets them write
    into each other's staging).  The scratch dir does not exist yet, as
    in a fresh checkout."""
    import sys
    import threading
    import time

    from yc_data_proc_metadata_import_spark.sources.io import _materialize

    scratch = tmp_path / "scratch"
    out = str(scratch / "fix")
    n = max(3, (os.cpu_count() or 1) + 1)
    calls = []
    start = threading.Barrier(n)

    def writer(p):
        calls.append(threading.get_ident())
        os.makedirs(p)
        time.sleep(0.2)  # hold the build open while the others arrive
        with open(os.path.join(p, f"part-{len(calls)}.parquet"), "wb") as f:
            f.write(b"x")

    errors = []

    def build():
        start.wait(timeout=30)
        try:
            _materialize(writer, out)
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=build) for _ in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads), "a builder never finished"
    assert errors == []
    assert len(calls) == 1, f"writer ran {len(calls)} times"
    assert sorted(os.listdir(out)) == ["_SUCCESS", "part-1.parquet"]
    assert sorted(os.listdir(scratch)) == ["fix", "fix.lock"], os.listdir(scratch)


def test_materialize_failed_writer_leaves_no_marker(tmp_path):
    """A writer that raises leaves no marker at ``out`` and releases the
    lock, so the next call rebuilds."""
    import fcntl

    from yc_data_proc_metadata_import_spark.sources.io import _materialize

    out = tmp_path / "fix"

    def failing(p):
        os.makedirs(p)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        _materialize(failing, str(out))
    assert not (out / "_SUCCESS").exists()
    with open(tmp_path / "fix.lock") as lf:  # released: a non-blocking take succeeds
        fcntl.flock(lf, fcntl.LOCK_EX | fcntl.LOCK_NB)
        fcntl.flock(lf, fcntl.LOCK_UN)
    _materialize(_write_part(b"rebuilt"), str(out))
    assert (out / "_SUCCESS").exists()
    assert (out / "part-0.parquet").read_bytes() == b"rebuilt"


@pytest.mark.parametrize("kind", ["parts_orders", "png_media"])
def test_concurrent_cold_fixture_build(spark, regen_sf, kind):
    """Three threads building one cold fixture through its real builder
    raise nothing, and the committed fixture holds the rows DuckDB
    counts.  Unlocked, the threads of one process shared one staging
    dir (parts_orders: a Py4JJavaError, or every row twice), and an
    in-place writer's copies landed in ``out`` together (png_media:
    more rows than documents)."""
    import threading

    import duckdb

    from yc_data_proc_metadata_import_spark.llm.multimodal import (
        _media_fixture_dir,
        _png_fixture,
    )
    from yc_data_proc_metadata_import_spark.plans.catalog import (
        _PARTS_VERSION,
        SPECIAL_PRED,
        parts_orders_fixture,
    )

    con = duckdb.connect()
    if kind == "parts_orders":
        out = _fixture_dir(kind, regen_sf, version=_PARTS_VERSION)
        build = parts_orders_fixture
        src = table_path(regen_sf, "orders")
        want = con.execute(
            f"SELECT COUNT(*) + COUNT(*) FILTER (WHERE {SPECIAL_PRED}) "
            f"FROM read_parquet('{src}')"
        ).fetchone()[0]
    else:
        out = _media_fixture_dir(spark, kind, regen_sf)
        build = _png_fixture
        src = table_path(regen_sf, "documents")
        want = con.execute(f"SELECT COUNT(*) FROM read_parquet('{src}')").fetchone()[0]
    con.close()
    shutil.rmtree(out, ignore_errors=True)

    start = threading.Barrier(3)
    errors = []

    def run():
        start.wait()
        try:
            build(spark, regen_sf)
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == [], errors
    assert spark.read.parquet(out).count() == want


_BUILDER = """
import os, sys, time
from yc_data_proc_metadata_import_spark.sources import io

io.SCRATCH, out, log, mode = sys.argv[1:]


def writer(p):
    with open(log, "a") as f:
        f.write(f"{os.getpid()}\\n")
    os.makedirs(p)
    open(os.path.join(p, "part-0.parquet"), "w").close()
    if mode == "crash":
        os._exit(3)  # dies mid-build: no exception handler, no cleanup
    time.sleep(0.5)  # hold the build open while the other builder arrives


if mode == "race":
    open(f"{log}.ready{os.getpid()}", "w").close()
    while not os.path.exists(f"{log}.go"):
        time.sleep(0.01)
print(io._materialize(writer, out))
"""


def _builder(scratch, out, log, mode):
    """A Spark-free process that calls ``_materialize`` with ``scratch``
    as its ``.scratch``; its writer logs its pid to ``log``."""
    env = dict(os.environ, PYTHONPATH=os.path.dirname(os.path.dirname(__file__)))
    return subprocess.Popen(
        [sys.executable, "-c", _BUILDER, str(scratch), str(out), str(log), mode],
        env=env,
        stdout=subprocess.PIPE,
        text=True,
    )


def _runs(scratch) -> dict:
    """{run root: its entries} under ``scratch``."""
    runs = scratch / "runs"
    return {d: sorted(os.listdir(runs / d)) for d in os.listdir(runs)} if runs.exists() else {}


def test_materialize_builds_once_across_processes(tmp_path):
    """Two processes racing one cold ``out``: the writer runs once, both
    calls return ``out``, and neither process's run root is left holding
    staging."""
    import time

    scratch, log = tmp_path / "scratch", tmp_path / "calls"
    out = scratch / "fix"
    procs = [_builder(scratch, out, log, "race") for _ in range(2)]
    deadline = time.monotonic() + 60
    while len([f for f in os.listdir(tmp_path) if ".ready" in f]) < 2:
        assert time.monotonic() < deadline, "builders never got ready"
        time.sleep(0.01)
    (tmp_path / "calls.go").touch()
    outs = [p.communicate(timeout=60)[0].strip() for p in procs]
    assert [p.returncode for p in procs] == [0, 0]
    assert outs == [str(out), str(out)]
    assert len(log.read_text().split()) == 1, "writer ran more than once"
    assert sorted(os.listdir(out)) == ["_SUCCESS", "part-0.parquet"]
    assert all(entries == [] for entries in _runs(scratch).values()), _runs(scratch)


def test_crashed_builder_staging_reaped(tmp_path):
    """A builder that dies inside its writer leaves its staging under its
    ``runs/pid<N>``.  The next process's first run-root call removes it
    (a live process's root is spared), and that process's
    ``_materialize`` of the same ``out`` builds exactly once.  Fixture
    dirs and lock files survive throughout."""
    scratch, log = tmp_path / "scratch", tmp_path / "calls"
    out = scratch / "fix"
    other = scratch / "other_fixture"
    other.mkdir(parents=True)
    (other / "_SUCCESS").touch()
    (scratch / "other_fixture.lock").touch()
    live = scratch / "runs" / f"pid{os.getpid()}"
    (live / "staging").mkdir(parents=True)

    crashed = _builder(scratch, out, log, "crash")
    crashed.communicate(timeout=60)
    assert crashed.returncode == 3
    dead = f"pid{crashed.pid}"
    assert _runs(scratch)[dead] == ["fix"], _runs(scratch)
    assert not (out / "_SUCCESS").exists()
    survivors = ["fix.lock", "other_fixture", "other_fixture.lock", "runs"]
    assert sorted(os.listdir(scratch)) == survivors

    rebuilt = _builder(scratch, out, log, "build")
    assert rebuilt.communicate(timeout=60)[0].strip() == str(out)
    assert rebuilt.returncode == 0
    assert log.read_text().split() == [str(crashed.pid), str(rebuilt.pid)]
    runs = _runs(scratch)
    assert dead not in runs, runs
    assert runs[live.name] == ["staging"], runs
    assert runs[f"pid{rebuilt.pid}"] == [], runs
    assert sorted(os.listdir(out)) == ["_SUCCESS", "part-0.parquet"]
    assert sorted(os.listdir(scratch)) == ["fix"] + survivors


@pytest.mark.parametrize(
    "key",
    [
        "sink_compaction",
        "sink_csv",
        "sink_dynamic_overwrite",
        "sink_json",
        "sink_orc",
        "sink_parquet",
        "sink_partitioned",
        "sink_text",
        "sink_zorder_cluster",
    ],
)
def test_sink_outputs_live_under_run_root(spark, sf_dir, key):
    """Sink keys rewrite their output on every call, so it must live
    under the process's run root: at a shared ``_fixture_dir`` path two
    drivers over one sf dir would rewrite each other's files mid-read."""
    from urllib.parse import urlparse

    from yc_data_proc_metadata_import_spark.sources.io import _run_scratch

    files = QUERIES[key](spark, sf_dir).inputFiles()
    root = _run_scratch() + os.sep
    assert files
    assert [f for f in files if not urlparse(f).path.startswith(root)] == []
