"""Structured Streaming operators (SURVEY.md SS2.11) over the ``events``
fixture, driven with ``availableNow`` triggers so each key runs the full
streaming engine (file source -> stateful operators -> sink) yet
terminates and returns a batch-queryable DataFrame, per the driver
contract.

All 15 keys drain through one function, ``_drain``: it owns the
checkpoint, the state-partition and no-data-batch confs, the trigger,
the wait and the sink (a memory table or a ``foreachBatch`` function).
A file source's drain ends at the files present when it starts; the
generator source (``rate-micro-batch``) serves exactly one batch per
drain, so ``stream_rate_source`` drains once per batch on one
checkpoint, as ``stream_restart_checkpoint`` resumes its second run.

Verification strategy (SURVEY.md SS5.3): streaming results are checked by
BATCH EQUIVALENCE — tumbling/sliding/session/dedup produce exactly what
the equivalent batch query produces, so they carry full DuckDB oracles.
The watermark key's late-drop semantics are modeled in the oracle too
(two deterministic micro-batches via file modification times).

100 TB notes: the file source is the same partitioned parquet scan as
batch — checkpointed offsets + per-file tracking scale with file count,
not bytes. Windowed aggregation state is (window x key) sized and evicted
by watermark; memory sinks here are a test harness stand-in for a real
table sink (the driver collects results anyway).

Arbitrary-state API note: ``stream_stateful`` uses
``applyInPandasWithState``; Spark 4.x's successor API
(``transformWithStateInPandas`` — typed value/list/map state handles +
timers) was evaluated here but its Python driver worker hard-requires
the ``protobuf`` package (``google.protobuf`` import in its state-server
protocol), which this container does not ship — a verified environment
limitation, not a design choice. On a cluster with protobuf installed
the stream_stateful processor ports mechanically (init/handleInputRows
instead of a single update fn).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import conf_scope
from ..sources.io import (
    _fixture_dir,
    _materialize,
    _run_scratch,
    load,
    parquet_schema,
)
from ..utils import dsum, sql_dsum


def _src_width(spark: SparkSession) -> int:
    """File count for staged streaming sources: one per core (the
    round-7/8 fixture-layout rule — the driver testdata ships one row
    group per table, so a naturally-partitioned staging write would
    produce ONE file and every micro-batch scan would run single-task).
    At 100 TB a file stream tails many landing files; the wide layout
    gives the local plan the same scan parallelism.  The width is baked
    into the fixture dir name so a session at a different parallelism
    (or a stage created by the old single-file writer) rebuilds instead
    of silently reusing the wrong layout."""
    return max(1, spark.sparkContext.defaultParallelism)


def _stream_src(spark: SparkSession, sf_dir: str) -> str:
    """Streaming source dir: events with ts already converted to
    microsecond timestamps (one-time fixture; the stream schema is then
    plain TIMESTAMP and batch/stream read identical values)."""
    w = _src_width(spark)
    return _materialize(
        lambda p: load(spark, sf_dir, "events")
        .repartition(w)
        .write.mode("overwrite")
        .parquet(p),
        _fixture_dir("stream_events", sf_dir, width=w),
    )


def _stream_dup_src(spark: SparkSession, sf_dir: str) -> str:
    """Source with every event present TWICE — dedup's input."""
    e = load(spark, sf_dir, "events")
    w = _src_width(spark)
    return _materialize(
        lambda p: e.unionAll(e)
        .repartition(w)
        .write.mode("overwrite")
        .parquet(p),
        _fixture_dir("stream_events_dup", sf_dir, width=w),
    )


def _write_one_file(df: DataFrame, path: str) -> None:
    """Write ``df`` as the single parquet file ``path``: one task writes
    a part file into a sibling directory, which is moved onto ``path``
    and the directory removed.  For fixtures whose file boundaries are
    the point (one file = one micro-batch), not for data paths."""
    import shutil

    sub = f"{path}.d"
    df.coalesce(1).write.mode("overwrite").parquet(sub)
    part = next(f for f in os.listdir(sub) if f.endswith(".parquet"))
    shutil.move(os.path.join(sub, part), path)
    shutil.rmtree(sub)


def _stream_three_batch_src(spark: SparkSession, sf_dir: str) -> str:
    """Three-file source with CONTROLLED batch order for the watermark
    key (modification times forced apart; maxFilesPerTrigger=1 +
    oldest-first makes each file one micro-batch):

      batch 0: even event_ids            -> advances the watermark
      batch 1: odd ids in the final 10min -> emits+evicts closed windows
      batch 2: odd ids older than that   -> LATE: dropped by watermark

    Single-file writes are fine here: a tiny one-time TEST fixture whose
    whole point is exact batch boundaries, not a data path."""

    def write(p: str) -> None:
        e = load(spark, sf_dir, "events")
        cutoff = e.agg(
            (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("c")
        ).first()["c"]
        parts = (
            e.filter(F.col("event_id") % 2 == 0),
            e.filter((F.col("event_id") % 2 == 1) & (F.col("ts") > F.lit(cutoff))),
            e.filter((F.col("event_id") % 2 == 1) & (F.col("ts") <= F.lit(cutoff))),
        )
        os.makedirs(p)
        for idx, part in enumerate(parts):
            dst = os.path.join(p, f"batch{idx}.parquet")
            _write_one_file(part, dst)
            os.utime(dst, (1_700_000_000 + idx * 100, 1_700_000_000 + idx * 100))

    return _materialize(write, _fixture_dir("stream_events_3b", sf_dir))


def _read_stream(spark: SparkSession, path: str, **options) -> DataFrame:
    # File-stream sources REQUIRE an explicit schema. Staged source dirs
    # are replaced atomically (os.replace of a fully-built tmp dir), so a
    # regenerated source dir changes the directory mtime that
    # parquet_schema keys on and gets a fresh inference instead of a
    # silently stale schema (round-7 ADVICE).
    reader = spark.readStream.schema(parquet_schema(spark, path))
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.parquet(path)
    # Watermarks demand TIMESTAMP (LTZ); the round-4 fixtures store
    # events.ts as NTZ microseconds. Session tz is UTC, so the cast is a
    # pure re-tag (same micros). Result-surface timestamps are cast back
    # to NTZ by the registry wrapper for oracle-hash parity.
    for f in df.schema.fields:
        if f.dataType.simpleString() == "timestamp_ntz":
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


# Source bytes one state partition should absorb per full availableNow
# drain (round-19, VERDICT r18 task 6): the state-partition count now
# derives from DATA VOLUME, not only from the local core count. Each
# state-store instance pays a fixed commit + maintenance cost per
# micro-batch, so partitions should be few when the update volume is
# small (the measured 2.4x local win of 8 vs 32) and grow with input
# volume, not with whatever core count the session happens to have —
# at 256 MB/partition a 1 TB/day key plans ~4k state partitions on any
# cluster size, while every rung tier (sf0.1 events 2 MB, sf1 20 MB,
# sf10 200 MB) stays at the floor, keeping the bench comparable by
# construction.
_STATE_TARGET_BYTES = 256 * 1024 * 1024
# Python arbitrary-state operators parallelize per-group PYTHON compute,
# so their partition count scales much earlier: ~1 partition per MB of
# source (sf1-swept: 20 MB -> 20 partitions lands in the measured-best
# 16-32 band), capped at 4x parallelism.
_PY_STATE_TARGET_BYTES = 1024 * 1024


def _dir_bytes(path: str) -> int:
    """Total bytes of a staged stream-source dir (flat file listing —
    the same cheap stat pass the file-stream source's own listing does)."""
    try:
        with os.scandir(path) as it:
            return sum(e.stat().st_size for e in it if e.is_file())
    except OSError:
        return 0


def _state_partitions(
    spark: SparkSession, src_bytes: int = 0, python_state: bool = False
) -> int:
    """State-store partition count for a FRESH streaming checkpoint.

    JVM stateful operators (windowed aggregation, dedup, stream-stream
    join) keep one state-store instance per shuffle partition, each
    paying a commit + maintenance cost per micro-batch — so their
    partitioning should track expected UPDATE RATE, not scan width. The
    count is max(floor, source bytes / _STATE_TARGET_BYTES), the floor
    being cores/4 but at least 8 and at most cores:
    the floor keeps the per-batch fixed cost low, and the volume term
    scales the state layout with the data on any cluster size, up to the
    same 4x-parallelism cap as the Python-state branch below (a huge
    staged source must not fan out into thousands of state stores). Measured
    at sf0.1 AND the sf1 rung (same-session sweeps over {4,8,16,32},
    OPTIMIZATION_r19.md): windowed aggs degrade ~2x at 32 partitions at
    BOTH tiers (stream_tumbling 1.28 vs 2.0 s at sf1, stream_watermark
    2.1 vs 5.2 s), so the floor is a volume statement about commit
    cost, not a local[32] constant.  The floor is capped at the session's
    parallelism: below 8 cores, 8 state partitions run as two waves of
    state tasks.  At local[4] and sf0.01, 4 partitions against 8 took
    stream_stateful from 1.24-2.05 s to 0.73-1.07 s and stream_session
    from 1.11-1.54 s to 0.79-0.91 s (three runs each, alternating, one
    session).

    ``python_state=True`` (applyInPandasWithState and successors) is
    COMPUTE-bound, not commit-bound: each partition's groups are
    processed serially by one Python worker, and the sf1 sweep shows
    stream_stateful monotone-improving with partitions (9.3 / 5.9 /
    4.4 / 3.9 s at 4/8/16/32). Its count therefore grows ~1 partition
    per MB of source, volume-gated so tiny inputs keep the same floor
    as the JVM keys (sf0.1 sweep: 32 partitions cost stateful ~0.3 s —
    per-batch fixed cost with no compute to parallelize) and capped at
    4x parallelism (beyond a few batches per worker slot there is
    nothing left to overlap). Only applies at checkpoint creation —
    restarts keep the checkpoint's own value.
    """
    cores = spark.sparkContext.defaultParallelism
    floor = min(max(8, cores // 4), cores)
    target = _PY_STATE_TARGET_BYTES if python_state else _STATE_TARGET_BYTES
    return max(floor, min(src_bytes // target, 4 * cores))


def _drain(
    df: DataFrame,
    name: str,
    mode: str,
    final_no_data_batch: bool = True,
    src_bytes: int = 0,
    python_state: bool = False,
    sink: Callable[[DataFrame, int], None] | None = None,
    resume: bool = False,
) -> str:
    """Drain the stream ``df`` with an ``availableNow`` trigger and return
    its checkpoint path.  Every stream key drains through here.

    The sink is the memory table ``name`` or, given ``sink``, that
    ``foreachBatch`` function.  The checkpoint is ``checkpoints/<name>``
    under ``_run_scratch()``, reset on every call unless ``resume`` picks
    up the offset log of an earlier drain of the same name.  The state
    partition count (``_state_partitions``) only takes effect when the
    checkpoint is fresh; a resumed one keeps its own.

    ``final_no_data_batch=False`` suppresses the trailing no-data
    micro-batch (``spark.sql.streaming.noDataMicroBatches.enabled``) for
    operators whose OUTPUT is emitted in-batch — streaming dedup and
    stream-stream inner join — where that extra batch only evicts state
    that the availableNow drain is about to discard anyway (round-9
    VERDICT task 2: it cost 0.3-0.85 s/key of the suite wall, ~30% of
    those keys' time, for zero emitted rows; hash-equivalence of the
    suppressed runs verified before adoption). Append-mode AGGREGATIONS
    (session/watermark windows) emit closed windows IN the no-data batch
    and must keep the default. On a 24x7 production stream the flag is
    moot — there is always a next data batch to advance eviction.
    """
    import shutil

    spark = df.sparkSession
    chk = os.path.join(_run_scratch(), "checkpoints", name)
    if not resume:
        shutil.rmtree(chk, ignore_errors=True)
    writer = (
        df.writeStream.queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
    )
    if sink is None:
        # Direct drop — no-op when absent. (Enumerating listTables()
        # first walked the whole temp-view catalog per stream key; in a
        # full-suite session that catalog holds 100+ registered views.)
        spark.catalog.dropTempView(name)
        writer = writer.format("memory")
    else:
        writer = writer.foreachBatch(sink)
    with conf_scope(
        spark,
        {
            "spark.sql.shuffle.partitions": str(
                _state_partitions(spark, src_bytes, python_state)
            ),
            "spark.sql.streaming.noDataMicroBatches.enabled": str(
                final_no_data_batch
            ).lower(),
        },
    ):
        writer.start().awaitTermination()
    return chk


_WINDOWED_SQL = """
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS window_end,
           event_type, COUNT(*) AS n_events, {vsum} AS value_sum
    FROM events
    GROUP BY 1, 2, 3
"""


@query(
    "stream_tumbling",
    prewarm=True,
    oracle=_WINDOWED_SQL.format(vsum=sql_dsum("value")),
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute windows x event_type, complete mode.

    Batch-equivalent by construction (complete mode + availableNow), so
    the streaming plan — file source, watermark-free windowed hash agg,
    state store — is hash-checked against the batch oracle. State size =
    windows x types; eviction via watermark is exercised separately.
    """
    src = _stream_src(spark, sf_dir)
    agg = (
        _read_stream(spark, src)
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "value_sum"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )
    _drain(agg, "mem_stream_tumbling", "complete", src_bytes=_dir_bytes(src))
    return spark.table("mem_stream_tumbling")


@query(
    "stream_sliding",
    oracle=f"""
    WITH expanded AS (
        SELECT time_bucket(INTERVAL '5 minutes', ts)
                 - k * INTERVAL '5 minutes' AS window_start,
               event_type, value
        FROM events, (SELECT unnest([0, 1]) AS k))
    SELECT window_start, window_start + INTERVAL '10 minutes' AS window_end,
           event_type, COUNT(*) AS n_events, {sql_dsum('value')} AS value_sum
    FROM expanded
    GROUP BY 1, 2, 3
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min length, 5 min slide): every event lands in
    exactly two overlapping windows; complete mode, batch-equivalent.
    The oracle expands each row into its two windows explicitly."""
    src = _stream_src(spark, sf_dir)
    agg = (
        _read_stream(spark, src)
        .groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "value_sum"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )
    _drain(agg, "mem_stream_sliding", "complete", src_bytes=_dir_bytes(src))
    return spark.table("mem_stream_sliding")


@query(
    "stream_session",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL '5 minutes'
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_no
        FROM flagged)
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '5 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_no
    HAVING MAX(ts) + INTERVAL '5 minutes'
           <= (SELECT MAX(ts) - INTERVAL '10 minutes' FROM events)
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute gap) per user, append mode (the only
    mode Spark supports for streaming session aggregation).

    A new session starts when the gap EXCEEDS 5 min; session_end =
    last_ts + gap. Append emits a session once the watermark passes its
    end, so sessions ending within the final 10-minute lateness horizon
    stay in state forever — the oracle's HAVING clause models exactly
    that emission rule (batch gaps-and-islands + watermark cutoff).
    """
    src = _stream_src(spark, sf_dir)
    agg = (
        _read_stream(spark, src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    _drain(agg, "mem_stream_session", "append", src_bytes=_dir_bytes(src))
    return spark.table("mem_stream_session")


@query(
    "stream_watermark",
    prewarm=True,
    oracle=f"""
    WITH wme AS (
        SELECT max(ts) - INTERVAL '10 minutes' AS w
        FROM events WHERE event_id % 2 = 0),
    wmf AS (
        SELECT max(ts) - INTERVAL '10 minutes' AS w FROM events)
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS window_end,
           event_type, COUNT(*) AS n_events
    FROM events, wme, wmf
    WHERE time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' <= wmf.w
      AND (event_id % 2 = 0
           OR time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' > wme.w)
    GROUP BY 1, 2, 3
    """,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data drop, observed end to end in APPEND mode over
    three controlled micro-batches: evens advance the watermark to
    max(even ts)-10min; a sliver of recent odds advances it further; the
    remaining (late) odds then arrive behind the watermark and are
    DROPPED (numRowsDroppedByWatermark > 0 in the query progress —
    asserted in tests). Windows inside the final lateness horizon are
    never emitted.

    Measured Spark 4.1 rules the oracle encodes: (1) a window is emitted
    iff window_end <= max(all ts) - 10min (the final watermark); (2) the
    LATE-ROW FILTER lags the watermark by one batch — batch N filters
    with the watermark computed from batches < N-1 — so late odds are
    dropped iff window_end <= max(even ts) - 10min, and the few late
    rows in younger windows still merge and emit.
    """
    src = _stream_three_batch_src(spark, sf_dir)
    agg = (
        _read_stream(spark, src, maxFilesPerTrigger=1, latestFirst=False)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
    _drain(agg, "mem_stream_watermark", "append", src_bytes=_dir_bytes(src))
    return spark.table("mem_stream_watermark")


@query(
    "stream_dedup",
    prewarm=True,
    oracle="SELECT event_id, event_type, ts FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: every event arrives twice; watermark-scoped
    dropDuplicates on event_id emits each exactly once (append mode).
    Batch-equivalent to the original (pre-duplication) stream. At scale
    the watermark bounds dedup state to the lateness horizon instead of
    all-time history.
    """
    src = _stream_dup_src(spark, sf_dir)
    dedup = (
        _read_stream(spark, src)
        .withWatermark("ts", "10 minutes")
        .dropDuplicates(["event_id"])
        .select("event_id", "event_type", "ts")
    )
    _drain(dedup, "mem_stream_dedup", "append", final_no_data_batch=False,
           src_bytes=_dir_bytes(src))
    return spark.table("mem_stream_dedup")


def _user_stats_fn(key, pdf_iter, state):
    """applyInPandasWithState update fn: per-user running (count, min_ts,
    max_ts) in ms. Deterministic regardless of row order within a batch.
    """
    import pandas as pd

    (user_id,) = key
    n, mn, mx = state.get() if state.exists else (0, None, None)
    for pdf in pdf_iter:
        ts_ms = (pdf["ts"].astype("int64") // 1_000_000).tolist()
        n += len(pdf)
        lo, hi = min(ts_ms), max(ts_ms)
        mn = lo if mn is None else min(mn, lo)
        mx = hi if mx is None else max(mx, hi)
    state.update((n, mn, mx))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "first_ms": [mn], "last_ms": [mx]}
    )


@query(
    "stream_stateful",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(epoch_us(min(ts)) // 1000 AS BIGINT) AS first_ms,
           CAST(epoch_us(max(ts)) // 1000 AS BIGINT) AS last_ms
    FROM events GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful per-key processing via applyInPandasWithState:
    per-user running count + first/last event time, update mode.

    The state handle is the engine-managed per-key store (RocksDB-backed
    on a cluster); the update fn sees Arrow batches per key — the shape
    any custom sessionizer/feature-accumulator takes. Output is
    batch-equivalent here (single availableNow batch), so it carries a
    full oracle despite being a "non-SQL" operator.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    src = _stream_src(spark, sf_dir)
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("first_ms", LongType()),
            StructField("last_ms", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("mn", LongType()),
            StructField("mx", LongType()),
        ]
    )
    stateful = (
        _read_stream(spark, src)
        .select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_stats_fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    _drain(stateful, "mem_stream_stateful", "update",
           src_bytes=_dir_bytes(src), python_state=True)
    return spark.table("mem_stream_stateful")


@query(
    "stream_join",
    oracle="""
    SELECT s.event_id AS signup_id, p.event_id AS purchase_id, s.user_id,
           CAST((epoch_us(p.ts) - epoch_us(s.ts)) // 1000 AS BIGINT) AS delay_ms
    FROM events s JOIN events p
      ON s.user_id = p.user_id
     AND s.event_type = 'signup' AND p.event_type = 'purchase'
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 30 MINUTES
    """,
)
def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join: attribute each purchase to the signups
    of the same user within the preceding 30 minutes. Both sides are
    watermarked and the join condition carries the event-time range
    bound, so the state store can evict rows once the other side's
    watermark passes — the attribution-join shape (impressions x clicks)
    at its 100 TB scale: state is bounded by rate x window, not stream
    length.

    availableNow processes everything in one micro-batch, so the append
    output equals the batch range join — hence a full oracle (integer-
    microsecond delay arithmetic, bit-exact both engines).
    """
    src = _stream_src(spark, sf_dir)
    signups = (
        _read_stream(spark, src)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "30 minutes")
    )
    purchases = (
        _read_stream(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    joined = (
        signups.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("s_ts"))
            & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .select(
            "signup_id",
            "purchase_id",
            "user_id",
            ((F.unix_micros("p_ts") - F.unix_micros("s_ts")) / F.lit(1000))
            .cast("long")
            .alias("delay_ms"),
        )
    )
    _drain(joined, "mem_stream_join", "append", final_no_data_batch=False,
           src_bytes=2 * _dir_bytes(src))
    return spark.table("mem_stream_join")


@query(
    "stream_sink_parquet",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def stream_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming -> PARQUET TABLE sink via foreachBatch: each micro-batch
    appends with its batch_id available for idempotent writes — the
    pattern for streaming into a warehouse table when the built-in file
    sink's directory-commit log isn't enough (merges, compaction,
    multi-table fan-out).

    availableNow drains the source and terminates; the oracle checks the
    landed table equals the batch source exactly (exactly-once on this
    path: fresh checkpoint + overwrite-by-run).
    """
    import shutil

    src = _stream_src(spark, sf_dir)
    out = os.path.join(_run_scratch(), "stream_sink_parquet")
    shutil.rmtree(out, ignore_errors=True)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select("event_id", "user_id", "event_type", "value")
            .write.mode("append")
            .parquet(out)
        )

    _drain(_read_stream(spark, src), "stream_sink_parquet", "append", sink=write_batch)
    return spark.read.parquet(out)


_RATE_ROWS_PER_BATCH = 1000
_RATE_BATCHES = 3
_RATE_ADVANCE_MS = 60_000


@query(
    "stream_rate_source",
    oracle=f"""
    SELECT CAST(v % 10 AS BIGINT) AS bucket,
           COUNT(*) AS n,
           CAST(MIN(v) AS BIGINT) AS lo,
           CAST(MAX(v) AS BIGINT) AS hi,
           CAST(SUM(v) AS BIGINT) AS total,
           CAST(MAX({_RATE_ADVANCE_MS} * (v // {_RATE_ROWS_PER_BATCH})) AS BIGINT)
             AS last_ts_ms
    FROM (SELECT CAST(range AS BIGINT) AS v
          FROM range(0, {_RATE_BATCHES * _RATE_ROWS_PER_BATCH}))
    GROUP BY 1
    """,
)
def stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATOR (non-file) streaming source: ``rate-micro-batch``, the
    deterministic rate source — batch *i* carries values
    [i*rowsPerBatch, (i+1)*rowsPerBatch) with event time startTimestamp +
    i*advanceMillisPerBatch. Round-2 VERDICT flagged "all six stream keys
    use the directory file source" as a bounded gap; this closes it with
    a full oracle, which only works because rate-micro-batch (unlike
    ``rate``) is wall-clock-free.

    The source is unbounded, so the drain bound comes from the trigger:
    under ``availableNow`` rate-micro-batch serves exactly one batch per
    run, and ``_RATE_BATCHES`` drains resuming one checkpoint land
    batches 0 .. ``_RATE_BATCHES`` - 1 — no wall clock, no stop() race.
    """
    import shutil

    out = os.path.join(_run_scratch(), "stream_rate_source")
    shutil.rmtree(out, ignore_errors=True)

    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", _RATE_ROWS_PER_BATCH)
        .option("numPartitions", 4)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", _RATE_ADVANCE_MS)
        .load()
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select(
            F.col("value").alias("v"), F.unix_millis("timestamp").alias("ts_ms")
        ).write.mode("append").parquet(out)

    for run in range(_RATE_BATCHES):
        _drain(src, "stream_rate_source", "append", sink=write_batch, resume=run > 0)

    back = spark.read.parquet(out)
    return back.groupBy((F.col("v") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.sum("v").alias("total"),
        F.max("ts_ms").alias("last_ts_ms"),
    )


@query(
    "stream_restart_checkpoint",
    oracle="SELECT event_id, user_id, value FROM events",
)
def stream_restart_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT RECOVERY / exactly-once across restarts: run an
    availableNow stream over half the source files, then add the other
    half and RESTART from the SAME checkpoint — the second run must
    process only the files the offset log hasn't seen. This is the
    mechanics of every production incremental-ingest job (process
    yesterday's landing, die or stop, resume on today's).

    The proof is the oracle: output == events exactly. A restart that
    re-reads the first half doubles those rows (rows_match fails); one
    that misses new files drops rows. The two half-files are a one-time
    staged fixture; src/out/checkpoint are rebuilt fresh per invocation
    so the restart sequence is exercised every run.
    """
    import shutil

    def write_halves(p: str) -> None:
        e = load(spark, sf_dir, "events")
        os.makedirs(p)
        for idx in (0, 1):
            _write_one_file(
                e.filter(F.col("event_id") % 2 == idx), os.path.join(p, f"half{idx}.parquet")
            )

    stage = _materialize(write_halves, _fixture_dir("stream_restart_stage", sf_dir))

    src = os.path.join(_run_scratch(), "stream_restart_src")
    out = os.path.join(_run_scratch(), "stream_restart_out")
    for d in (src, out):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select("event_id", "user_id", "value").write.mode("append").parquet(out)

    # first run sees only half0; the restart's offset log skips half0
    # and processes only half1
    for idx in (0, 1):
        name = f"half{idx}.parquet"
        shutil.copy(os.path.join(stage, name), os.path.join(src, name))
        _drain(_read_stream(spark, src), "stream_restart_checkpoint", "append",
               sink=write_batch, resume=idx > 0)
    return spark.read.parquet(out)


@query(
    "stream_foreach_upsert",
    oracle="""
    SELECT user_id,
           event_id AS last_event_id,
           CAST(epoch_us(ts) AS BIGINT) AS last_ts_us,
           event_type AS last_type,
           value AS last_value
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) t
    WHERE rn = 1
    """,
)
def stream_foreach_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: ``foreachBatch`` MERGEs each micro-batch into
    a keyed state table (latest event per user) — the standard Spark
    pattern for applying a change stream to a serving table when the sink
    has no native MERGE (with Delta/Iceberg the body becomes one
    ``MERGE INTO``; the orchestration is identical).

    Each batch: reduce the batch to latest-per-key, union with the
    current state, keep the per-key winner, atomically swap the state
    directory. Latest-per-key is associative over any batch split, so
    the final state is batch-boundary-independent — which is what makes
    the key hash-checkable against the batch oracle. State size is
    bounded by key cardinality (not stream length), the per-batch
    shuffle is on the scaling user_id key, and rewriting only the
    affected partitions (here: the whole tiny state) is the
    copy-on-write compaction real lakehouse MERGE does underneath.
    """
    import shutil

    src = _stream_src(spark, sf_dir)
    state = os.path.join(_run_scratch(), "upsert_state")
    shutil.rmtree(state, ignore_errors=True)

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        cur = batch_df
        if os.path.exists(os.path.join(state, "_SUCCESS")):
            cur = ss.read.parquet(state).unionByName(batch_df)
        tmp = state + ".tmp"
        latest(cur).write.mode("overwrite").parquet(tmp)
        if os.path.exists(state):
            shutil.rmtree(state)
        os.replace(tmp, state)

    # Half the wide source per trigger -> exactly TWO micro-batches, so
    # the union-with-existing-state merge path executes without paying a
    # per-file batch cascade.
    changes = _read_stream(
        spark, src, maxFilesPerTrigger=max(1, (_src_width(spark) + 1) // 2)
    ).select("user_id", "event_id", "ts", "event_type", "value")
    _drain(changes, "stream_foreach_upsert", "append", sink=merge)
    s = spark.read.parquet(state)
    return s.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("last_ts_us"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )



@query(
    "stream_state_introspect",
    oracle="""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes'
               AS window_end,
           event_type, COUNT(*) AS n_events
    FROM events GROUP BY 1, 2, 3
    """,
)
def stream_state_introspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE-STORE INTROSPECTION (Spark 4 State Data Source, public API):
    run a windowed streaming aggregation to completion, then read the
    checkpoint's state store DIRECTLY with
    ``spark.read.format("statestore")`` and reconstruct the aggregate
    from the raw (key, value) state rows — which must equal the batch
    aggregate the oracle computes over the same events.

    This is the ops surface a production streaming pipeline needs:
    inspecting what a stateful operator is actually holding (skewed
    keys, stuck windows, state bloat) without stopping the query or
    adding debug sinks. The hash check proves the introspected state is
    the aggregation state, not an approximation of it.

    100 TB shape: the state source reads each state-store partition
    independently (partition_id travels in the row) — a cluster-wide
    state audit is a parallel scan of the checkpoint, never a driver
    walk; at scale you filter to suspect key ranges and let partition
    pruning skip the rest.
    """
    src = _stream_src(spark, sf_dir)
    agg = (
        _read_stream(spark, src)
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    chk = _drain(agg, "mem_stream_state_introspect", "complete", src_bytes=_dir_bytes(src))
    state = spark.read.format("statestore").option("path", chk).load()
    return state.select(
        F.col("key.window.start").alias("window_start"),
        F.col("key.window.end").alias("window_end"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
    )


@query(
    "stream_rocksdb_state",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS value_sum
    FROM events GROUP BY 1, 2
    """,
)
def stream_rocksdb_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROCKSDB STATE BACKEND: the same windowed streaming aggregation,
    but with state held in embedded RocksDB instead of the default
    HDFS-backed in-heap map — THE production answer for state that
    outgrows executor memory (the default provider keeps every key in
    the JVM heap; RocksDB spills to local disk with changelog
    checkpointing so per-batch uploads ship deltas, not snapshots).
    Changelog checkpointing is enabled — the knob that makes commit
    cost proportional to the batch's updates rather than total state.

    The result must be byte-identical to the batch oracle — the
    backend is an operational choice, never a semantic one; that
    equivalence is exactly what this key hash-pins.
    """
    src = _stream_src(spark, sf_dir)
    rocksdb = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }
    with conf_scope(spark, rocksdb):
        agg = (
            _read_stream(spark, src)
            .groupBy(F.window("ts", "15 minutes"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "value_sum"))
            .select(
                F.col("window.start").alias("window_start"),
                "event_type",
                "n_events",
                "value_sum",
            )
        )
        _drain(agg, "mem_stream_rocksdb", "complete", src_bytes=_dir_bytes(src))
    return spark.table("mem_stream_rocksdb")


@query(
    "stream_dedup_within_watermark",
    oracle="SELECT event_id, event_type, ts FROM events",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` (Spark 3.5+) — dedup whose state
    EXPIRES: a key is suppressed only while it could still collide
    within the watermark horizon, then its state is evicted — unlike
    plain ``dropDuplicates`` (stream_dedup), whose per-key state without
    a watermark column in the key set lives forever.  This is the
    correct dedup for at-least-once sources whose duplicates arrive
    CLOSE TOGETHER (retries, replays): state size tracks the horizon's
    key arrival rate, not all-time key cardinality — the difference
    between bounded and unbounded state at 100 TB/day.

    The fixture's duplicate pairs arrive within the horizon, so exactly
    one copy of each event survives and the batch oracle is the
    pre-duplication stream — semantics hash-pinned; the state-expiry
    behavior is the operational contract the API name encodes."""
    src = _stream_dup_src(spark, sf_dir)
    dedup = (
        _read_stream(spark, src)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type", "ts")
    )
    _drain(
        dedup, "mem_stream_dedup_wm", "append", final_no_data_batch=False,
        src_bytes=_dir_bytes(src),
    )
    return spark.table("mem_stream_dedup_wm")


def _zscore_state_fn(key, pdf_iter, state):
    """applyInPandasWithState update fn for stream_zscore: per-user
    EXPANDING exact-integer moments (n, sum, sum-of-squares of cents);
    each event is scored against the moments of strictly-earlier events
    (event-time order, event_id tiebreak), then folded in.  All state
    arithmetic is python int (exact); the z-score is the same
    numerator/sqrt/divide IEEE sequence the batch twin and the oracle
    evaluate, so outputs are bit-identical."""
    import math

    import pandas as pd

    (user_id,) = key
    n, s, ss = state.get() if state.exists else (0, 0, 0)
    out_eid, out_ts, out_x, out_n, out_z, out_a = [], [], [], [], [], []
    # Accumulate the key's WHOLE batch before sorting: pdf_iter chunks
    # at the Arrow batch size (~10k rows), and a per-chunk sort would
    # silently break global event-time order once a user exceeds one
    # chunk — exactly what the first sf1 rung caught (66k events/user:
    # prefix moments off by the cross-chunk reordering; sf0.01's 667
    # rows/user fit one chunk and hid it).
    rows = []
    for pdf in pdf_iter:
        ts_ms = (pdf["ts"].astype("int64") // 1_000_000).tolist()
        eids = pdf["event_id"].tolist()
        vals = pdf["value"].tolist()
        rows.extend(
            (t, e, math.floor(v * 100 + 0.5)) for t, e, v in zip(ts_ms, eids, vals)
        )
    rows.sort()
    for t, e, x in rows:
        var_n2 = n * ss - s * s
        if n >= 5 and var_n2 > 0:
            z = (x * n - s) / math.sqrt(float(var_n2))
            anom = (x * n - s) * (x * n - s) > 9 * var_n2
        else:
            z, anom = None, False
        out_eid.append(e)
        out_ts.append(t)
        out_x.append(x)
        out_n.append(n)
        out_z.append(z)
        out_a.append(anom)
        n += 1
        s += x
        ss += x * x
    state.update((n, s, ss))
    yield pd.DataFrame(
        {
            "user_id": [user_id] * len(out_eid),
            "event_id": out_eid,
            "ts_ms": out_ts,
            "value_cents": out_x,
            "n_prefix": out_n,
            "zscore": out_z,
            "is_anomaly": out_a,
        }
    )


@query(
    "stream_zscore",
    oracle="""
    WITH ev AS (
        SELECT event_id, user_id,
               CAST(epoch_us(ts) // 1000 AS BIGINT) AS ts_ms,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events),
    w AS (
        SELECT event_id, user_id, ts_ms, cents,
               COUNT(*) OVER win AS n_w,
               SUM(cents) OVER win AS s_w,
               SUM(cents * cents) OVER win AS ss_w
        FROM ev
        WINDOW win AS (PARTITION BY user_id ORDER BY ts_ms, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT user_id, event_id, ts_ms, cents AS value_cents,
           CAST(n_w AS BIGINT) AS n_prefix,
           CASE WHEN n_w >= 5 AND n_w * ss_w - s_w * s_w > 0
                THEN (cents * n_w - s_w)
                     / SQRT(CAST(n_w * ss_w - s_w * s_w AS DOUBLE))
           END AS zscore,
           COALESCE(
               n_w >= 5 AND n_w * ss_w - s_w * s_w > 0
               AND (cents * n_w - s_w) * (cents * n_w - s_w)
                   > 9 * (n_w * ss_w - s_w * s_w),
               FALSE) AS is_anomaly
    FROM w
    """,
)
def stream_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING anomaly scoring — the stateful twin of
    win_anomaly_zscore: each event is z-scored against its own user's
    EXPANDING event-time prefix (count/sum/sum-of-squares of cents held
    as exact int64 state per user), so the stream emits a scored row
    per event as it arrives, with no reprocessing.  This is the custom
    stateful NUMERIC operator shape (online feature/monitoring
    pipelines) beside stream_stateful's counter shape.

    Batch-equivalent, hence the full oracle: one availableNow batch in
    event-time order produces exactly the UNBOUNDED-PRECEDING window
    twin.  The determinism proof is the batch key's — exact integer
    moments (python ints in the state fn, int64 window sums in the
    oracle), z = one IEEE divide of one IEEE sqrt, flag compared in
    integers.  Oracle int64 bound: n*ss <= (n*max_cents)^2 needs
    per-user prefix < ~93k events at this fixture's value range —
    holds through sf1 (66k/user); the streaming state itself is python
    int (unbounded).

    At scale: state is 3 longs per user (RocksDB-backed on a cluster);
    per-batch work is one sort of the batch's rows per key — the
    watermark-less expanding semantic matches monitoring pipelines that
    never close a user's history."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    src = _stream_src(spark, sf_dir)
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("ts_ms", LongType()),
            StructField("value_cents", LongType()),
            StructField("n_prefix", LongType()),
            StructField("zscore", DoubleType()),
            StructField("is_anomaly", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", LongType()),
            StructField("ss", LongType()),
        ]
    )
    scored = (
        _read_stream(spark, src)
        .select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _zscore_state_fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    _drain(scored, "mem_stream_zscore", "update",
           src_bytes=_dir_bytes(src), python_state=True)
    return spark.table("mem_stream_zscore")
