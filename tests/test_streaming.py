"""Streaming-specific invariants beyond oracle parity: the watermark key
must actually exercise the late-drop path (not just produce matching
output), the controlled three-batch fixture must split as designed, the
no-data-batch suppression (round-9 VERDICT task 2) must be applied only
where it is output-invariant, the generator source must run exactly
one micro-batch per drain, and the transformWithStateInPandas
environment gate must stay evidenced, not asserted.
"""

from __future__ import annotations

import contextlib
import importlib.util
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from yc_data_proc_metadata_import_spark import registry
from yc_data_proc_metadata_import_spark.streaming.stream_queries import (
    _RATE_BATCHES,
    _RATE_ROWS_PER_BATCH,
    _drain,
    _read_stream,
    _stream_dup_src,
    _stream_src,
    _stream_three_batch_src,
)


class _Progress(StreamingQueryListener):
    """Every micro-batch progress of the session, as the dicts
    ``StreamingQuery.recentProgress`` holds."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


@contextlib.contextmanager
def _progress(spark):
    """Collect the progress of every micro-batch run inside the block;
    the listener bus is drained before the block's list is complete."""
    listener = _Progress()
    spark.streams.addListener(listener)
    try:
        yield listener.events
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    finally:
        spark.streams.removeListener(listener)


def test_watermark_drops_late_rows(spark, sf_dir):
    src = _stream_three_batch_src(spark, sf_dir)
    agg = (
        _read_stream(spark, src, maxFilesPerTrigger=1, latestFirst=False)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    with _progress(spark) as progress:
        _drain(agg, "test_wm_drops", "append")
    # three data batches, in the constructed order
    data_batches = [p for p in progress if p["numInputRows"] > 0]
    assert len(data_batches) == 3, [p["numInputRows"] for p in progress]
    dropped = sum(
        op["numRowsDroppedByWatermark"] for p in progress for op in p["stateOperators"]
    )
    assert dropped > 0, "late batch was not dropped by the watermark"
    # drops happen only in the last (late) batch
    late = data_batches[-1]
    assert all(
        op["numRowsDroppedByWatermark"] == 0
        for p in data_batches[:-1]
        for op in p["stateOperators"]
    )
    assert sum(op["numRowsDroppedByWatermark"] for op in late["stateOperators"]) > 0


def test_no_data_batch_suppression_boundary(spark, sf_dir):
    """The final no-data micro-batch may be suppressed ONLY for operators
    that emit in-batch (dedup, stream-stream inner join) — suppression
    there is output-invariant; for append-mode AGGREGATIONS the no-data
    batch is what EMITS windows closed by the final watermark, so
    suppressing it loses rows. Pin both sides of that boundary so a
    future "optimization" can't widen the suppression past it."""
    src = _stream_src(spark, sf_dir)
    # The dedup half must read the DUPLICATED source (round-10 ADVICE):
    # on _stream_src every event_id is unique, dropDuplicates is a no-op,
    # and the with/without-suppression equality would hold even if
    # suppression wrongly dropped late-deduped output. _stream_dup_src is
    # what the production stream_dedup key dedups.
    dup_src = _stream_dup_src(spark, sf_dir)

    def dedup_rows(final_no_data_batch):
        df = (
            _read_stream(spark, dup_src)
            .withWatermark("ts", "10 minutes")
            .dropDuplicates(["event_id"])
            .select("event_id", "event_type", "ts")
        )
        name = f"test_nd_dedup_{int(final_no_data_batch)}"
        _drain(df, name, "append", final_no_data_batch=final_no_data_batch)
        return sorted(map(tuple, spark.table(name).collect()))

    with_nd_rows = dedup_rows(True)
    assert with_nd_rows == dedup_rows(False)  # suppression is invariant
    # sanity: the input really carried duplicates and they were dropped
    assert len(with_nd_rows) * 2 == spark.read.parquet(dup_src).count()

    def session_count(final_no_data_batch):
        agg = (
            _read_stream(spark, src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.session_window("ts", "5 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        name = f"test_nd_session_{int(final_no_data_batch)}"
        _drain(agg, name, "append", final_no_data_batch=final_no_data_batch)
        return spark.table(name).count()

    with_nd, without_nd = session_count(True), session_count(False)
    assert without_nd < with_nd, (
        "append-mode session aggregation no longer depends on the no-data "
        f"batch ({with_nd} vs {without_nd}) — re-evaluate the boundary"
    )


_HAS_PROTOBUF = importlib.util.find_spec("google") is not None and (
    importlib.util.find_spec("google.protobuf") is not None
)


def test_transform_with_state_gate(spark, sf_dir):
    """SURVEY SS2.11 evidence pin: ``transformWithStateInPandas`` is
    environment-gated because its Python state-server protocol
    (``pyspark.sql.streaming.proto.StateMessage_pb2``, imported by every
    value/list/map state-client method) hard-requires ``google.protobuf``,
    which this container does not ship and the build rules forbid
    installing. If a future container ships protobuf, this test FAILS
    instead of skipping — the signal to implement the key as the
    ``stream_stateful`` twin (round-9 VERDICT task 4)."""
    if _HAS_PROTOBUF:
        pytest.fail(
            "google.protobuf is now available — implement the "
            "transformWithStateInPandas twin of stream_stateful and "
            "register it (SURVEY SS2.11)"
        )
    with pytest.raises(ModuleNotFoundError, match="google"):
        import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401


def test_rate_source_runs_one_batch_per_drain(spark, sf_dir):
    """``stream_rate_source`` drains the generator source once per batch
    it keeps, so exactly ``_RATE_BATCHES`` micro-batches run, each a full
    batch — none past the kept set, which a drain that polls for batch
    ``_RATE_BATCHES`` and then stops the query always runs."""
    with _progress(spark) as progress:
        registry.QUERIES["stream_rate_source"](spark, sf_dir).collect()
    batches = [(p["batchId"], p["numInputRows"]) for p in progress]
    assert batches == [(i, _RATE_ROWS_PER_BATCH) for i in range(_RATE_BATCHES)]
