"""py4j round-trip budget for warm builds of the TPC-H keys.

Building a frame is driver-side Python that talks to the JVM one py4j
round trip at a time, so the round trips a warm build makes are its
construction cost.  Two engine settings keep that count down, and this
test fails if either is lost:

- ``spark.python.sql.dataFrameDebugging.enabled`` is off in
  ``session.DEFAULT_CONF``.  When on, PySpark wraps every DataFrame and
  Column API call with a call-site capture that costs several round
  trips of its own.
- ``sources.io.load`` returns one resolved scan frame per session and
  table-file version, so a repeated load resolves no data source and
  lists no files.

Only the calling thread's commands count: py4j sends the deletes of
Python-side references that went away from its own finalizer thread,
whenever it drains them.  Counted over every thread, three passes of
the same 22 builds gave 5,482 to 6,544 commands; the calling thread's
share was 3,555 every time.  The count also runs with ``gc`` disabled,
so no cyclic collection drops references in the middle of it.
"""

from __future__ import annotations

import gc
import threading

from py4j.clientserver import ClientServerConnection

import yc_data_proc_metadata_import_spark as engine

QUERIES = engine.queries()

TPCH_KEYS = sorted(k for k in QUERIES if k == "flagship_pricing_summary" or k.startswith("tpch_q"))

# Round trips of a second warm build of all 22 TPC-H keys, summed, with
# ~10% headroom.  Measured with PySpark 4.1.2: 3,555 with both settings
# at sf0.001 and sf0.01; at sf0.001, 4,415 with call-site capture off
# alone and 11,435 with neither.
MAX_ROUND_TRIPS = 3_900


def round_trips(monkeypatch, fn) -> int:
    """py4j commands the calling thread sends while ``fn()`` runs."""
    me = threading.get_ident()
    sent = 0
    send = ClientServerConnection.send_command

    def counted(self, command):
        nonlocal sent
        if threading.get_ident() == me:
            sent += 1
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counted)
        fn()
    return sent


def test_session_turns_off_call_site_capture(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_warm_tpch_build_round_trips(spark, sf_dir, monkeypatch):
    per_key = {}
    gc.collect()
    gc.disable()
    try:
        for key in TPCH_KEYS:
            QUERIES[key](spark, sf_dir)
            per_key[key] = round_trips(monkeypatch, lambda: QUERIES[key](spark, sf_dir))
    finally:
        gc.enable()
    total = sum(per_key.values())
    assert total <= MAX_ROUND_TRIPS, f"a warm TPC-H build made {total} py4j round trips: {per_key}"
