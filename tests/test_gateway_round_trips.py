"""Driver-side plan building stays cheap in py4j round trips.

The ingest unpivot and the slot resampling are built as Spark SQL text
(sqltext), which the JVM parses once, instead of trees of PySpark
``Column`` calls at several gateway round trips each. These budgets count
gateway commands, which do not depend on the host, so they pin that
choice: a return to per-call ``Column`` building (measured at about
1,200 commands for the histogram unpivot and 2,200 for the compile) fails
them. The unpivot ceiling is about twice its measured count; the compile
ceiling is about 25 % above its measured count, since the series keys,
the group keys and the grid are SQL text too (741 commands before).
"""

import contextlib
import gc
import threading

from py4j.clientserver import ClientServerConnection

from prometheus_parquet_server_spark.operators.grid import RegularTimeRange
from prometheus_parquet_server_spark.plans.compiler import run_query
from prometheus_parquet_server_spark.sources import wide_to_long
from tests.conftest import long_frame
from tests.test_ingest import histo_pdf


@contextlib.contextmanager
def gateway_commands(monkeypatch):
    """Count the py4j commands the calling thread sends inside the block
    (``n[0]``). The cyclic GC is held off so that no deferred JVM object
    release lands in it, and py4j's own garbage-collection thread is not
    counted: it sends the releases of proxies that earlier code dropped
    whenever it runs (once 112 of them inside a 19-command block)."""
    n = [0]
    send = ClientServerConnection.send_command
    caller = threading.current_thread()

    def counted(self, command):
        n[0] += threading.current_thread() is caller
        return send(self, command)

    gc.collect()
    gc.disable()
    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    try:
        yield n
    finally:
        monkeypatch.undo()
        gc.enable()


def test_wide_to_long_histogram_round_trips(spark, monkeypatch):
    wide = spark.createDataFrame(histo_pdf(with_inf=True))
    wide_to_long(wide, "m_duration", {"dc": "ams"})  # first-call set-up
    with gateway_commands(monkeypatch) as n:
        wide_to_long(wide, "m_duration", {"dc": "ams"})
    assert n[0] <= 40, n[0]  # measured 19


def test_compile_selector_sum_round_trips(spark, monkeypatch):
    rows = [
        ("http_requests", {"host": h, "method": m}, 15.0 * i, float(i))
        for h in ("a", "b") for m in ("GET", "PUT") for i in range(8)
    ]
    coll = long_frame(spark, rows)
    grid = RegularTimeRange(0.0, 105.0, 15.0)
    q = "sum by (host) (http_requests)"
    run_query(spark, coll, q, grid)  # first-call set-up
    with gateway_commands(monkeypatch) as n:
        run_query(spark, coll, q, grid)
    assert n[0] <= 275, n[0]  # measured 220
