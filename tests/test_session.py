"""Driver-side cost of building DataFrame expressions. With PySpark's
per-call origin capture on, every wrapped call (``F.col``, each Column and
DataFrame method) walks the Python stack and sends its call site to the JVM
over py4j; ``get_spark`` turns it off."""

from __future__ import annotations

DEBUG_CONF = "spark.python.sql.dataFrameDebugging.enabled"


def _round_trips_for_20_cols(monkeypatch, capture: bool | None) -> int:
    """py4j calls made while building 20 ``F.col("a")``. PySpark caches the
    debug flag per process at its first wrapped call; ``capture=None``
    clears that cache so it is refilled from the session conf before
    counting, a bool sets it directly."""
    import pyspark.errors.utils as error_utils
    from py4j.clientserver import ClientServerConnection
    from pyspark.sql import functions as F

    monkeypatch.setattr(error_utils, "_enable_debugging_cache", capture)
    F.col("a")
    calls = 0
    send = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        nonlocal calls
        calls += 1
        return send(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        for _ in range(20):
            F.col("a")
    return calls


def test_column_building_skips_origin_capture(spark, monkeypatch):
    """Measured on 4 vCPUs: 60 round trips for 20 columns with the capture
    off, 260 with it on. The conf is pinned by name and read through
    PySpark's own flag, so a PySpark upgrade that renames it turns the
    capture back on and fails here. The conf is static, so the capture-on
    count sets PySpark's cached flag instead."""
    assert spark.conf.get(DEBUG_CONF) == "false"
    assert _round_trips_for_20_cols(monkeypatch, None) <= 3 * 20
    # the bound above would not notice a capture this count could not see
    assert _round_trips_for_20_cols(monkeypatch, True) > 6 * 20
