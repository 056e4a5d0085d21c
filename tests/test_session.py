"""Session and distribution set-up. Driver-side cost of building DataFrame
expressions: with PySpark's per-call origin capture on, every wrapped call
(``F.col``, each Column and DataFrame method) walks the Python stack and
sends its call site to the JVM over py4j; ``get_spark`` turns it off. The
default core count comes from the host, and each process ships its own
package archive."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
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


def _python(code: str, env: dict) -> str:
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env, capture_output=True, text=True
    )
    assert out.returncode == 0, out.stderr
    return out.stdout.strip()


def test_cpus_default_to_the_host():
    """With ``SPARK_GRAFT_CPUS`` unset, the default local master and its
    shuffle width take the host's cores; set, the variable wins."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    code = "import os, cca_spark.session as s; print(s.CPUS, os.cpu_count())"
    cpus, host = _python(code, env).split()
    assert cpus == host
    assert _python(code, {**env, "SPARK_GRAFT_CPUS": "3"}).split()[0] == "3"


def test_build_zip_default_path_is_per_process():
    """Two processes never share the default archive, and a process's
    archive goes when it exits."""
    from cca_spark.dist import build_zip

    other = _python("from cca_spark.dist import build_zip; print(build_zip())", dict(os.environ))
    mine = build_zip()
    assert other != mine
    assert os.path.exists(mine)
    assert not os.path.exists(other)
