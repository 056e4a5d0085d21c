"""The one measurement harness (``cca_spark.metrics``): a block's rollup of
Spark's own task metrics, ``bench.py``'s output line, and a guard that
keeps stopwatches out of the scripts."""

from __future__ import annotations

import ast
import json
import subprocess
import sys
from pathlib import Path

from cca_spark import metrics
from tests.conftest import SF_SMOKE

REPO = Path(__file__).resolve().parent.parent
CLOCKS = {"time", "perf_counter", "perf_counter_ns", "monotonic", "monotonic_ns"}
# the stopwatch of the harness, and manifest.py's wall_ms, a stored lineage
# column of every committed partition
STOPWATCH_FILES = {"cca_spark/metrics.py", "cca_spark/plans/manifest.py"}

# bench.py's output line: every key and the type of its value
BENCH_KEYS = {
    "metric": str,
    "value": float,
    "unit": str,
    "queries": dict,
    "sf": str,
    "n_turns": int,
    "routed_turns_per_sec": float,
    "n_agg_rows": int,
    "cores": int,
    "replicas": int,
    "pipeline_pandas_trials": list,
    "codegen": dict,
    "task_metrics": dict,
}


def test_stage_rolls_up_its_own_stages(spark):
    """The private status-store calls are pinned here: a Spark upgrade
    that changes their shape fails this test, not a benchmark run."""
    sc = spark.sparkContext
    sc.setJobDescription("outer block")
    try:
        with metrics.stage(spark, "metrics test: six tasks") as m:
            assert sc.getLocalProperty("spark.job.description") == "metrics test: six tasks"
            spark.range(0, 1000, 1, 6).write.format("noop").mode("overwrite").save()
        assert sc.getLocalProperty("spark.job.description") == "outer block"
    finally:
        sc.setJobDescription(None)
    assert list(m) == list(metrics.FIELDS)
    assert m["n_tasks"] == 6
    assert m["task_s"] > 0 and m["wall_s"] > 0
    # each field is rounded to 3 places on its own
    assert abs(m["py_wait_s"] - (m["task_s"] - m["jvm_cpu_s"])) <= 0.002
    assert m["shuffle_write_mb"] == 0 and m["spill_mb"] == 0

    with metrics.stage(spark, "metrics test: no jobs") as idle:
        pass
    assert sc.getLocalProperty("spark.job.description") is None
    assert {k: v for k, v in idle.items() if k != "wall_s"} == dict.fromkeys(
        metrics.FIELDS[1:], 0
    )


def test_bench_line_keeps_its_contract(tmp_path):
    """One full ``bench.py`` run at sf0.001 from a foreign cwd (about 50 s
    at local[4])."""
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py"), "--sf-dir", SF_SMOKE, "--replicas", "1"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = json.loads(out.stdout.strip().splitlines()[-1])
    assert {k: type(v) for k, v in line.items()} == BENCH_KEYS
    assert set(line["task_metrics"]) == set(line["queries"])
    assert len(line["queries"]) == 18
    for name, m in line["task_metrics"].items():
        assert list(m) == list(metrics.FIELDS), name
        assert m["wall_s"] == line["queries"][name], name
        assert m["n_tasks"] > 0, name
    assert line["value"] == min(line["pipeline_pandas_trials"])


def _clock_calls(path: Path) -> list[int]:
    """Lines of ``time.<clock>()`` and bare ``<clock>()`` calls."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and (
            isinstance(node.func, ast.Attribute)
            and node.func.attr in CLOCKS
            and getattr(node.func.value, "id", None) == "time"
            or isinstance(node.func, ast.Name)
            and node.func.id in CLOCKS - {"time"}
        )
    ]


def test_no_stopwatch_outside_the_harness():
    """Wall time is measured by ``metrics.stage`` alone."""
    paths = [
        *sorted(REPO.glob("bench*.py")),
        *sorted((REPO / "scripts").glob("*.py")),
        *sorted((REPO / "cca_spark").rglob("*.py")),
    ]
    calls = {str(p.relative_to(REPO)): _clock_calls(p) for p in paths}
    # the guard sees the one pair it allows
    assert len(calls["cca_spark/metrics.py"]) == 2
    stray = {p: lines for p, lines in calls.items() if lines and p not in STOPWATCH_FILES}
    assert not stray, stray
