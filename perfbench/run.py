#!/usr/bin/env python3
"""Seeded, oracle-checked benchmark of the cca_spark transcript pipeline.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload report --seed 1 --seconds 10 --trace 0

Workloads are ``report``, ``ingest`` and ``near_dup`` (see workloads.py).
``BENCHMARK.json`` scores ``report`` and ``near_dup``; ``ingest`` is run by
hand, because its runs do not fit the scored time budget next to the other
two. The run generates the seeded corpus and DuckDB's expected results (both
cached under ``.bench_build/perfbench/``, outside any timed region), then
starts one fresh worker process that builds a ``local[cores]`` Spark session
and runs the workload in a closed loop, checking every job.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the end-to-end
ones:

- ``setup_s``: worker process start until warm-up is done;
- ``wall_s``: median job wall time, input to complete result;
- ``turns_per_s``: corpus turns / ``wall_s``;
- ``cpu_s``: median CPU seconds one job costs the whole process tree
  (Python driver, JVM, Python workers);
- ``peak_rss_mb``: peak resident memory of that tree while jobs run.

With ``--trace 1`` they are the per-layer ones, ``<layer>.<metric>``, from a
second, traced session (event log on), plus ``trace.overhead``: traced over
untraced median wall time. Layers a workload does not run read 0.

``--cores 1`` gives the single-core reference run (not part of the scored
workloads). The exit code is 0 only when every job's output passed its check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.getcwd()
TIMEOUT_S = 165  # the whole run must end within 180 s


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group and wait for it:
    the JVM and the Python workers it forked are in the group too."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        members = [
            p for p in os.listdir("/proc") if p.isdigit() and _pgid(int(p)) == proc.pid
        ]
        if not members:
            return
        time.sleep(0.1)


def _pgid(pid: int) -> int | None:
    try:
        return os.getpgid(pid)
    except ProcessLookupError:
        return None


def end_to_end(phase: dict) -> dict:
    wall = statistics.median(phase["walls"])
    return {
        "wall_s": (wall, "s"),
        "turns_per_s": (phase["n_turns"] / wall, "1/s"),
        "cpu_s": (statistics.median(phase["cpus"]), "s"),
        "peak_rss_mb": (phase["peak_rss_mb"], "MB"),
    }


def per_layer(result: dict, all_layers: list[str]) -> dict:
    from worker import LAYER_METRICS

    traced = result["traced"]
    metrics = {f"{layer}.{m}": 0.0 for layer in all_layers for m in LAYER_METRICS}
    metrics |= traced["layers"]
    units = {"rows_out": "count", "task_skew": "ratio", "shuffle_write_mb": "MB", "spill_mb": "MB"}
    out = {k: (v, units.get(k.rsplit(".", 1)[1], "s")) for k, v in metrics.items()}
    if "manifest" in result:
        out["manifest.files"] = (result["manifest"]["files"], "count")
        out["manifest.partitions_skipped"] = (result["manifest"]["partitions_skipped"], "count")
        out["manifest.output_mb"] = (result["manifest"]["output_mb"], "MB")
    turns = traced["layers"].get("transcripts.rows_out", 0)
    parse_rows = traced["layers"].get("parse.rows_out", 0)
    out["parse.rows_per_turn"] = (parse_rows / turns if turns else 0.0, "ratio")
    overhead = statistics.median(traced["walls"]) / statistics.median(
        result["untraced"]["walls"]
    )
    out["trace.overhead"] = (overhead, "ratio")
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(CHECKOUT, "cca_spark")):
        _fail(f"no cca_spark package in {CHECKOUT}; run from the root of a checkout")
    sys.path[:0] = [CHECKOUT, HERE]
    from corpus import cache_root, corpus_glob, ensure_corpus
    from oracle import expected
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    corpus = ensure_corpus(CHECKOUT, args.seed, wl.n_events, wl.n_days)
    expected(wl.name, corpus_glob(corpus), corpus)

    # per-run scratch space: job outputs, event log, Spark and JVM temp files
    scratch = os.path.join(cache_root(CHECKOUT), "work", wl.name)
    shutil.rmtree(scratch, ignore_errors=True)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    result_path = os.path.join(scratch, "result.json")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [CHECKOUT, env.get("PYTHONPATH")]))
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count())  # shuffle width = host cores
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    env["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    env["TMPDIR"] = tmp  # keep every temporary file inside the checkout
    env["SPARK_SUBMIT_OPTS"] = " ".join(
        filter(None, [env.get("SPARK_SUBMIT_OPTS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"])
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", wl.name, "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(args.cores), "--corpus", corpus, "--scratch", scratch,
        "--result", result_path,
    ]  # fmt: skip
    # a terminated run still stops the worker's whole process group (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_spawn = time.time()
    proc = subprocess.Popen(
        cmd, cwd=scratch, env=env, stdout=subprocess.DEVNULL, stderr=sys.stderr,
        start_new_session=True,
    )  # fmt: skip
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(proc)
    if code != 0 or not os.path.exists(result_path):
        _fail(f"worker {'timed out' if code is None else f'exited with {code}'}")
    with open(result_path) as f:
        result = json.load(f)

    untraced = result["untraced"]
    if args.trace:
        # the per-layer metric set: every layer of every scored workload
        scored = [w for w in WORKLOADS.values() if w.scored] + [wl]
        all_layers = list(dict.fromkeys(layer.name for w in scored for layer in w.layers))
        metrics = per_layer(result, all_layers)
    else:
        metrics = end_to_end(untraced)
        metrics["setup_s"] = (untraced["setup_done"] - t_spawn, "s")
    for err in result["errors"]:
        print(f"perfbench: check failed: {err}", file=sys.stderr)
    line = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
