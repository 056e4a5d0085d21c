"""One benchmark process: a fresh Spark session driving one workload.

Started by run.py, which has already generated the corpus and the expected
results. The worker

1. builds a ``local[cores]`` session through ``cca_spark.session.get_spark``;
2. warms up until two consecutive jobs agree, at most ``WARMUP_MAX`` jobs
   (setup ends there);
3. runs the workload's job in a closed loop, one at a time, until the
   requested seconds have passed (at least one job), checking every job's
   output;
4. with ``--trace``: splits the seconds between the untraced session and a
   restarted one with the event log on (same JVM, so no second warm-up),
   which measures the traced wall time, runs the layer chain and rolls
   Spark's task metrics up per layer. Both sessions must fit in one run's
   time limit, so the untraced one warms up one job less.

It writes one JSON result file and exits.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
import oracle  # noqa: E402
import proctree  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

WARMUP_AGREE = 0.10  # consecutive warm-up walls within 10% = steady state
WARMUP_MAX = 2  # caps setup: every run, traced or not, must fit the scored time budget
LAYER_METRICS = (
    "self_s", "task_s", "jvm_cpu_s", "py_wait_s", "gc_s",
    "shuffle_write_mb", "spill_mb", "rows_out", "task_skew",
)  # fmt: skip


class Bench:
    """A workload bound to its corpus, expected results and scratch space."""

    def __init__(self, wl: Workload, args: argparse.Namespace):
        self.wl = wl
        self.args = args
        self.work = os.path.join(args.scratch, "job")
        with open(os.path.join(args.corpus, f"_expected_{wl.name}.json")) as f:
            self.want = json.load(f)
        self.digest_path = os.path.join(args.corpus, f"_reference_{wl.name}.json")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.last_out: dict = {}

    def session(self, traced: bool):
        from cca_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.args.scratch, "spark-local"),
        }
        if traced:
            log_dir = os.path.join(self.args.scratch, "eventlog")
            shutil.rmtree(log_dir, ignore_errors=True)
            os.makedirs(log_dir)
            conf |= eventlog.EVENT_LOG_CONF | {"spark.eventLog.dir": "file://" + log_dir}
        return get_spark(
            app_name=f"perfbench-{self.wl.name}",
            master=f"local[{self.args.cores}]",
            extra_conf=conf,
        )

    def _fresh_work(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)

    @staticmethod
    def _release(spark) -> None:
        # as bench.py: free dropped checkpoints and cached tables between jobs
        gc.collect()
        spark._jvm.System.gc()
        spark.catalog.clearCache()

    def check(self, out: dict) -> list[str]:
        name = self.wl.name
        if name == "report":
            return oracle.check_report(out["rows"], self.want)
        if name == "ingest":
            return oracle.check_ingest(out, self.want)
        reference = None
        if os.path.exists(self.digest_path):
            with open(self.digest_path) as f:
                reference = json.load(f)
        errors = oracle.check_near_dup(out, self.want, reference)
        if reference is None and not errors:
            with open(self.digest_path + ".tmp", "w") as f:
                json.dump(out["digests"], f)
            os.replace(self.digest_path + ".tmp", self.digest_path)
        return errors

    def job(self, spark, t) -> tuple[float, float, list[str]]:
        """One timed, checked job: ``(wall_s, cpu_s, errors)``."""
        self._fresh_work()
        pid = os.getpid()
        cpu0 = proctree.tree_cpu_s(pid)
        t0 = time.perf_counter()
        try:
            state = self.wl.run(spark, t, self.work)
            wall, cpu = time.perf_counter() - t0, proctree.tree_cpu_s(pid) - cpu0
            self.last_out = self.wl.collect(spark, state, self.work)
        except Exception:  # a failed job is counted, not fatal
            wall, cpu = time.perf_counter() - t0, 0.0
            errors = [traceback.format_exc(limit=3)]
        else:
            errors = self.check(self.last_out)
        self._count(errors)
        self._release(spark)
        print(f"perfbench: {self.wl.name} job {self.attempted}: {wall:.3f} s", file=sys.stderr)
        return wall, cpu, errors

    def _count(self, errors: list[str]) -> None:
        self.attempted += 1
        self.failed += bool(errors)
        self.errors += errors

    def warm_up(self, spark, t, max_jobs: int) -> int:
        walls: list[float] = []
        while len(walls) < max_jobs:
            walls.append(self.job(spark, t)[0])
            if len(walls) >= 2 and abs(walls[-1] - walls[-2]) <= WARMUP_AGREE * max(walls[-2:]):
                break
        return len(walls)

    def measure(self, spark, t, seconds: float) -> tuple[list[float], list[float], float]:
        walls, cpus = [], []
        start = time.perf_counter()
        with proctree.RssSampler(os.getpid()) as rss:
            while not walls or time.perf_counter() - start < seconds:
                wall, cpu, _ = self.job(spark, t)
                walls.append(wall)
                cpus.append(cpu)
        return walls, cpus, rss.peak_mb

    def layer_chain(self, spark, t) -> dict[str, dict]:
        """Materialise every layer prefix under its tag; wall time and rows."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        sc = spark.sparkContext
        walls: dict[str, dict] = {}
        for layer in self.wl.layers:
            self._fresh_work()
            self._release(spark)
            sc.setJobDescription(layer.name)
            t0 = time.perf_counter()
            if layer.build is None:
                state = self.wl.run(spark, t, self.work)
                wall = time.perf_counter() - t0
                sc.setJobDescription(None)
                out = self.wl.collect(spark, state, self.work)
                self._count(self.check(out))
                self.last_out = out
                rows = out["rows_out"]
            else:
                obs = Observation(layer.name)
                df = layer.build(spark, t, self.work).observe(obs, F.count(F.lit(1)).alias("n"))
                df.write.format("noop").mode("overwrite").save()
                wall = time.perf_counter() - t0
                sc.setJobDescription(None)
                rows = obs.get["n"]
            walls[layer.name] = {"wall": wall, "rows": rows}
        self._release(spark)
        return walls


def layer_metrics(wl: Workload, walls: dict[str, dict], tags: dict) -> dict[str, float]:
    """Self numbers per layer: its prefix's minus its parent prefix's."""
    empty = eventlog.TagTotals()
    out: dict[str, float] = {}
    for layer in wl.layers:
        mine, parent = tags.get(layer.name, empty), tags.get(layer.parent, empty)
        for m in ("task_s", "jvm_cpu_s", "py_wait_s", "gc_s", "shuffle_write_mb", "spill_mb"):
            out[f"{layer.name}.{m}"] = getattr(mine, m) - getattr(parent, m)
        parent_wall = walls[layer.parent]["wall"] if layer.parent else 0.0
        out[f"{layer.name}.self_s"] = walls[layer.name]["wall"] - parent_wall
        out[f"{layer.name}.rows_out"] = walls[layer.name]["rows"]
        out[f"{layer.name}.task_skew"] = mine.task_skew
    return out


def run_phase(bench: Bench, traced: bool, seconds: float, warmup_max: int) -> dict:
    from cca_spark.bench_corpus import read_bench_corpus

    spark = bench.session(traced)
    try:
        t = read_bench_corpus(spark, bench.args.corpus)
        warmups = bench.warm_up(spark, t, warmup_max)
        setup_done = time.time()
        walls, cpus, peak = bench.measure(spark, t, seconds)
        phase = {
            "n_turns": bench.want["n_turns"],
            "warmups": warmups,
            "setup_done": setup_done,
            "walls": walls,
            "cpus": cpus,
            "peak_rss_mb": peak,
        }
        if traced:
            phase["layer_walls"] = bench.layer_chain(spark, t)
    finally:
        spark.stop()
    if traced:
        tags = eventlog.rollup(eventlog.event_log_file(os.path.join(bench.args.scratch, "eventlog")))
        phase["layers"] = layer_metrics(bench.wl, phase.pop("layer_walls"), tags)
    return phase


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    bench = Bench(WORKLOADS[args.workload], args)
    if not args.trace:
        result: dict = {"untraced": run_phase(bench, False, args.seconds, WARMUP_MAX)}
    else:
        seconds = args.seconds / 2
        result = {
            "untraced": run_phase(bench, False, seconds, WARMUP_MAX - 1),
            "traced": run_phase(bench, True, seconds, 0),
        }
        if bench.wl.name == "ingest":
            result["manifest"] = {
                k: bench.last_out[k] for k in ("files", "output_mb")
            } | {"partitions_skipped": bench.last_out["wave2"]["skipped"]}
    result |= {"attempted": bench.attempted, "failed": bench.failed, "errors": bench.errors}
    with open(args.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
