"""Per-block measurements read from Spark's own status store.

``stage`` runs a block of jobs under one job description and rolls up the
task metrics of every stage that ran under it: the same fields the layer
traces report, read from the live application instead of an event log.
The reference writes one stat/info sidecar per analysed pair
(stat.ml:233-284); this is the run-time counterpart for a named block of
Spark work.

The status store goes with its session: read a block's rollup before the
session that ran it stops. It keeps the last ``spark.ui.retainedStages``
(1000 by default) stages, so a block that runs more stages than that
undercounts.
"""

from __future__ import annotations

import gc
import time
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

FIELDS = (
    "wall_s",
    "n_tasks",
    "task_s",
    "jvm_cpu_s",
    "py_wait_s",
    "gc_s",
    "shuffle_write_mb",
    "spill_mb",
)


def _rollup(spark: SparkSession, name: str) -> dict:
    """Summed task metrics of the ``COMPLETE`` stages described as ``name``.
    Units in the store: run and GC time in ms, CPU time in ns, bytes."""
    jsc = spark.sparkContext._jsc.sc()
    # a task's metrics reach the store from the listener bus, which can
    # still hold the last stage's task ends when the block's action returns
    jsc.listenerBus().waitUntilEmpty()
    jvm = spark._jvm
    complete = jvm.java.util.List.of(jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages = jsc.statusStore().stageList(complete, False, False, no_quantiles, None)
    n_tasks = run_ms = cpu_ns = gc_ms = shuffle_b = spill_b = 0
    for s in jvm.scala.jdk.javaapi.CollectionConverters.asJava(stages):
        # description() is a Scala Option; an AQE-skipped stage has none
        desc = s.description()
        if not desc.isDefined() or desc.get() != name:
            continue
        n_tasks += s.numCompleteTasks()
        run_ms += s.executorRunTime()
        cpu_ns += s.executorCpuTime()
        gc_ms += s.jvmGcTime()
        shuffle_b += s.shuffleWriteBytes()
        spill_b += s.diskBytesSpilled()
    return {
        "n_tasks": n_tasks,
        "task_s": round(run_ms / 1e3, 3),
        "jvm_cpu_s": round(cpu_ns / 1e9, 3),
        "py_wait_s": round(run_ms / 1e3 - cpu_ns / 1e9, 3),
        "gc_s": round(gc_ms / 1e3, 3),
        "shuffle_write_mb": round(shuffle_b / 2**20, 3),
        "spill_mb": round(spill_b / 2**20, 3),
    }


@contextmanager
def stage(spark: SparkSession, name: str) -> Iterator[dict]:
    """Run the block's jobs with ``name`` as their job description, and
    fill the yielded dict with ``FIELDS`` once the block ends: its wall
    time and the rollup of its stages. The description in force before the
    block is restored. ``name`` should be new to the session, since stages
    an earlier block ran under the same name are summed in too."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty("spark.job.description")
    out: dict = {}
    sc.setJobDescription(name)
    t0 = time.perf_counter()
    try:
        yield out
    finally:
        wall = time.perf_counter() - t0
        sc.setJobDescription(outer)
    out["wall_s"] = round(wall, 3)
    out.update(_rollup(spark, name))


def release(spark: SparkSession) -> None:
    """Free what one measured block left behind before the next one runs.

    Dropped ``localCheckpoint`` and shuffle blocks are freed by the
    ContextCleaner on (weak-reference) GC, which otherwise lands in the
    middle of the next block: measured up to 2.6x inflation of the fan-out
    write while the range-containment fact stream was still resident.
    ``persist``-based caches (tfidf's lazy DISK_ONLY tf table) hold strong
    references that GC never frees, so the CacheManager is drained too.
    ``localCheckpoint``s are not in the CacheManager, so a checkpointed
    stage boundary survives this."""
    spark.catalog.clearCache()
    gc.collect()
    spark._jvm.System.gc()
