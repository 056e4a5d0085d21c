"""SparkSession factory tuned for the transcript log pipeline, and the one
way to build a small driver-side table (``local_frame``).

Local-mode knobs follow the public Spark tuning guidance: shuffle
partitions ~ cores, AQE on (skew-join splitting + partition coalescing),
Arrow enabled for all pandas-UDF exchange, UTC session timezone so results
compare bit-for-bit against a DuckDB oracle.

At cluster scale the same builder is used by ``spark-submit --py-files``;
only ``master`` and memory sizing change.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "cca_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so the same code
    runs unchanged under ``spark-submit`` on a real cluster (where the
    master comes from the submit command and this argument stays None).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    nshuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    # split sizing follows the ACTUAL master width (an explicit local[N]
    # master overrides $SPARK_GRAFT_CPUS)
    m = re.fullmatch(r"local\[(\d+|\*)\]", master)
    cpus_for_splits = (
        os.cpu_count() if m and m.group(1) == "*" else int(m.group(1)) if m else int(cpus)
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 50k-row Arrow batches: amortizes per-batch Python overheads
        # (vectorized anchor masks, partial-agg groupby, stream framing) —
        # measured 13.3s -> 11.1s on the fused pipeline at local[16],
        # 6.4M turns; ~10 MB/batch peak per worker
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        # NOT set: spark.sql.join.preferSortMergeJoin=false (guide §9's
        # baseline suggestion). Tried in r6 session 3 and REJECTED on
        # evidence: the opaque-kernel inputs carry no size stats, so the
        # static planner still picks SMJ, and AQE's SMJ->SHJ rewrite is
        # gated on maxShuffledHashJoinLocalMapThreshold (default 0 = off)
        # — captured final plans were byte-identical under both values.
        # A first A/B that "showed" a 15-30% win was an ordering artifact
        # (the second trial of each back-to-back pair always won; the
        # reversed-order rerun flipped the winner —
        # logs/ab_shj_out.json vs logs/ab_shj_reversed_out.json).
        .config("spark.ui.enabled", "false")
        # the console progress bar draws even with the UI off and floods
        # stdout that scripts and the bench emit as JSON
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # parquet writers: bound file sizes like the reference bounds its
        # N-Triples shards (fact_size_threshold,
        # /root/reference/src/ast/analyzing/common/fact_options.ml:37)
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Scans split at 2x task slots for straggler balance: with one split
        # per slot, the split holding the hot conversation carries ~15x the
        # parse work and the other cores idle behind it. Measured at
        # local[32], 1.6M turns: 32 splits 5.7-7.4 s, 64 splits 4.6 s
        # (±0.2%), 128 splits 7.6 s (per-batch overhead dominates).
        # The tradeoff is two waves of Python-UDF tasks, and each extra
        # wave costs every slot about 0.06 s before its function runs (at
        # local[4]: launch to function call plus the task's fixed run time;
        # submit to first launch is paid once per job, see
        # parse.ONE_WAVE_MAX_BYTES). On a small input that fixed cost
        # outweighs the balance, so the Python stages collapse to one wave
        # below parse.ONE_WAVE_MAX_BYTES; the 1.6M-turn corpus keeps its
        # 2x split.
        .config("spark.sql.files.minPartitionNum", str(2 * int(cpus_for_splits)))
        # Generated-code cache (static; Spark's default is 100 entries). A
        # job that cycles through more distinct generated classes than the
        # cache holds misses on every lookup of an LRU, so each run
        # recompiles them all in Janino and the JVM re-JITs the fresh
        # classes. Distinct classes per run, counted with codegen_counts
        # under a cache that holds them all: perfbench near_dup 147, report
        # 21, ingest 52, bench.py's battery 311 (sf0.01); 1000 leaves 3x
        # headroom over the largest. At the default
        # every warm near_dup job recompiled 130 classes, 1.6-1.8 s of
        # Janino and 3-5 s more JIT CPU than with this cache. The cost is
        # metaspace and code cache kept for up to 1000 loaded classes:
        # about 5 KB of metaspace per class (600 classes held 12.5 MB after
        # a full GC, 10.1 MB at the default). scripts/driver_sim.py builds
        # its own session; its one pass over the battery compiles 1071
        # classes, each query once, so it has no cycle to thrash.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # No per-call origin capture on the driver. With it on, PySpark
        # wraps F.col and every Column/DataFrame method so that each call
        # walks the Python stack, tries `import IPython` and sends the call
        # site to the JVM: building 20 F.col("a") took 260 py4j round trips
        # with it and 60 without. A warm perfbench near_dup job made about
        # 6,200 round trips with it, and 2,200 without it and with one
        # statement per connected-components round. The tradeoff: an error
        # raised by a query no longer names the Python line that built the
        # failing expression; its error class and message stay. PySpark
        # reads this flag once per Python process, at the first wrapped
        # call.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_counts(spark: SparkSession) -> tuple[int, float]:
    """``(classes, compile_ms)`` that this JVM's whole-stage and expression
    code generator has compiled with Janino since it started: each cache
    miss counts one class, a cache hit none."""
    jvm = spark._jvm
    classes = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return int(classes.getCount()), generator.compileTime() / 1e6


def local_frame(spark: SparkSession, rows: Iterable[Sequence], ddl: str) -> DataFrame:
    """A small driver-side table (``rows`` of tuples typed by ``ddl``) that
    plans as a JVM ``LocalRelation``.

    ``createDataFrame`` over a Python list plans as a ``LogicalRDD`` over a
    Python RDD: every query that reads it runs a job of
    ``defaultParallelism`` Python-worker tasks to ship a few rows. At
    local[4] the job waits 0.06-0.12 s from submit to its first task launch,
    and each task then spends 0.02-0.04 s from launch to the function call
    and 15-85 ms of run time, in a worker set up by ``pyworker.in_worker``
    (one that is not re-reads every zip on its sys.path per task, 0.24-0.41
    s more). An Arrow table under
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB) is sent to
    the JVM once and becomes a ``LocalRelation``, whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says, so reading it runs no
    Python task. The tradeoff is the Arrow build itself, 15-30 ms per call:
    a table read by many queries is built once and memoized."""
    schema = StructType.fromDDL(ddl)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)
