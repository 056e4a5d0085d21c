"""SparkSession factory tuned for the transcript log pipeline.

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

from pyspark.sql import SparkSession

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
        # The tradeoff is two waves of Python-UDF tasks, and each Python
        # task pays a fixed 0.28-0.44 s start-up at local[4] (the worker
        # re-reads every zip on its sys.path per task). On a small input
        # that fixed cost outweighs the balance, so the Python stages
        # collapse to one wave below parse.ONE_WAVE_MAX_BYTES (40k turns:
        # 21% less wall time); the 1.6M-turn corpus keeps its 2x split.
        .config("spark.sql.files.minPartitionNum", str(2 * int(cpus_for_splits)))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
