"""Benchmark corpus: the sf transcripts, deterministically replicated.

The scaling measurement needs enough work per core that fixed overheads
(session, planning, Arrow spin-up) don't dominate — sf0.1 alone is ~100k
turns (~seconds). ``replicated_transcripts`` multiplies the corpus R× by
cross-joining a literal replica index into conv_id: fully deterministic,
same bytes every run, no generated randomness (the turn text is identical
across replicas; conv identity differs, which is exactly the shape of many
concurrent conversations at production scale).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cca_spark.transcripts import TRANSCRIPT_DDL, load_transcripts

BENCH_CORPUS_BASE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_corpus")


# files of the stored bench corpus: fixed, so every parallelism level
# scans identical splits; more files mean smaller splits and more tasks
BENCH_CORPUS_FILES = 128


def ensure_bench_corpus(spark: SparkSession, sf_dir: str, replicas: int) -> str:
    """Materialize the replicated corpus to parquet once (idempotent).

    The north-rule input is a *stored* Iceberg table — timing the synthetic
    derivation would measure the generator, not the pipeline. The file
    count is ``BENCH_CORPUS_FILES``.
    """
    import hashlib

    from cca_spark.transcripts import TRANSCRIPTS_SQL

    # key the stored corpus on the derivation version too — template edits
    # must regenerate it, not silently reuse stale text. 's' = sorted layout.
    dv = hashlib.md5(TRANSCRIPTS_SQL.encode()).hexdigest()[:8]
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(BENCH_CORPUS_BASE, f"{tag}_r{replicas}_{dv}s")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        (
            replicated_transcripts(spark, sf_dir, replicas)
            .repartition(BENCH_CORPUS_FILES, "conv_id")
            # declared sort order, exactly as the production Iceberg table
            # would have (SORTED BY conv_id, turn_idx): conversations are
            # CONTIGUOUS in every file, so (a) per-conv windows read runs,
            # (b) an Arrow batch covers few convs and the kernel's
            # map-side partial aggregate actually compresses — unsorted
            # files interleave ~2k convs/batch and partials stop shrinking
            # (measured: 105M facts -> 34M partials unsorted at r192)
            .sortWithinPartitions("conv_id", "turn_idx")
            .write.mode("overwrite")
            .parquet(path)
        )
    return path


def read_bench_corpus(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(TRANSCRIPT_DDL).parquet(path)


def replicated_transcripts(
    spark: SparkSession, sf_dir: str, replicas: int = 16
) -> DataFrame:
    t = load_transcripts(spark, sf_dir)
    if replicas <= 1:
        return t
    reps = spark.range(replicas).select(F.col("id").alias("replica"))
    wide = (
        t.crossJoin(F.broadcast(reps))
        .withColumn("conv_id", F.concat_ws("#", "conv_id", F.col("replica").cast("string")))
        .drop("replica")
    )
    # The broadcast cross-join multiplies rows AFTER the derivation's window
    # exchange, whose AQE-coalesced width was sized on the PRE-replication
    # bytes — without an explicit repartition the 16x corpus would flow
    # through 1-2 tasks and extra cores would idle. Hash-partitioning on
    # conv_id restores scan-like parallelism (a real 10^12-turn Iceberg scan
    # arrives thousands-of-partitions wide on its own) and co-locates
    # conversations for the downstream per-conv windows.
    return wide.repartition(spark.sparkContext.defaultParallelism * 2, "conv_id")
