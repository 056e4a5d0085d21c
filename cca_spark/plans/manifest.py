"""Checkpoint/resume with per-partition lineage manifests.

Reference analog: CCA never recomputes a parse/diff — results are keyed by
content hash in cache dirs and probed before any work
(/root/reference/python/src/cca/ccautil/diffts.py:125-207,
astcore.ml:89-119); its task pool deletes completed task files so a
crashed run resumes from the remainder (tp.py:248-259).

Spark mapping (Iceberg-shaped, parquet-backed in this sandbox):

- the unit of work is an input partition (``date_bucket``) — the same
  granularity a production job gets from ``days(ts)`` Iceberg partitions;
- a **manifest table** records one lineage row per processed partition:
  input rows seen, facts routed per sink, wall time, run id;
- a run processes only unmanifested partitions; the data write uses
  dynamic partition overwrite so a crash between data-write and
  manifest-write re-runs that partition idempotently (write is atomic per
  partition, manifest is the commit record — the same two-phase discipline
  as Iceberg snapshot + metadata commit);
- metrics come from one aggregate over the routed output (observable in
  the manifest), mirroring CCA's per-pair ``stat``/``info`` sidecars
  (stat.ml:233-284).
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cca_spark.session import local_frame

MANIFEST_SCHEMA = (
    "date_bucket string, n_turns long, n_facts long, n_dead_letter long, "
    "wall_ms long, run_id string"
)


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def _facts_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "facts")


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """The manifest rows; empty only when no manifest was ever written.

    A missing ``_manifest`` directory means "nothing processed"; it is
    tested through the Hadoop ``FileSystem`` of the path, because a failed
    parquet read logs a full ``FileNotFoundException`` trace before it
    raises. Any read error of an existing manifest (a corrupt or unreadable
    file) propagates: reading it as empty would make ``run_with_resume``
    redo every partition and append duplicate manifest rows. The explicit
    schema makes an empty directory read as zero rows instead of failing
    schema inference."""
    path = _manifest_dir(out_dir)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    if not fs.exists(jpath):
        return local_frame(spark, [], MANIFEST_SCHEMA)
    return spark.read.schema(MANIFEST_SCHEMA).parquet(path)


def processed_partitions(spark: SparkSession, out_dir: str) -> set[str]:
    return {
        r["date_bucket"] for r in read_manifest(spark, out_dir).select("date_bucket").collect()
    }


def run_with_resume(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    max_partitions: int | None = None,
    transcripts: DataFrame | None = None,
) -> dict:
    """Process unmanifested date-buckets; return run metrics.

    ``max_partitions`` caps work per invocation (used by tests to simulate
    a crashed/partial run; in production it bounds a backfill wave).
    ``transcripts`` overrides the sf_dir derivation — used to resume over a
    STORED corpus (the bench-scale kill/resume evidence in BENCH.md reads
    the materialized 19.2M-turn table, as production reads Iceberg).
    """
    from cca_spark.operators.route import write_sinks
    from cca_spark.plans.pipeline import routed_facts
    from cca_spark.transcripts import load_transcripts

    t0 = time.time()
    run_id = uuid.uuid4().hex[:12]
    if transcripts is None:
        transcripts = load_transcripts(spark, sf_dir)
    transcripts = transcripts.withColumn(
        "date_bucket_in", F.col("ts").cast("date").cast("string")
    )

    all_parts = {
        r["date_bucket_in"]
        for r in transcripts.select("date_bucket_in").distinct().collect()
    }
    done = processed_partitions(spark, out_dir)
    pending = sorted(all_parts - done)
    if max_partitions is not None:
        pending = pending[:max_partitions]
    if not pending:
        return {"run_id": run_id, "processed": [], "skipped": len(done)}

    subset = transcripts.filter(F.col("date_bucket_in").isin(pending)).drop("date_bucket_in")
    routed = routed_facts(spark, subset).withColumn(
        "date_bucket", F.col("date_bucket").cast("string")
    )
    # dynamic partition overwrite => a re-run replaces only its own days
    write_sinks(routed, _facts_dir(out_dir))

    # lineage metrics from the committed output (read-back = what a
    # downstream consumer will see, not what we hoped we wrote)
    committed = spark.read.parquet(_facts_dir(out_dir)).filter(
        F.col("date_bucket").isin(pending)
    )
    per_part = (
        committed.groupBy("date_bucket")
        .agg(
            F.count("*").alias("n_facts"),
            F.sum(F.when(F.col("sink") == "dead_letter", 1).otherwise(0)).alias("n_dead_letter"),
        )
    )
    turns_per_part = (
        subset.withColumn("date_bucket", F.col("ts").cast("date").cast("string"))
        .groupBy("date_bucket")
        .agg(F.count("*").alias("n_turns"))
    )
    wall_ms = int((time.time() - t0) * 1000)
    manifest_rows = (
        turns_per_part.join(per_part, "date_bucket", "left")
        .select(
            "date_bucket",
            F.col("n_turns").cast("long"),
            F.coalesce(F.col("n_facts"), F.lit(0)).cast("long").alias("n_facts"),
            F.coalesce(F.col("n_dead_letter"), F.lit(0)).cast("long").alias("n_dead_letter"),
            F.lit(wall_ms).cast("long").alias("wall_ms"),
            F.lit(run_id).alias("run_id"),
        )
    )
    manifest_rows.write.mode("append").parquet(_manifest_dir(out_dir))
    return {"run_id": run_id, "processed": pending, "skipped": len(done)}


def read_facts(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(_facts_dir(out_dir))
