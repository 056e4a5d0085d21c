"""ROUTE — tag dispatch to per-category sinks, skew-aware.

Reference analog: the change classifier routes raw edits into ~60 named
categories and reports unclassified ones separately
(/root/reference/src/ast/analyzing/langs/java/java_change.ml:519-782,
change_base.ml:951-956); per-key fact buffers write one file per category
(/root/reference/src/ast/analyzing/common/fact_base.ml:33-47,181-198).

Spark mapping: the sink is a column (assigned by the rule bank at parse
time, overridden to ``dead_letter`` for unknown tools); fan-out is one
partitioned write — ``partitionBy("sink", "date_bucket")`` — not N filtered
jobs; files per leaf are bounded by AQE's advisory partition size, not a
fixed salt (``write_sinks``). Hot conversations in the compute stages (the
reference's "huge node" special-case,
/root/reference/src/ast/analyzing/diffast.ml:294-305) are defused by a
salted repartition that spreads one conv's rows over ``n_salts`` tasks;
the salt never reaches a key of any order-sensitive window (the
``(conv_id, turn_idx)`` ordering invariant is enforced on unsalted keys).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from cca_spark.rules import DEAD_LETTER_SINK


def route_facts(enriched: DataFrame) -> DataFrame:
    """Final sink assignment: unknown-tool invocations -> dead_letter."""
    return enriched.withColumn(
        "sink",
        F.when(
            (F.col("sink") == "tool_invocation") & F.col("category").isNull(),
            F.lit(DEAD_LETTER_SINK),
        ).otherwise(F.col("sink")),
    )


def salted_repartition(df: DataFrame, n_salts: int = 16) -> DataFrame:
    """Deterministic salt from the entity key (NOT rand() — set equality
    across cluster sizes requires every row to land deterministically).

    ``repartition(conv_id, salt)`` splits a hot conversation across up to
    ``n_salts`` partitions while keeping co-location for everyone else.
    Fact streams salt on entity_id; raw transcripts on (conv_id, turn_idx).
    """
    if "entity_id" in df.columns:
        salt_src = F.xxhash64("entity_id")
    else:  # raw transcripts: the stable natural key is (conv_id, turn_idx)
        salt_src = F.xxhash64("conv_id", "turn_idx")
    salted = df.withColumn("_salt", F.pmod(salt_src, F.lit(n_salts)))
    return salted.repartition(F.col("conv_id"), F.col("_salt")).drop("_salt")


# zstd writes fewer bytes than snappy at equal-or-better wall on local disk
FANOUT_MAX_RECORDS_PER_FILE = 1_000_000
FANOUT_COMPRESSION = "zstd"


def write_sinks(routed: DataFrame, out_dir: str, *metrics: Column) -> dict:
    """Fan-out write of a routed fact stream: one parquet tree under
    ``out_dir`` partitioned by ``(sink, date_bucket)``. Returns the rows
    written as ``n_facts`` plus the caller's named aggregate ``metrics``
    over the same rows.

    Reference: size-rotated per-category N-Triples shards
    (triple.ml:839-935, fact_size_threshold fact_options.ml:37);
    ``maxRecordsPerFile`` is the Spark-native size bound. At cluster scale
    this is an Iceberg ``append`` with the same partitioning.

    Overwrite is dynamic: only the ``(sink, date_bucket)`` partitions
    present in ``routed`` are replaced, so rewriting one day (a resumed
    ingest) leaves the other days in place. The tradeoff is a staging
    directory and a rename per written partition, which static overwrite
    of a whole fresh directory would skip. Readers select partitions by
    column name, so the directory nesting order is not part of the
    contract.

    The stream is clustered by ``REBALANCE(sink, date_bucket)``: AQE packs
    small leaves into one task and splits a leaf above
    ``advisoryPartitionSizeInBytes`` over several, so a leaf is one file
    unless it is larger than that. The tradeoff: the file count follows the
    data and the session's advisory size, not a constant.

    The observed counts are exact only while the ``Observation`` sits above
    the rebalance exchange, in the write's result stage, where Spark applies
    each task's accumulator update once; in the map stage below it a re-run
    map task would count its rows twice."""
    obs = Observation()
    (
        routed.hint("rebalance", "sink", "date_bucket")
        .observe(obs, F.count(F.lit(1)).alias("n_facts"), *metrics)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", str(FANOUT_MAX_RECORDS_PER_FILE))
        .option("compression", FANOUT_COMPRESSION)
        .partitionBy("sink", "date_bucket")
        .parquet(out_dir)
    )
    return obs.get


# rows one salted task should hold: smaller splits hot conversations into
# more, shorter tasks at the price of more shuffle partitions
SALT_TARGET_ROWS_PER_TASK = 500


def skew_salt_plan(transcripts: DataFrame) -> DataFrame:
    """The salting *policy*: per-conversation salt counts derived from
    row counts (SURVEY §7.2 M3 — the reference special-cases "huge nodes"
    the same way, diffast.ml:294-305).

    ``n_salts = ceil(n_turns / SALT_TARGET_ROWS_PER_TASK)`` — normal
    conversations get 1 (stay co-located, no shuffle blow-up); hot ones
    are split into bounded tasks. One groupBy over the fact stream; the
    plan itself is conversations-sized and broadcastable back into
    ``salted_repartition``."""
    per = transcripts.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns"))
    return per.select(
        "conv_id",
        "n_turns",
        F.greatest(
            F.lit(1),
            (F.floor((F.col("n_turns") - 1) / F.lit(SALT_TARGET_ROWS_PER_TASK)) + 1),
        )
        .cast("int")
        .alias("n_salts"),
    )
