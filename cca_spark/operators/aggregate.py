"""AGGREGATE — two-phase group-bys, windows, rollups, sampling.

Reference analogs:
- per-pattern instance counts (find_change_patterns.py:1212-1224,1376-1385)
- hierarchical coverage rollup (find_change_patterns.py:1052-1125)
- top-k ranked report (find_change_patterns.py:965-966)
- per-group sample with cap (find_change_patterns.py:1340-1362)
- version chaining / successor facts (materialize_fact.py:66-89,
  java_fact.ml:56)

Spark runs every groupBy as partial (map-side) + final aggregation
natively — the "two-phase" requirement is free; the design work is keeping
grouping keys low-cardinality-safe and windows partitioned by conv_id so
state never exceeds one conversation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def agg_per_sink(routed: DataFrame) -> DataFrame:
    """The north-rule aggregate: per (sink, tool, date_bucket)."""
    return (
        routed.groupBy("sink", "tool", "date_bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("conv_id").alias("n_convs"),
        )
    )


def coverage_rollup(routed: DataFrame) -> DataFrame:
    """Hierarchical rollup sink -> (sink, rule_id) with grand total.

    Reference: identified/total coverage per file pair -> version pair ->
    project (find_change_patterns.py:1052-1125).
    """
    return (
        routed.rollup("sink", "rule_id")
        .agg(F.count("*").alias("n_rows"), F.sum("significance").alias("sig_sum"))
    )


# report sizes: patterns in the top-k report, facts sampled per
# (sink, date_bucket) group
TOP_K_PATTERNS = 10
SAMPLE_PER_GROUP = 5


def top_k_patterns(routed: DataFrame) -> DataFrame:
    """The ``TOP_K_PATTERNS`` patterns ranked by instance count
    (find_change_patterns.py:965-966).

    Deterministic tie-break on rule_id so the result set is stable across
    partitionings.
    """
    counts = routed.groupBy("rule_id", "sink").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("rule_id"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K_PATTERNS)
    )


def sample_per_group(routed: DataFrame) -> DataFrame:
    """Per-(sink, date_bucket) sample of at most ``SAMPLE_PER_GROUP`` facts.

    The reference uses seeded random.sample per version pair
    (find_change_patterns.py:1340-1362, seed at :63). A seeded rand() is
    NOT partition-stable in Spark, so determinism comes from ordering by a
    content hash instead — same statistical effect (md5 is uniform), fully
    reproducible on any cluster size, and expressible in the DuckDB oracle.
    """
    w = Window.partitionBy("sink", "date_bucket").orderBy(F.md5("entity_id"), F.asc("entity_id"))
    return (
        routed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_PER_GROUP)
        .drop("rn")
    )


def turn_ordering_check(transcripts: DataFrame) -> DataFrame:
    """North-rule ordering invariant (W5): within each conv_id, ordering by
    turn_idx must be a dense 0-based sequence; returns per-conv verdicts.

    row_number over (conv_id ORDER BY turn_idx) - 1 == turn_idx for every
    row <=> ordering is stable and gap-free.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    per_row = transcripts.withColumn("rn", F.row_number().over(w) - 1)
    return (
        per_row.groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.when(F.col("rn") == F.col("turn_idx"), 0).otherwise(1)).alias("n_order_violations"),
        )
    )


def successor_facts(transcripts: DataFrame) -> DataFrame:
    """W1/W2: chain each turn to its successor within the conversation.

    Reference: ``ver:next`` version chaining (materialize_fact.py:66-89)
    and ``java:successor`` sibling edges (java_fact.ml:56,217-222).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        F.lead("turn_idx").over(w).alias("next_turn_idx"),
        F.lead("role").over(w).alias("next_role"),
        (F.lead("ts").over(w).cast("double") - F.col("ts").cast("double")).alias("gap_seconds"),
    )


def min_max_turns(transcripts: DataFrame) -> DataFrame:
    """A10: earliest/latest turn per conversation (reference: earliest/
    latest version of an entity, find_change_patterns.py:731-783)."""
    return transcripts.groupBy("conv_id").agg(
        F.min("turn_idx").alias("first_turn"),
        F.max("turn_idx").alias("last_turn"),
        F.min_by("role", "turn_idx").alias("first_role"),
        F.max_by("role", "turn_idx").alias("last_role"),
    )


def conv_diff_stat(transcripts: DataFrame, routed: DataFrame) -> DataFrame:
    """A5: per-conversation stat aggregate — the diff_stat analog.

    Reference: per-file-pair stat rows with per-kind edit counts plus
    derived ratio columns (similarity, change ratio, unmodified rate;
    /root/reference/src/ast/analyzing/common/stat.ml:118-137,188-284).
    Here: per-conversation fact counts by sink plus facts-per-turn and
    identified-rate ratios. Ratios are floor'd at 6dp so Spark and the
    DuckDB oracle agree bit-for-bit (both compute the same IEEE division).

    Both inputs aggregate before the join, so the join is
    conversations-sized, not facts-sized."""
    turns = transcripts.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns"))
    per_sink = routed.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_facts"),
        F.sum(F.when(F.col("sink") == "tool_invocation", 1).otherwise(0)).alias("n_tool"),
        F.sum(F.when(F.col("sink") == "code_span", 1).otherwise(0)).alias("n_code"),
        F.sum(F.when(F.col("sink") == "error_signature", 1).otherwise(0)).alias("n_err"),
        F.sum(F.when(F.col("sink") == "exec_audit", 1).otherwise(0)).alias("n_exec"),
        F.sum(F.when(F.col("sink") == "user_signal", 1).otherwise(0)).alias("n_signal"),
        F.sum(F.when(F.col("sink") == "session_meta", 1).otherwise(0)).alias("n_meta"),
        F.sum(F.when(F.col("sink") == "dead_letter", 1).otherwise(0)).alias("n_dead"),
    )
    f6 = lambda c: (F.floor(c * F.lit(1000000.0)) / F.lit(1000000.0)).alias  # noqa: E731
    out = turns.join(per_sink, "conv_id", "left").na.fill(
        0, ["n_facts", "n_tool", "n_code", "n_err", "n_exec", "n_signal", "n_meta", "n_dead"]
    )
    return out.select(
        "conv_id",
        "n_turns",
        "n_facts",
        "n_tool",
        "n_code",
        "n_err",
        "n_exec",
        "n_signal",
        "n_meta",
        "n_dead",
        f6(F.col("n_facts").cast("double") / F.col("n_turns").cast("double"))(
            "facts_per_turn"
        ),
        F.when(F.col("n_facts") > 0, 
               F.floor((F.lit(1.0) - F.col("n_dead").cast("double") / F.col("n_facts").cast("double")) * F.lit(1000000.0)) / F.lit(1000000.0)
        ).alias("identified_rate"),
    )


def second_gen_pattern_facts(routed: DataFrame) -> DataFrame:
    """Second-generation fact stream: per-(conv, rule) pattern instances
    derived FROM the routed facts and shaped as new facts, mirroring the
    reference's feedback of chgpat instance triples into the store
    (/root/reference/python/src/cca/ccautil/find_change_patterns.py:1469-1533).

    The pattern entity key is content-derived (md5 of the grouping key) so
    the second generation inherits the partitioning-invariance of the
    first."""
    return routed.groupBy("conv_id", "rule_id").agg(
        F.count(F.lit(1)).alias("n_instances"),
        F.min("turn_idx").alias("first_turn"),
        F.max("turn_idx").alias("last_turn"),
        F.max("significance").alias("significance"),
    ).select(
        F.md5(F.concat_ws(":", "conv_id", "rule_id")).alias("pattern_entity_id"),
        F.lit("chgpat").alias("sink"),
        "conv_id",
        "rule_id",
        "n_instances",
        "first_turn",
        "last_turn",
        "significance",
    )
