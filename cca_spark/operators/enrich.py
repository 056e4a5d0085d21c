"""ENRICH — broadcast ontology joins.

Reference analog: SPARQL INSERT materialization joins facts against
ontologies and derived keys (invocation resolution via CONCAT'd keys,
/root/reference/cca/queries/materialize/java/new_ivk0.rq:63-95; class
hierarchy via rdfs inference, class_hierarchy.rq). CCA delegates the join
to Virtuoso; we delegate to Catalyst with explicit ``broadcast()`` hints —
the ontology side is ontology-sized (tiny), the fact side is the 10^12-turn
stream, so a shuffle on the fact side would be the single worst plan choice
at scale.

Unknown tools survive as NULL-category rows (dead-letter candidates) — the
reference's ``FILTER NOT EXISTS`` anti-join pattern
(/root/reference/cca/queries/materialize/java/grafted_method.rq:32-34).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cca_spark.ontology import role_ontology_df, tool_ontology_df


def enrich_facts(spark: SparkSession, facts: DataFrame) -> DataFrame:
    """Attach tool ontology (category/family/risk_level), role actor_kind,
    and the date bucket used by the aggregate stage.

    All joins are broadcast left joins: fact-side partitioning is
    preserved, no shuffle is introduced (verify with .explain —
    BroadcastHashJoin, no Exchange on the fact side).
    """
    tools = F.broadcast(tool_ontology_df(spark))
    roles = F.broadcast(role_ontology_df(spark))

    return (
        facts.join(tools, "tool", "left")
        .join(roles, "role", "left")
        .withColumn("date_bucket", F.col("ts").cast("date"))
    )


def guard_table(routed: DataFrame) -> DataFrame:
    """Reified guard statements: one provenance/validity row per
    (conv_id, rule_id) pattern, keyed by a content hash.

    Reference analog: statement-level metadata attached to an (s,p,o)
    fact — a guard node reifies the triple and carries attributes
    (/root/reference/python/src/cca/factutil/fact.py:43-86,
    /root/reference/src/ast/analyzing/common/fact_base.ml:200-218). Here
    the guard row records how often the pattern fired in the conversation,
    its peak significance, and its validity start — a side table orders of
    magnitude smaller than the fact stream (aggregated before any join)."""
    return routed.groupBy("conv_id", "rule_id").agg(
        F.count(F.lit(1)).alias("n_instances"),
        F.max("significance").alias("max_significance"),
        F.min("date_bucket").alias("valid_from"),
    ).select(
        F.md5(F.concat_ws(":", "conv_id", "rule_id")).alias("guard_id"),
        "conv_id",
        "rule_id",
        "n_instances",
        "max_significance",
        "valid_from",
    )


# a guard admits a (conv, rule) pattern that fired at least this often,
# with at least this peak significance; lower floors admit more facts
GUARD_MIN_INSTANCES = 4
GUARD_MIN_SIGNIFICANCE = 2


def guard_fact_lookup(routed: DataFrame) -> DataFrame:
    """Facts admitted by their guard: join the fact stream to the guard
    side table on the reified key and keep facts whose guard says the
    pattern is frequent (``GUARD_MIN_INSTANCES``) AND significant
    (``GUARD_MIN_SIGNIFICANCE``) in that conversation — the
    reference's guard-statement lookup (fact.py:55-63) as a semi-join
    that also attaches the guard id to each admitted fact.

    The guard side aggregates to (conv, rule) granularity before the
    join, so at 10^12 scale the join build side is conversations-sized."""
    guards = guard_table(routed).filter(
        (F.col("n_instances") >= GUARD_MIN_INSTANCES)
        & (F.col("max_significance") >= GUARD_MIN_SIGNIFICANCE)
    )
    return routed.join(guards, ["conv_id", "rule_id"]).select(
        "entity_id", "guard_id", "conv_id", "rule_id", "sink", "n_instances"
    )


