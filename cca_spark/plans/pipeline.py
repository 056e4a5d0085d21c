"""End-to-end composition: parse → enrich → route → aggregate.

This is the flagship plan (reference lifecycle §3.2-3.3 of SURVEY.md: parse
workers → factbase load → materialization → pattern counting), expressed as
one lazy DataFrame graph so Catalyst sees the whole thing: the parquet scan
prunes to (conv_id, turn_idx, role, text, tool, ts), ontology joins go
broadcast, and the final groupBy runs partial+final with AQE sizing the
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cca_spark.operators.enrich import enrich_facts
from cca_spark.operators.parse import parse_facts
from cca_spark.operators.route import route_facts
from cca_spark.transcripts import load_transcripts


def routed_facts(
    spark: SparkSession, transcripts: DataFrame, parse_strategy: str = "python"
) -> DataFrame:
    """parse → enrich → route: one row per fact with all of
    parse.FACT_COLUMNS plus the ontology and routing columns.

    This is the stream for consumers of individual facts (sink writes,
    span joins, deltas); it pays for every fact column at the kernel's
    Arrow boundary. Aggregate-only consumers use ``fused_pipeline_agg``,
    which counts inside the kernel. To spread a hot conversation over
    several partitions, pass the result to ``route.salted_repartition``."""
    facts = parse_facts(transcripts, strategy=parse_strategy)
    return route_facts(enrich_facts(spark, facts))


def pipeline_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query: routed fact counts per (sink, tool, date_bucket)."""
    return fused_pipeline_agg(spark, load_transcripts(spark, sf_dir))


def fused_pipeline_agg(spark: SparkSession, transcripts: DataFrame) -> DataFrame:
    """parse→enrich→route→aggregate with the PARTIAL aggregate pushed into
    the Arrow kernel (map-side combine through the UDF boundary, which
    Spark's own partial HashAggregate cannot cross): the kernel emits
    per-batch counts keyed by (conv_id, tool, date, rule-sink); the JVM
    side broadcast-joins the ontology, applies ``route_facts``'s
    dead-letter rerouting to the partials (1:1 on the key, counts
    unaffected), and runs the final sum / countDistinct. Aggregate-identical to the unfused path
    (test_fused_pipeline_agg_equivalence); at 10^12 turns this shrinks
    Arrow egress by the per-batch fact/key ratio (~15x here)."""
    from pyspark.sql import functions as F

    from cca_spark.ontology import tool_ontology_df
    from cca_spark.operators.parse import parse_fact_partials

    partials = parse_fact_partials(transcripts)
    tools = F.broadcast(tool_ontology_df(spark).select("tool", "category"))
    routed = route_facts(partials.join(tools, "tool", "left"))
    return routed.groupBy(
        "sink", "tool", F.col("date_bucket").cast("date").alias("date_bucket")
    ).agg(
        F.sum("n").alias("n_rows"),
        F.countDistinct("conv_id").alias("n_convs"),
    )
