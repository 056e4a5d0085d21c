"""Python-stage task layout at the parse boundary (parse.python_stage_input).

A kernel input that Catalyst estimates below ``ONE_WAVE_MAX_BYTES`` runs as
one wave of ``defaultParallelism`` tasks; a larger or streaming input keeps
its layout; and the layout never changes what the pipeline computes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_small_input_runs_one_wave(spark, sf_dir):
    from cca_spark.operators.parse import parse_fact_partials, parse_facts
    from cca_spark.transcripts import load_transcripts

    t = load_transcripts(spark, sf_dir)
    n = spark.sparkContext.defaultParallelism
    assert parse_fact_partials(t).rdd.getNumPartitions() == n
    assert parse_facts(t).rdd.getNumPartitions() == n
    assert parse_facts(t, slim=True).rdd.getNumPartitions() == n


def test_one_wave_keeps_fused_aggregate(spark, sf_dir, monkeypatch):
    from cca_spark.operators import parse
    from cca_spark.plans.pipeline import fused_pipeline_agg
    from cca_spark.transcripts import load_transcripts
    from tests.util import normalize

    t = load_transcripts(spark, sf_dir)
    one_wave = normalize(fused_pipeline_agg(spark, t).toPandas())
    monkeypatch.setattr(parse, "ONE_WAVE_MAX_BYTES", 0)
    # floor 0: every input keeps its scan layout (2x slots here)
    assert parse.parse_fact_partials(t).rdd.getNumPartitions() == t.rdd.getNumPartitions()
    assert t.rdd.getNumPartitions() > spark.sparkContext.defaultParallelism
    per_split = normalize(fused_pipeline_agg(spark, t).toPandas())
    assert len(one_wave) > 0
    assert one_wave.equals(per_split)


def test_input_above_floor_keeps_its_partitions(spark):
    from cca_spark.operators.parse import parse_fact_partials, python_stage_input

    # range(10^7) is estimated at 80 MB before the projection widens it; the
    # partition count below plans the stage without computing a row
    big = spark.range(0, 10**7, 1, 6).select(
        F.format_string("conv-%08d", F.col("id") % 1000).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("exit code 1").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp_ntz").alias("ts"),
    )
    assert python_stage_input(big) is big
    assert parse_fact_partials(big).rdd.getNumPartitions() == 6


def test_streaming_input_passes_through(spark, sf_dir, tmp_path):
    from cca_spark.operators.parse import python_stage_input
    from cca_spark.streaming.pipeline import stream_transcripts
    from cca_spark.transcripts import load_transcripts

    input_dir = str(tmp_path / "turns")
    load_transcripts(spark, sf_dir).write.parquet(input_dir)
    stream = stream_transcripts(spark, input_dir)
    assert python_stage_input(stream) is stream


def test_slim_without_value_is_rejected(spark, sf_dir):
    from cca_spark.operators.parse import parse_facts
    from cca_spark.transcripts import load_transcripts

    t = load_transcripts(spark, sf_dir)
    for strategy in ("pandas", "sql"):
        with pytest.raises(ValueError, match="with_value"):
            parse_facts(t, strategy=strategy, slim=True, with_value=False)
