"""Every queries() entry must match its DuckDB oracle at the test SF.

This mirrors the driver's correctness gate, plus the north-rule invariants:
per-sink aggregate-count equality, routed-row set equality (entity_id sets),
per-turn text equality under stable (conv_id, turn_idx) ordering.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tests.util import assert_matches_oracle, normalize


def _oracle_for(name: str, sf_dir: str) -> str:
    sql = entrymod.oracle_sql()[name]
    return sql.replace("/root/testdata/sf0.01", sf_dir)


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, sf_dir, name):
    q = entrymod.queries()[name]
    if name not in entrymod.oracle_sql():
        df = q(spark, sf_dir)
        assert df.count() >= 0  # rows-only check (non-SQL-expressible op)
        return
    assert_matches_oracle(q(spark, sf_dir), _oracle_for(name, sf_dir), min_rows=1, sf_dir=sf_dir)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"sink", "tool", "date_bucket", "n_rows", "n_convs"}


def test_routed_row_set_equality(spark, sf_dir):
    """North rule: the per-sink *set* of entity_ids is independent of
    parallelism/salting — run the pipeline salted and unsalted and at
    different partitionings, compare full sets."""
    from cca_spark.operators.route import salted_repartition
    from cca_spark.plans.pipeline import routed_facts
    from cca_spark.transcripts import load_transcripts

    t = load_transcripts(spark, sf_dir)
    base = {
        (r["sink"], r["entity_id"])
        for r in routed_facts(spark, t).select("sink", "entity_id").collect()
    }
    salted = {
        (r["sink"], r["entity_id"])
        for r in salted_repartition(routed_facts(spark, t.repartition(13)), n_salts=7)
        .select("sink", "entity_id")
        .collect()
    }
    assert base == salted
    assert len(base) > 0


def test_turn_ordering_invariant_holds(spark, sf_dir):
    from cca_spark.operators.aggregate import turn_ordering_check
    from cca_spark.transcripts import load_transcripts

    bad = (
        turn_ordering_check(load_transcripts(spark, sf_dir))
        .filter(F.col("n_order_violations") > 0)
        .count()
    )
    assert bad == 0


def test_per_turn_text_equality(spark, sf_dir):
    """Reconstructing turns ordered by (conv_id, turn_idx) yields text
    byte-identical to the independently-derived DuckDB copy."""
    from cca_spark.transcripts import duckdb_transcripts_sql, load_transcripts

    sp = (
        load_transcripts(spark, sf_dir)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
    )
    dd = duckdb.sql(
        duckdb_transcripts_sql(sf_dir)
        + " ORDER BY conv_id, turn_idx"
    ).df()[["conv_id", "turn_idx", "text"]]
    assert sp["text"].tolist() == dd["text"].tolist()


def test_multi_rule_rows_emit_multiple_facts(spark, sf_dir):
    """Rows matching multiple rules emit one routed row per match
    (reference: one edit can satisfy several change rules)."""
    from cca_spark.plans.pipeline import routed_facts
    from cca_spark.transcripts import load_transcripts

    per_turn = (
        routed_facts(spark, load_transcripts(spark, sf_dir))
        .groupBy("conv_id", "turn_idx")
        .count()
    )
    assert per_turn.filter(F.col("count") >= 2).count() > 0


def test_dead_letter_nonempty(spark, sf_dir):
    from cca_spark.plans.pipeline import routed_facts
    from cca_spark.transcripts import load_transcripts

    dl = (
        routed_facts(spark, load_transcripts(spark, sf_dir))
        .filter(F.col("sink") == "dead_letter")
    )
    assert dl.count() > 0
    assert dl.filter(F.col("tool") != "mystery_tool").count() == 0


def test_parse_strategies_agree(spark, sf_dir):
    """Python-kernel and JVM-regexp physical strategies, identical logical
    result (same discipline as reference -check invariant validation,
    analyzing.ml:1251-1270)."""
    from cca_spark.plans.pipeline import routed_facts
    from cca_spark.transcripts import load_transcripts

    t = load_transcripts(spark, sf_dir)
    a = normalize(routed_facts(spark, t, parse_strategy="python").toPandas())
    b = normalize(routed_facts(spark, t, parse_strategy="sql").toPandas())
    assert a.equals(b)
