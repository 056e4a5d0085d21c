"""Empty, NULL, whitespace-only and punctuation-only text through the
operators that divide by a text length: Spark (ANSI mode, Spark 4's
default) and the DuckDB oracle agree, and neither raises."""

from __future__ import annotations

import duckdb
import pandas as pd

from tests.util import normalize


def test_quality_score_hostile_text_matches_duckdb(spark):
    from cca_spark.operators.textstats import quality_score_over
    from cca_spark.oracles_training import quality_score_sql

    pdf = pd.DataFrame(
        [
            (1, ""),
            (2, None),
            (3, "   "),
            (4, " \t\n "),
            (5, "!!! ??? ..."),
            (6, "."),
            (7, "the cat sat on the mat and the dog sat in the hall " * 3),
        ],
        columns=["doc_id", "text"],
    )
    got = normalize(
        quality_score_over(spark.createDataFrame(pdf, "doc_id long, text string")).toPandas()
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = normalize(con.sql(quality_score_sql()).df())
    pd.testing.assert_frame_equal(got, want)
    # an empty text has no punctuation ratio (NULL in both engines)
    assert got.set_index("doc_id").loc["1", "punct_ratio"] == "<NULL>"


def test_similar_turn_pairs_empty_turns_match_duckdb(spark):
    from cca_spark.operators.relational import similar_turn_pairs_over
    from cca_spark.oracles_relational import similar_turn_pairs_select

    pdf = pd.DataFrame(
        [
            ("c1", 0, "user", ""),
            ("c1", 1, "user", ""),
            ("c1", 2, "user", "hello world"),
            ("c1", 3, "user", "hello world!"),
            ("c1", 4, "assistant", ""),
            ("c1", 5, "assistant", None),
            ("c2", 0, "user", "abc"),
            ("c2", 1, "user", ""),
            ("c2", 2, "user", "   "),
            ("c2", 3, "user", "   "),
        ],
        columns=["conv_id", "turn_idx", "role", "text"],
    )
    turns = spark.createDataFrame(pdf, "conv_id string, turn_idx int, role string, text string")
    got = normalize(similar_turn_pairs_over(turns).toPandas())
    con = duckdb.connect()
    con.register("turns", pdf)
    want = normalize(con.sql(f"WITH t AS (SELECT * FROM turns)\n{similar_turn_pairs_select()}").df())
    pd.testing.assert_frame_equal(got, want)
    # two empty turns have no length ratio, so they pair with nothing
    assert set(zip(got.conv_id, got.turn_idx)) == {("c1", "2"), ("c2", "2")}
