"""Driver-side lookup tables plan as JVM local relations.

A Python-list ``createDataFrame`` plans as a ``LogicalRDD`` over a Python
RDD, so every query reading it runs ``defaultParallelism`` Python-worker
tasks for a few rows. ``session.local_frame`` is the one way the program
builds such a table; these tests pin its plan shape, the fused report
pipeline's single Python node, and that no other ``createDataFrame`` call
exists in the program."""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"


def _executed_node_names(df) -> list[str]:
    """Node names of the executed physical plan, AQE wrapper unwrapped."""
    names, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()
        names.append(node.nodeName())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return names


def test_lookup_tables_are_local_relations(spark, tmp_path, monkeypatch):
    from pyspark.sql.types import StructType

    from cca_spark import ontology
    from cca_spark.operators.textstats import BM25_QUERY_TERMS, bm25_query_terms_df
    from cca_spark.plans.manifest import MANIFEST_SCHEMA, read_manifest

    # fresh builds with the Arrow conversion switched off: the plan must
    # not depend on it
    monkeypatch.setattr(ontology, "_dim_cache", {})
    before = spark.conf.get(ARROW_CONF)
    spark.conf.set(ARROW_CONF, "false")
    try:
        tables = {
            "tool_ontology": ontology.tool_ontology_df(spark),
            "role_ontology": ontology.role_ontology_df(spark),
            "category_edges": ontology.category_edges_df(spark),
            "bm25_query_terms": bm25_query_terms_df(spark),
            "empty_manifest": read_manifest(spark, str(tmp_path)),
        }
        for name, df in tables.items():
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "LocalRelation" in plan, (name, plan)
            assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, (name, plan)
        rows = {name: [tuple(r) for r in df.collect()] for name, df in tables.items()}
    finally:
        spark.conf.set(ARROW_CONF, before)

    # same rows and types as the Python lists they are built from
    assert rows["tool_ontology"] == ontology.TOOL_ONTOLOGY
    assert rows["role_ontology"] == ontology.ROLE_ONTOLOGY
    assert rows["category_edges"] == ontology.CATEGORY_PARENTS
    assert rows["bm25_query_terms"] == [(t,) for t in BM25_QUERY_TERMS]
    assert rows["empty_manifest"] == []
    assert tables["tool_ontology"].schema.simpleString() == (
        "struct<tool:string,category:string,family:string,risk_level:int>"
    )
    assert tables["empty_manifest"].schema == StructType.fromDDL(MANIFEST_SCHEMA)


def test_fused_pipeline_runs_python_only_in_its_kernel(spark):
    """The fused report pipeline and the full fact stream each cross one
    Python boundary, and it is the Arrow one."""
    from cca_spark.plans.pipeline import fused_pipeline_agg, routed_facts
    from cca_spark.transcripts import load_transcripts
    from tests.conftest import SF_SMOKE

    t = load_transcripts(spark, SF_SMOKE)
    for df in (fused_pipeline_agg(spark, t), routed_facts(spark, t)):
        names = _executed_node_names(df)
        python = [n for n in names if re.search(r"Python|InPandas|InArrow", n)]
        assert python == ["MapInArrow"], names
        assert "Scan ExistingRDD" not in names, names
        # the broadcast ontology side
        assert "LocalTableScan" in names, names


def test_create_dataframe_only_inside_local_frame():
    paths = [
        *sorted((REPO / "cca_spark").rglob("*.py")),
        *sorted((REPO / "scripts").glob("*.py")),
        REPO / "__spark_entry__.py",
    ]
    sites = [
        (str(path.relative_to(REPO)), node.lineno)
        for path in paths
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute) and node.attr == "createDataFrame"
    ]
    session = ast.parse((REPO / "cca_spark" / "session.py").read_text())
    helper = next(
        n for n in session.body if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    )
    assert sites, "local_frame no longer calls createDataFrame"
    assert all(
        path == "cca_spark/session.py" and helper.lineno <= line <= helper.end_lineno
        for path, line in sites
    ), sites
