"""Enrichment lookup tables — the ontology analog.

The reference enriches its factbase with OWL ontologies + SPARQL INSERT
materialization (class hierarchy closure resolved by Virtuoso's
``rdfs_rule_set`` inference, /root/reference/cca/queries/materialize/java/
class_hierarchy.rq:2, /root/reference/python/src/cca/ccautil/virtuoso.py:289-294).

Spark-first mapping: the ontologies are tiny dimension tables that get
**broadcast-joined** to the fact stream; the subclass closure is
precomputed once with a driver-side semi-naive fixpoint (the reference runs
its INSERT battery 3x for the same reason,
/root/reference/python/src/cca/ccautil/materialize_supplementary_fact.py:116)
and broadcast too. No inference engine needed at query time.

Every table here is a JVM local relation (``session.local_frame``), so
reading or broadcasting one runs no Python task; the cost moves to a
15-30 ms Arrow build on the driver, which ``_memo`` pays once per session.

``risk_level`` mirrors the reference's significance scores Slow..Scrucial
(1-4, /root/reference/src/ast/analyzing/common/change_base.ml:72-78).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cca_spark.session import local_frame

# (tool, category, family, risk_level)
TOOL_ONTOLOGY: list[tuple[str, str, str, int]] = [
    ("bash", "exec", "shell", 4),
    ("write_file", "file_io", "fs", 3),
    ("read_file", "file_io", "fs", 1),
    ("edit", "file_io", "fs", 3),
    ("grep", "search", "fs", 1),
    ("search", "search", "net", 2),
    ("http_get", "net", "net", 2),
    # 'mystery_tool' is deliberately absent -> dead-letter path
]

# (role, actor_kind)
ROLE_ONTOLOGY: list[tuple[str, str]] = [
    ("user", "human"),
    ("assistant", "model"),
    ("system", "system"),
    ("tool", "system"),
]

# category DAG edges (child -> parent); closure is computed, not listed,
# mirroring rdfs:subClassOf (/root/reference/cca/ontologies/2012/10/
# primitive-change.rdf:468-530 — Deletion/Insertion/... ⊑ Edit).
CATEGORY_PARENTS: list[tuple[str, str]] = [
    ("exec", "action"),
    ("file_io", "io"),
    ("search", "io"),
    ("net", "io"),
    ("io", "action"),
    ("action", "root"),
]


# Dimension DataFrames are memoized per SparkSession. As local relations
# they run no Python task when read, so the memo saves only the driver-side
# Arrow build (15-30 ms per table), which every pipeline composed in one
# session would otherwise repeat.
_dim_cache: dict[tuple[int, str], DataFrame] = {}


def _memo(spark: SparkSession, key: str, build) -> DataFrame:
    k = (id(spark), key)
    if k not in _dim_cache:
        _dim_cache[k] = build()
    return _dim_cache[k]


def tool_ontology_df(spark: SparkSession) -> DataFrame:
    return _memo(
        spark,
        "tools",
        lambda: local_frame(
            spark, TOOL_ONTOLOGY, "tool string, category string, family string, risk_level int"
        ),
    )


def role_ontology_df(spark: SparkSession) -> DataFrame:
    return _memo(
        spark,
        "roles",
        lambda: local_frame(spark, ROLE_ONTOLOGY, "role string, actor_kind string"),
    )


def category_edges_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, CATEGORY_PARENTS, "child string, parent string")


# hop bound of the closure fixpoint: one round per hierarchy level, so
# this caps the category depth the closure can reach
ONTOLOGY_CLOSURE_MAX_ITERS = 10


def ontology_closure_df(spark: SparkSession) -> DataFrame:
    """Transitive closure (category -> ancestor, reflexive) via semi-naive
    driver-side fixpoint over DataFrame joins.

    The frontier is joined to the edge table until no new pairs appear —
    at most ``ONTOLOGY_CLOSURE_MAX_ITERS`` rounds, like the reference's 3x INSERT battery
    (materialize_supplementary_fact.py:116). The tables involved are tiny
    (ontology-scale), so each iteration is a broadcast join; the final
    closure is itself broadcast downstream.
    """
    from pyspark.sql import functions as F

    edges = category_edges_df(spark)
    cats = (
        edges.select(F.col("child").alias("category"))
        .union(edges.select(F.col("parent").alias("category")))
        .distinct()
    )
    # reflexive base
    closure = cats.select("category", F.col("category").alias("ancestor"))
    frontier = edges.select(F.col("child").alias("category"), F.col("parent").alias("ancestor"))
    for _ in range(ONTOLOGY_CLOSURE_MAX_ITERS):
        closure = closure.union(frontier).distinct().localCheckpoint(eager=True)
        before = closure.count()
        # extend frontier one hop: (c -> a) + (a -> p) => (c -> p)
        frontier = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.ancestor") == F.col("e.child"))
            .select(F.col("f.category"), F.col("e.parent").alias("ancestor"))
            .distinct()
        )
        new = frontier.join(closure, ["category", "ancestor"], "left_anti")
        if new.count() == 0:
            break
        frontier = new
    return closure


def tool_ontology_values_sql() -> str:
    """Inline VALUES relation for DuckDB oracles (and Spark SQL — shared)."""
    rows = ", ".join(f"('{t}', '{c}', '{f}', {r})" for t, c, f, r in TOOL_ONTOLOGY)
    return f"(VALUES {rows}) AS tool_ontology(tool, category, family, risk_level)"


def role_ontology_values_sql() -> str:
    rows = ", ".join(f"('{r}', '{k}')" for r, k in ROLE_ONTOLOGY)
    return f"(VALUES {rows}) AS role_ontology(role, actor_kind)"


def category_edges_values_sql() -> str:
    rows = ", ".join(f"('{c}', '{p}')" for c, p in CATEGORY_PARENTS)
    return f"(VALUES {rows}) AS category_edges(child, parent)"
