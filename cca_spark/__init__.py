"""cca_spark — a PySpark-native parse → enrich → route → aggregate engine.

A from-scratch re-expression of the query/data-processing capabilities of
codinuum/cca (the reference "Code Continuity Analysis" framework) as an
idiomatic Spark DataFrame pipeline over multi-turn agent transcripts:

- PARSE     compiled regex banks in Arrow-batched mapInArrow kernels
            (reference: per-language fact extractors,
            /root/reference/src/ast/analyzing/common/fact_base.ml:447-507)
- ENRICH    broadcast ontology joins + transitive-closure expansion
            (reference: SPARQL materialization,
            /root/reference/python/src/cca/ccautil/materialize_supplementary_fact.py:48-128)
- ROUTE     rule-bank tag dispatch to per-category sinks + dead letter
            (reference: change classification rule bank,
            /root/reference/src/ast/analyzing/langs/java/java_change.ml:519-782)
- AGGREGATE two-phase group-by per (sink, tool, date-bucket), windows over
            (conv_id, turn_idx)
            (reference: pattern counting,
            /root/reference/python/src/cca/ccautil/find_change_patterns.py:1376-1389)

Everything is DataFrame/SQL-first: Catalyst handles pushdown, pruning, join
selection and AQE; Python appears only inside Arrow-batched UDFs.
"""

__version__ = "0.1.0"
