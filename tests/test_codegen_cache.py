"""The generated-code cache holds a job's working set: a second pass over
the same query shapes compiles nothing. Spark's default cache is an LRU of
100 entries; a cycle of more distinct classes than that misses on every
lookup, so each pass recompiled (and the JVM re-JITted) all of them."""

from __future__ import annotations


def test_second_pass_over_many_query_shapes_compiles_nothing(spark):
    """60 shapes of about 2 generated classes each, more than the default
    cache holds. Measured on 4 vCPUs: 122 classes on the first pass, then
    96-100 on the second with the default cache and 0 with get_spark's."""
    from cca_spark.session import codegen_counts

    def one_pass() -> int:
        before, _ = codegen_counts(spark)
        for i in range(60):
            spark.range(10).selectExpr(f"sum(id * {i + 7})").collect()
        return codegen_counts(spark)[0] - before

    assert one_pass() > 100
    assert one_pass() == 0
