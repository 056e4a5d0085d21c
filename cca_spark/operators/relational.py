"""Relational operator battery — SURVEY.md §2 coverage over the star schema.

Each function is one operator family from the reference, re-expressed as a
Catalyst-friendly DataFrame plan over the TPC-H-ish test tables. Decimal
casts make aggregates bit-stable across engines (double summation order is
not deterministic under parallelism; decimal is exact).

Reference analogs are cited per function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A5: multi-aggregate group-by (the diff-stat analog,
    /root/reference/src/ast/analyzing/common/stat.ml:118-137) — TPC-H Q1
    shape. Runs as native partial+final hash aggregate."""
    li = _read(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
            (F.sum(dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
        )
    )


def join_chain_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: SPARQL-BGP-style chain of equi-joins (every .rq WHERE clause,
    e.g. class_hierarchy.rq:19-53): lineitem⋈orders⋈customer⋈nation⋈region,
    revenue per region/nation. Dim tables broadcast; fact side shuffles
    once on the join key."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = F.broadcast(_read(spark, sf_dir, "nation"))
    region = F.broadcast(_read(spark, sf_dir, "region"))
    rev = (F.col("l_extendedprice").cast("decimal(18,4)")
           * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(rev.cast("decimal(18,4)")).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def broadcast_derived_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: enrichment join on a *computed* key — the reference resolves
    invocations by joining on CONCAT(fqn, signature)
    (/root/reference/cca/queries/materialize/java/new_ivk0.rq:63-95).
    Here: join lineitem to a broadcast part dim on a derived brand#type key."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part").withColumn(
        "brand_type", F.concat_ws("#", "p_brand", "p_type")
    )
    dim = F.broadcast(part.select("p_partkey", "brand_type", "p_retailprice"))
    return (
        li.join(dim, li.l_partkey == dim.p_partkey, "inner")
        .groupBy("brand_type")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("sum_qty"),
        )
    )


def conditional_predicate_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: join + BIND(IF(...)) — the file-mapping query tags pairs
    mappedEqTo vs mappedNeqTo depending on digest equality
    (/root/reference/cca/queries/materialize/file_mapping.rq:14-41).
    Here: order/lineitem pairs tagged sameday vs later shipment."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .withColumn(
            "mapping",
            F.when(
                F.col("l_shipdate").cast("date") == F.col("o_orderdate").cast("date"),
                F.lit("sameday"),
            ).otherwise(F.lit("later")),
        )
        .groupBy("mapping", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


def anti_join_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/U3: FILTER NOT EXISTS (grafted_method.rq:32-34) — customers with
    no urgent orders. The filter on the anti side is pushed below the join
    (Catalyst), so the build side shrinks before hashing."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def semi_join_existing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: existence guard (factutil/fact.py:55-63) — suppliers that shipped
    at least one item, per nation."""
    sup = _read(spark, sf_dir, "supplier")
    li = _read(spark, sf_dir, "lineitem")
    return (
        sup.join(li, sup.s_suppkey == li.l_suppkey, "left_semi")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_active_suppliers"))
    )


def theta_join_next_turn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: version-order theta join (?v ver:next ?v_,
    find_change_patterns.py:222-231) as an equi-join on derived idx+1:
    adjacent-turn role transitions."""
    from cca_spark.transcripts import load_transcripts

    t = load_transcripts(spark, sf_dir).select("conv_id", "turn_idx", "role")
    a, b = t.alias("a"), t.alias("b")
    return (
        a.join(
            b,
            (F.col("a.conv_id") == F.col("b.conv_id"))
            & (F.col("b.turn_idx") == F.col("a.turn_idx") + 1),
        )
        .groupBy(F.col("a.role").alias("role"), F.col("b.role").alias("next_role"))
        .agg(F.count("*").alias("n_transitions"))
    )


def range_containment_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: range/interval containment join — the reference suppresses
    changes nested inside larger pruned/grafted spans
    (find_change_patterns.py:1127-1172 reduce_chgs; containment semantics
    entity.py:171-179). Here: facts whose span lies inside a code_span of
    the same turn are suppressed; survivors are returned.

    The containment join keys on (conv_id, turn_idx) — an equi prefix — so
    Spark executes a hash join with the range predicate as a post-filter,
    not a cartesian.

    Both join sides derive from the same fact stream, so the stream is
    checkpointed before reuse: the parse UDF runs ONCE and both sides read
    the materialized facts (VERDICT r01 flagged the double evaluation; at
    100x this would be a checkpoint to the fact table instead)."""
    from cca_spark.plans.pipeline import routed_facts
    from cca_spark.transcripts import load_transcripts

    # localCheckpoint (not persist): materializes eagerly, truncates the
    # plan, and is released with the RDD — a bare persist() leaked cached
    # storage across the 50-query driver battery (ADVICE r02).
    # Project before materializing: only the 7 columns the
    # containment join and the output read are checkpointed, not value,
    # ts, role, tool or the ontology columns. The parse kernel still
    # extracts and ships value, since Catalyst cannot prune inside it;
    # skipping that measured as noise on this query end to end.
    facts = (
        routed_facts(spark, load_transcripts(spark, sf_dir))
        .select(
            "entity_id", "conv_id", "turn_idx", "sink", "rule_id",
            "span_start", "span_end",
        )
        .localCheckpoint(eager=True)
    )
    spans = facts.filter(F.col("sink") == "code_span").select(
        F.col("conv_id").alias("s_conv_id"),
        F.col("turn_idx").alias("s_turn_idx"),
        F.col("span_start").alias("s_start"),
        F.col("span_end").alias("s_end"),
    )
    inner = facts.filter(F.col("sink") != "code_span")
    # Survivors = facts with NO containing span: one anti join on the
    # (conv_id, turn_idx) equi prefix with the range predicate as the
    # join residual. (A semi join for "contained" followed by an anti
    # join on entity_id computes the same set with one extra pass over
    # the fact stream — 3 parse evaluations instead of 2.)
    return inner.join(
        spans,
        (F.col("conv_id") == F.col("s_conv_id"))
        & (F.col("turn_idx") == F.col("s_turn_idx"))
        & (F.col("span_start") >= F.col("s_start"))
        & (F.col("span_end") <= F.col("s_end")),
        "left_anti",
    ).select("entity_id", "sink", "rule_id", "span_start", "span_end")


def union_alternative_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: UNION of alternative join-key derivations
    (class_hierarchy.rq:41-53): match suppliers to customers by exact
    nationkey OR by acctbal bucket; union distinct."""
    sup = _read(spark, sf_dir, "supplier")
    cust = _read(spark, sf_dir, "customer")
    by_nation = (
        sup.join(cust, sup.s_nationkey == cust.c_nationkey)
        .select("s_suppkey", "c_custkey")
        .withColumn("via", F.lit("nation"))
    )
    # floor() before the int cast: Spark's double->int cast truncates while
    # DuckDB's rounds — floor is the portable bucket function
    sb = sup.withColumn("bal_bucket", F.floor(F.col("s_acctbal") / 1000).cast("int"))
    cb = cust.withColumn("bal_bucket", F.floor(F.col("c_acctbal") / 1000).cast("int"))
    by_bal = (
        sb.join(cb, "bal_bucket").select("s_suppkey", "c_custkey").withColumn("via", F.lit("balance"))
    )
    return (
        by_nation.unionByName(by_bal)
        .groupBy("via")
        .agg(F.count("*").alias("n_pairs"), F.countDistinct("s_suppkey").alias("n_suppliers"))
    )


def except_unclassified_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: remove classified rows from the pool — coverage of turns with no
    *substantive* classification (reference: edits not classified,
    edit.ml:97-103; remove_from_prim_chg_tbl
    find_change_patterns.py:2097-2127; the reference likewise excludes
    low-significance Slow rules from "used", change_base.ml:951-956).

    With the full 62-rule bank every turn matches at least a metadata rule,
    so "unclassified" = no fact of significance >= 2 — the anti join keys
    on the (conv_id, turn_idx) prefilter of significant facts."""
    from cca_spark.plans.pipeline import routed_facts
    from cca_spark.transcripts import load_transcripts

    t = load_transcripts(spark, sf_dir)
    facts = routed_facts(spark, t).filter(F.col("significance") >= 2)
    return (
        t.join(facts, ["conv_id", "turn_idx"], "left_anti")
        .groupBy("role")
        .agg(F.count("*").alias("n_unclassified_turns"))
    )


def running_window_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W: running totals per customer over order time (version-ordered
    accumulation analog, materialize_fact.py:66-89)."""
    orders = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("int").alias("order_seq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("running_total"),
    )


# idle gap that closes a session: shorter gaps split activity into more,
# smaller sessions
SESSION_GAP_MINUTES = 30


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a gap over ``SESSION_GAP_MINUTES`` starts a new
    session (lag + cumsum). The reference's task-pool batches by version
    pair; this is the stream analog used for per-conversation windows at
    scale."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag("ts").over(w).cast("timestamp")
    )
    with_flag = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > SESSION_GAP_MINUTES * 60 * 1_000_000), 1).otherwise(0),
    )
    with_sid = with_flag.withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )
    return with_sid.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_event_types"),
    )


def scalar_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1-C10 scalar surface in one projection (no shuffle): concat,
    localname extraction (sparql.py:65-74), hashing (C4), date bucketing
    (C5), SLOC counting (C9), safe casts (C10), edit distance (C7)."""
    from cca_spark.transcripts import load_transcripts

    t = load_transcripts(spark, sf_dir)
    return t.select(
        "conv_id",
        "turn_idx",
        F.concat_ws("/", "conv_id", F.col("turn_idx").cast("string")).alias("uri"),
        F.substring_index(F.concat_ws("/", "conv_id", F.col("turn_idx").cast("string")), "/", -1)
        .alias("localname"),
        F.md5("text").alias("md5_hash"),
        F.sha2(F.col("text"), 256).alias("sha256_hash"),
        F.date_trunc("month", F.col("ts")).cast("date").alias("month_bucket"),
        F.size(F.split(F.col("text"), "\n")).cast("int").alias("sloc"),
        F.length("text").cast("int").alias("n_chars"),
        F.expr(r"try_cast(regexp_extract(text, 'item (\\d+)', 1) AS int)").alias("item_id"),
        F.levenshtein(F.col("role"), F.lit("assistant")).cast("int").alias("role_dist"),
        F.startswith(F.col("text"), F.lit("turn")).alias("starts_turn"),
        F.initcap("role").alias("role_title"),
    )


# Levenshtein similarity a turn pair must reach, and the relative-length
# gate in front of it. |len_a - len_b| / max(len) is a lower bound on the
# normalized edit distance, so a gate of 1 - threshold is lossless: every
# pair it drops has similarity below the threshold. A tighter gate would
# be cheaper but would drop true pairs.
SIMILAR_TURN_THRESHOLD = 0.5
SIMILAR_TURN_LEN_GATE = 1.0 - SIMILAR_TURN_THRESHOLD


def similar_turn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``similar_turn_pairs_over`` the transcripts of ``sf_dir``."""
    from cca_spark.transcripts import load_transcripts

    return similar_turn_pairs_over(load_transcripts(spark, sf_dir))


def similar_turn_pairs_over(transcripts: DataFrame) -> DataFrame:
    """Similarity-threshold prefilter operator: cheap gate before the
    expensive verify, composed exactly like the reference
    (``ccautil/sim.py:28-66`` gates tree diff on a fixed similarity;
    ``verdiff.py:62-63``).

    Candidate pairs = adjacent turns of the same role within a
    conversation of ``(conv_id, turn_idx, role, text)`` rows (one window,
    no join). CHEAP gate: relative length difference <=
    ``SIMILAR_TURN_LEN_GATE`` (lossless, see the constant). EXPENSIVE
    verify: Levenshtein similarity >= ``SIMILAR_TURN_THRESHOLD``, evaluated
    after the gate inside one codegen'd filter. Both ratios divide by the
    longer length with ``try_divide``: two empty turns give NULL and drop
    out, as in the DuckDB oracle, instead of raising DIVIDE_BY_ZERO under
    ANSI mode."""
    t = transcripts.select("conv_id", "turn_idx", "role", "text")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    pairs = t.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        F.lead("turn_idx").over(w).alias("next_turn_idx"),
        F.lead("role").over(w).alias("next_role"),
        F.lead("text").over(w).alias("next_text"),
    ).filter(F.col("next_turn_idx").isNotNull() & (F.col("role") == F.col("next_role")))
    la, lb = F.length("text"), F.length("next_text")
    maxlen = F.greatest(la, lb)
    gated = pairs.filter(
        F.try_divide(F.abs(la - lb).cast("double"), maxlen.cast("double"))
        <= SIMILAR_TURN_LEN_GATE
    )
    sim = F.round(
        F.lit(1.0)
        - F.try_divide(F.levenshtein("text", "next_text").cast("double"), maxlen.cast("double")),
        6,
    )
    return (
        gated.select("conv_id", "turn_idx", "next_turn_idx", "role", sim.alias("sim"))
        .filter(F.col("sim") >= SIMILAR_TURN_THRESHOLD)
    )


def ancestor_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3: nearest-enclosing / ancestor arrays (fact_base.ml:317-345) —
    category → sorted ancestor path string via the closure fixpoint."""
    from cca_spark.ontology import ontology_closure_df

    return (
        ontology_closure_df(spark)
        .groupBy("category")
        .agg(F.concat_ws("|", F.sort_array(F.collect_list("ancestor"))).alias("ancestor_path"))
    )


def token_explode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2: recursive scan emitting per-node rows ≈ explode of tokenized
    text (fact_base.ml:447-507): top whitespace tokens over documents."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
