"""Round-6 optimization-round tests: every internals change an operator
took this round keeps a focused parity pin here (the brief's rule —
optimizations must not change what any query computes).

- the Arrow/RE2 partials kernel vs the pandas/re reference kernel
- the single-generate (inline) SQL parse strategy vs the pandas strategy
- the JVM-side entity_id projection vs the kernel-derived fields
- the dedup materialization changes (distinct-before-persist) vs a
  from-scratch recompute of the verified pair set
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _multiset_equal(df_a, df_b, cols):
    ha = df_a.select(
        F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols])).alias("h")
    ).groupBy("h").count()
    hb = df_b.select(
        F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols])).alias("h")
    ).groupBy("h").count()
    return ha.exceptAll(hb).count() == 0 and hb.exceptAll(ha).count() == 0


def test_arrow_partials_kernel_parity(spark, sf_dir):
    """The RE2 counting kernel must reproduce the pandas/re reference
    kernel's partial counts bit-for-bit on real corpus text — per-rule
    counts, role/tool scoping, date flooring and the grouping tail."""
    import pyarrow as pa

    from cca_spark.operators.parse import (
        _extract_batch_partials,
        _extract_partials_arrow,
        compile_bank,
    )
    from cca_spark.transcripts import load_transcripts

    pdf = load_transcripts(spark, sf_dir).toPandas()
    batch = pa.RecordBatch.from_pandas(pdf, preserve_index=False)
    old = _extract_batch_partials(pdf, compile_bank())
    new = _extract_partials_arrow(batch).to_pandas()
    keys = ["conv_id", "tool", "date_bucket", "sink"]
    o = old.sort_values(keys).reset_index(drop=True)
    n = new.sort_values(keys).reset_index(drop=True)[old.columns.tolist()]
    assert len(o) == len(n)
    for c in keys + ["n"]:
        oc = o[c].where(pd.notna(o[c]), None).astype(str)
        nc = n[c].where(pd.notna(n[c]), None).astype(str)
        assert (oc.values == nc.values).all(), f"column {c} diverged"


def test_sql_parse_strategy_single_generate_parity(spark, sf_dir):
    """The r6 inline(flatten(transform(...))) SQL strategy must emit the
    identical fact multiset (all 12 columns) as the pandas kernel."""
    from cca_spark.operators.parse import FACT_COLUMNS, parse_facts
    from cca_spark.transcripts import load_transcripts

    t = load_transcripts(spark, sf_dir)
    sql = parse_facts(t, strategy="sql").select(*FACT_COLUMNS)
    pd_ = parse_facts(t, strategy="pandas").select(*FACT_COLUMNS)
    assert _multiset_equal(sql, pd_, FACT_COLUMNS)


def test_sql_parse_plan_has_single_generate(spark, sf_dir):
    """Plan pin for the r6 rewrite: exactly ONE Generate in the physical
    plan (the former shape had two — a 62-structs-per-turn explode
    followed by the per-match explode)."""
    from cca_spark.operators.parse import parse_facts
    from cca_spark.transcripts import load_transcripts

    plan = (
        parse_facts(load_transcripts(spark, sf_dir), strategy="sql")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Generate") == 1


def test_jvm_entity_id_matches_kernel_fields(spark, sf_dir):
    """entity_id is now a JVM concat_ws over kernel-emitted fields; it
    must equal the documented derivation for every fact row."""
    from cca_spark.operators.parse import parse_facts
    from cca_spark.transcripts import load_transcripts

    facts = parse_facts(load_transcripts(spark, sf_dir), strategy="pandas")
    rebuilt = F.concat_ws(
        "-", "conv_id", "turn_idx", "span_start", "span_end", "rule_id"
    )
    assert facts.filter(F.col("entity_id") != rebuilt).count() == 0
    assert facts.filter(F.col("entity_id").isNull()).count() == 0


def test_lsh_pairs_unchanged_by_materialization(spark, sf_dir):
    """The distinct-before-persist + banded-checkpoint restructuring must
    not change the verified pair set: min-hash is invariant under shingle
    multiplicity, so pairs from a from-scratch non-distinct pipeline equal
    the operator's output."""
    from cca_spark.operators.dedup import (
        corpus_shingles,
        dedup_corpus,
        lsh_verified_pairs,
        minhash_signatures,
        ngram_jaccard,
    )

    corpus = dedup_corpus(spark, sf_dir)
    got = lsh_verified_pairs(corpus).select("doc_a", "doc_b", "jaccard")

    # reference pipeline: plain (non-distinct) shingles end to end
    from cca_spark.operators.dedup import LSH_BUCKET_CAP, N_BANDS, N_MINHASHES

    sigs = minhash_signatures(corpus)
    rows_per_band = N_MINHASHES // N_BANDS
    band_cols = []
    for b in range(N_BANDS):
        parts = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(F.concat_ws("|", *parts)).alias("band_key"),
            )
        )
    banded = sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_key")
    stats = banded.groupBy("band_idx", "band_key").agg(
        F.count("*").alias("bucket_n"), F.min("doc_id").alias("bucket_hub")
    )
    lhs = (
        banded.join(stats, ["band_idx", "band_key"])
        .filter(
            (F.col("bucket_n") <= LSH_BUCKET_CAP)
            | (F.col("doc_id") == F.col("bucket_hub"))
        )
        .select("doc_id", "band_idx", "band_key")
    )
    a, b = lhs.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    want = ngram_jaccard(corpus, cands).filter(F.col("jaccard") >= 0.5).select(
        "doc_a", "doc_b", "jaccard"
    )
    assert _multiset_equal(got, want, ["doc_a", "doc_b", "jaccard"])


def test_load_transcripts_parallelism_and_content(spark, sf_dir):
    """The r6 derivation repartition must (a) widen the stream to
    defaultParallelism*2 partitions and (b) leave the row set untouched."""
    from cca_spark.transcripts import load_transcripts

    t = load_transcripts(spark, sf_dir)
    assert t.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism * 2
    # content identical to the raw derivation (no repartition)
    from cca_spark.transcripts import transcripts_sql

    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView(
        "cca_events_chk"
    )
    raw = spark.sql(transcripts_sql("cca_events_chk"))
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert _multiset_equal(t, raw, cols)


def test_containment_bottom_k_agg_matches_window_formulation(spark, sf_dir):
    """The r6 bottom-k sketch via slice(sort_array(collect_list(h)), 1, k)
    must select exactly the rows the former row_number() formulation kept
    (per-doc hashes are unique — md5 over distinct shingles — so bottom-k
    is a well-defined set), and the containment output must match a
    from-scratch pipeline built on the window formulation end to end."""
    from pyspark.sql import Window

    from cca_spark.operators.dedup import (
        BOTTOM_K_SKETCH,
        CONTAINMENT_THRESHOLD,
        SKETCH_BUCKET_CAP,
        _pair_shingle_intersections,
        corpus_shingles,
        dedup_corpus,
        ngram_containment_over,
    )

    corpus = dedup_corpus(spark, sf_dir)
    got = ngram_containment_over(corpus)

    # reference: the pre-r6 row_number construction, no materialization
    shd = corpus_shingles(corpus).distinct()
    hashes = shd.select("doc_id", F.md5("shingle").alias("h"))
    rk = F.row_number().over(Window.partitionBy("doc_id").orderBy("h"))
    bk = hashes.withColumn("rk", rk).filter(F.col("rk") <= BOTTOM_K_SKETCH).select(
        "doc_id", "h"
    )
    stats = bk.groupBy("h").agg(
        F.count("*").alias("bucket_n"), F.min("doc_id").alias("bucket_hub")
    )
    lhs = (
        bk.join(stats, "h")
        .filter(
            (F.col("bucket_n") <= SKETCH_BUCKET_CAP)
            | (F.col("doc_id") == F.col("bucket_hub"))
        )
        .select("doc_id", "h")
    )
    a, b = lhs.alias("a"), bk.alias("b")
    cands = (
        a.join(
            b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    want = (
        _pair_shingle_intersections(shd, cands)
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.round(F.col("n_inter") / F.col("n_a"), 6).alias("containment_a_in_b"),
            F.round(F.col("n_inter") / F.col("n_b"), 6).alias("containment_b_in_a"),
        )
        .filter(
            F.greatest("containment_a_in_b", "containment_b_in_a")
            >= CONTAINMENT_THRESHOLD
        )
    )
    cols = ["doc_a", "doc_b", "n_inter", "containment_a_in_b", "containment_b_in_a"]
    assert _multiset_equal(got, want, cols)


def test_shingle_repartition_single_exchange_feeds_distinct_and_sigs(spark, sf_dir):
    """The r6 doc_id-repartitioned shingle stream must let BOTH the
    (doc_id, shingle) distinct and the groupBy(doc_id) signature
    aggregation reuse the one repartition exchange: hashpartitioning on
    doc_id satisfies clustering on any superset key. If a Catalyst change
    ever stops that satisfaction, this pin catches the silently re-added
    corpus-sized shuffle."""
    from cca_spark.operators.dedup import (
        corpus_shingles,
        dedup_corpus,
        minhash_signatures,
    )

    # earlier dedup tests leave the shingle stream registered with the
    # CacheManager; a matching subtree here would be swapped for an
    # InMemoryRelation (whose stored plan prints its own exchange) and
    # make the count meaningless — clear first
    spark.catalog.clearCache()
    corpus = dedup_corpus(spark, sf_dir)
    # uncached replica of the operator's pre-persist chain, so the full
    # physical plan (not an InMemoryRelation) is visible
    sh = corpus_shingles(corpus).repartition(F.col("doc_id")).distinct()
    sigs = minhash_signatures(corpus, shingles=sh, with_count=True)
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 exchange, plan has {n_exchanges}:\n{plan}"


def test_novalue_kernel_matches_full(spark, sf_dir):
    """parse_facts(with_value=False) must emit exactly the full stream
    minus the value column — same rows, same spans, same significance —
    for both strategies, and the two strategies must agree with each
    other (the range-containment consumer switches on this)."""
    from cca_spark.transcripts import load_transcripts
    from cca_spark.operators.parse import parse_facts

    # a key predicate, not an unordered limit: every derivation below reads
    # the same turns whatever the task layout
    t = load_transcripts(spark, sf_dir).filter(
        F.pmod(F.xxhash64("conv_id", "turn_idx"), 2) == 0
    )
    cols = [
        "entity_id", "conv_id", "turn_idx", "role", "tool", "ts",
        "rule_id", "sink", "significance", "span_start", "span_end",
    ]
    full = parse_facts(t).select(*cols)
    nv = parse_facts(t, with_value=False)
    assert nv.columns == cols
    assert _multiset_equal(full, nv, cols)
    nv_sql = parse_facts(t, strategy="sql", with_value=False)
    assert nv_sql.columns == cols
    assert _multiset_equal(nv, nv_sql, cols)
