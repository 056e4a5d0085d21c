"""Round-6 optimization-round tests: every internals change an operator
took this round keeps a focused parity pin here (the brief's rule —
optimizations must not change what any query computes).

- the Arrow/RE2 partials kernel vs the full-fact Python re kernel's
  per-key counts, on corpus text and on hostile text
- the single-generate (inline) SQL parse strategy vs the Python strategy
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


_PARTIAL_KEYS = ["conv_id", "tool", "date_bucket", "sink"]


def _full_kernel_counts(batch):
    """Reference for the counting kernel: the full-fact Python re kernel's
    rows counted per (conv_id, tool, floor(ts, day), sink)."""
    from cca_spark.operators.parse import _extract_facts_arrow, compile_bank

    facts = _extract_facts_arrow(batch, compile_bank()).to_pandas()
    facts["date_bucket"] = facts["ts"].dt.floor("D")
    return facts.groupby(_PARTIAL_KEYS, dropna=False).size().rename("n").reset_index()


def _assert_same_counts(ref, got):
    r = ref.sort_values(_PARTIAL_KEYS).reset_index(drop=True)
    g = got.sort_values(_PARTIAL_KEYS).reset_index(drop=True)
    assert len(r) == len(g)
    for c in _PARTIAL_KEYS + ["n"]:
        rc = r[c].where(pd.notna(r[c]), None).astype(str)
        gc = g[c].where(pd.notna(g[c]), None).astype(str)
        assert (rc.values == gc.values).all(), f"column {c} diverged"


def test_arrow_partials_kernel_parity(spark, sf_dir):
    """The RE2 counting kernel must reproduce the full-fact Python re
    kernel's per-key counts bit-for-bit on real corpus text — per-rule
    counts, role/tool scoping, date flooring and the grouping tail."""
    from cca_spark.operators.parse import _extract_partials_arrow
    from cca_spark.transcripts import load_transcripts

    table = load_transcripts(spark, sf_dir).toArrow().combine_chunks()
    (batch,) = table.to_batches()
    _assert_same_counts(
        _full_kernel_counts(batch), _extract_partials_arrow(batch).to_pandas()
    )


def test_partials_kernel_hostile_input_parity():
    """Both kernels count the same facts per key on hostile text: NULL and
    empty text, a 1M-char tool turn, a multi-match turn, and non-ASCII
    text whose Arabic-Indic digits must not match ``\\d`` in either regex
    engine (the bank is ASCII in Python re and in RE2)."""
    import datetime

    import pyarrow as pa

    from cca_spark.operators.parse import _extract_partials_arrow

    day1 = datetime.datetime(2024, 1, 1, 23, 59)
    day2 = datetime.datetime(2024, 1, 2, 0, 1)
    huge = (
        "exit code 3\n"
        + "x" * 1_000_000
        + "\nTOOL_CALL: name=bash args={\"q\": 7}\nexit code 12\nretry 1/3 scheduled"
    )
    rows = [
        ("c1", 0, "user", None, None, day1),
        ("c1", 1, "assistant", "", None, day1),
        ("c1", 2, "tool", None, "bash", day1),
        ("c1", 3, "tool", huge, "bash", day2),
        ("c2", 0, "assistant", "ERROR 1: a\nERROR 2: b", None, day1),
        ("c2", 1, "assistant", "ERROR 1: a\nERROR 2: b", None, day2),
        ("c3", 0, "tool", "exit code \u0663\nexit code 4", "bash", day1),
        ("c3", 1, "assistant", "ERROR \u0662: x\nERROR 7: café naïve 漢字", None, day1),
        ("c3", 2, "assistant", "WARN 警告 déjà vu\nx = 5 ü\nrender 12ms", None, day1),
        ("c3", 3, "user", "check item \u0665 and report 日本語", None, day1),
        ("c3", 4, "system", "session start for user 42 locale=fr-FR ñ", None, day1),
    ]
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    pdf = pd.DataFrame(rows, columns=cols)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us")),
        ]
    )
    batch = pa.RecordBatch.from_pandas(pdf, schema=schema, preserve_index=False)
    ref = _full_kernel_counts(batch)
    got = _extract_partials_arrow(batch).to_pandas()
    _assert_same_counts(ref, got)
    # the probes reach the paths they target: both multi-match days count
    # 2 error facts, and the Arabic-Indic digits add nothing
    err = ref[(ref["conv_id"] == "c2") & (ref["sink"] == "error_signature")]
    assert err["n"].tolist() == [2, 2]
    c3 = ref[(ref["conv_id"] == "c3") & ref["tool"].isna()].set_index("sink")["n"]
    assert c3["error_signature"] == 2  # ERROR 7 and WARN; not ERROR \u0662
    bash = ref[(ref["conv_id"] == "c3") & (ref["tool"] == "bash")]
    assert bash["n"].tolist() == [2]  # two rules on exit code 4; not \u0663


def test_kernel_fact_arrow_schema_matches_ddl(spark):
    """The full-fact kernel's Arrow schema, derived without a session, is
    the one pyspark derives from the DDL that mapInArrow declares."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from cca_spark.operators.parse import KERNEL_FACT_ARROW_SCHEMA, KERNEL_FACT_SCHEMA

    assert KERNEL_FACT_ARROW_SCHEMA == to_arrow_schema(StructType.fromDDL(KERNEL_FACT_SCHEMA))


def test_sql_parse_strategy_single_generate_parity(spark, sf_dir):
    """The r6 inline(flatten(transform(...))) SQL strategy must emit the
    identical fact multiset (all 12 columns) as the Python kernel."""
    from cca_spark.operators.parse import FACT_COLUMNS, parse_facts
    from cca_spark.transcripts import load_transcripts

    t = load_transcripts(spark, sf_dir)
    sql = parse_facts(t, strategy="sql").select(*FACT_COLUMNS)
    python = parse_facts(t, strategy="python").select(*FACT_COLUMNS)
    assert _multiset_equal(sql, python, FACT_COLUMNS)


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

    facts = parse_facts(load_transcripts(spark, sf_dir), strategy="python")
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
