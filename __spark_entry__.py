"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship parse→enrich→route→aggregate pipeline on
sf0.001. ``queries()``/``oracle_sql()`` expose each implemented operator
from SURVEY.md §2 with a DuckDB-equivalent SQL oracle (the transcripts
input is derived deterministically from the driver's ``events`` parquet via
one dialect-shared SQL expression, so both engines see identical inputs).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FACT_OUT_COLS = [
    "entity_id",
    "conv_id",
    "turn_idx",
    "role",
    "tool",
    "rule_id",
    "sink",
    "significance",
    "span_start",
    "span_end",
    "value",
]


def _ensure_dist(spark: SparkSession) -> None:
    """Make cca_spark importable on executor workers regardless of the
    caller's cwd/session (runtime analog of spark-submit --py-files)."""
    from cca_spark.dist import ensure_on_executors

    ensure_on_executors(spark)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from cca_spark.plans.pipeline import pipeline_agg

    _ensure_dist(spark)
    return pipeline_agg(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------- pipeline


def _routed(spark: SparkSession, sf_dir: str, strategy: str = "python") -> DataFrame:
    from cca_spark.plans.pipeline import routed_facts
    from cca_spark.transcripts import load_transcripts

    return routed_facts(spark, load_transcripts(spark, sf_dir), parse_strategy=strategy)


def q_pipeline_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cca_spark.plans.pipeline import pipeline_agg

    return pipeline_agg(spark, sf_dir)


def q_parse_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _routed(spark, sf_dir).select(*FACT_OUT_COLS)


def q_parse_facts_sql_strategy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _routed(spark, sf_dir, strategy="sql").select(*FACT_OUT_COLS)


def q_enriched_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _routed(spark, sf_dir).select(
        "entity_id", "sink", "tool", "category", "family", "risk_level", "actor_kind"
    )


def q_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _routed(spark, sf_dir)
        .filter(F.col("sink") == "dead_letter")
        .select("entity_id", "conv_id", "turn_idx", "tool", "value")
    )


def q_turn_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cca_spark.operators.aggregate import turn_ordering_check
    from cca_spark.transcripts import load_transcripts

    return turn_ordering_check(load_transcripts(spark, sf_dir))


def q_successor_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cca_spark.transcripts import load_transcripts

    t = load_transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return t.select(
        "conv_id",
        "turn_idx",
        F.lead("turn_idx").over(w).alias("next_turn_idx"),
        F.lead("role").over(w).alias("next_role"),
        (
            F.unix_micros(F.lead("ts").over(w).cast("timestamp"))
            - F.unix_micros(F.col("ts").cast("timestamp"))
        ).alias("gap_micros"),
    )


def q_min_max_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cca_spark.operators.aggregate import min_max_turns
    from cca_spark.transcripts import load_transcripts

    return min_max_turns(load_transcripts(spark, sf_dir))


def q_coverage_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cca_spark.operators.aggregate import coverage_rollup

    return coverage_rollup(_routed(spark, sf_dir))


def q_top_k_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cca_spark.operators.aggregate import top_k_patterns

    return top_k_patterns(_routed(spark, sf_dir)).withColumn(
        "rank", F.col("rank").cast("int")
    )


def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cca_spark.operators.aggregate import sample_per_group

    return sample_per_group(_routed(spark, sf_dir)).select(
        "entity_id", "sink", "date_bucket", "rule_id"
    )


def _content_sig(path: str) -> str:
    """mtime+size signature of a file or one-level directory — the shared
    cache-key ingredient of both stream-staging helpers (a regenerated
    parquet at the same path must invalidate any staged stream source)."""
    sigs = []
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, name))
            sigs.append(f"{name}:{st.st_mtime_ns}:{st.st_size}")
    else:
        st = os.stat(path)
        sigs.append(f"{st.st_mtime_ns}:{st.st_size}")
    return ";".join(sigs)


def _staged_stream_input(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the transcripts as a file-stream source dir (idempotent).

    The cache tag is keyed on the INPUT CONTENT (via _content_sig) AND the
    derivation version: a regenerated parquet at the same path or an
    edited transcript template must invalidate the staged stream source,
    never silently reuse it."""
    import hashlib

    from cca_spark.transcripts import TRANSCRIPTS_SQL, load_transcripts

    events_path = os.path.join(sf_dir, "events.parquet")
    tag = hashlib.md5(
        f"{sf_dir}|{_content_sig(events_path)}|{TRANSCRIPTS_SQL}".encode()
    ).hexdigest()[:12]
    input_dir = f"/tmp/cca_stream_src_{tag}"
    if not os.path.exists(os.path.join(input_dir, "_SUCCESS")):
        load_transcripts(spark, sf_dir).repartition(8).write.mode(
            "overwrite"
        ).parquet(input_dir)
    return input_dir


# chunks of the event-time-ordered stream source (part of its cache tag)
STREAM_TS_CHUNKS = 10


def _staged_stream_input_ts_ordered(spark: SparkSession, sf_dir: str) -> str:
    """EVENT-TIME-ORDERED stream staging for the TTL dedup: chunk k of
    ``STREAM_TS_CHUNKS`` holds the k-th slice of distinct event days and
    chunks are written SEQUENTIALLY (strictly increasing mtime and
    lexicographic names), so the file source delivers them oldest-first.
    With day-aligned chunks,
    every row's event time is ahead of the watermark computed from earlier
    files — no late-data drop is possible, which is what makes the plain
    batch GROUP BY a valid oracle for the watermark-evicting query (see
    streaming/pipeline.streaming_dedup_ttl). Cache-keyed like
    _staged_stream_input."""
    import glob
    import hashlib
    import shutil

    from cca_spark.transcripts import TRANSCRIPTS_SQL, load_transcripts

    events_path = os.path.join(sf_dir, "events.parquet")

    tag = hashlib.md5(
        f"tsord|{sf_dir}|{_content_sig(events_path)}|{TRANSCRIPTS_SQL}|{STREAM_TS_CHUNKS}".encode()
    ).hexdigest()[:12]
    input_dir = f"/tmp/cca_stream_src_ts_{tag}"
    done = os.path.join(input_dir, "_STAGED_OK")
    if os.path.exists(done):
        return input_dir
    shutil.rmtree(input_dir, ignore_errors=True)
    os.makedirs(input_dir)
    t = load_transcripts(spark, sf_dir)
    days = sorted(
        r["d"] for r in t.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    per = max(1, (len(days) + STREAM_TS_CHUNKS - 1) // STREAM_TS_CHUNKS)
    for i in range(0, len(days), per):
        group = days[i : i + per]
        tmp_out = f"{input_dir}.tmp_{i}"
        (
            t.filter(F.to_date("ts").isin(group))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp_out)
        )
        part = glob.glob(os.path.join(tmp_out, "part-*.parquet"))[0]
        dest = os.path.join(input_dir, f"chunk_{i:05d}.parquet")
        shutil.move(part, dest)
        # pin strictly increasing mtimes explicitly (ADVICE r05): on a
        # coarse-mtime filesystem two sequentially written chunks can tie
        # and be delivered out of order by the file source, silently
        # dropping late rows vs the batch oracle
        os.utime(dest, ns=(1_000_000_000 * (i + 1), 1_000_000_000 * (i + 1)))
        shutil.rmtree(tmp_out, ignore_errors=True)
    with open(done, "w") as f:
        f.write("ok")
    return input_dir


def q_streaming_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state (EventTimeTimeout): generations
    are event-time day windows, state for a window is evicted once the
    watermark passes its end, and an evicted key re-entering (a later day)
    counts as new. Oracle = batch GROUP BY (md5(text), day) — valid
    because the staged input is event-time-ordered so eviction is pure
    state GC (VERDICT r04 #4)."""
    import uuid

    from cca_spark.streaming.pipeline import run_dedup_ttl_to_memory

    input_dir = _staged_stream_input_ts_ordered(spark, sf_dir)
    qname = f"q_stream_ttl_{uuid.uuid4().hex[:8]}"
    df, _stats = run_dedup_ttl_to_memory(spark, input_dir, query_name=qname)
    return df


def q_streaming_pipeline_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming variant of the flagship aggregate: the same
    parse/enrich/route operators over a file-source readStream
    (availableNow), aggregated after the stream drains. Must equal the
    batch pipeline's oracle exactly — streaming/batch parity is the
    correctness claim (SURVEY §2.12)."""
    import uuid

    from cca_spark.operators.aggregate import agg_per_sink
    from cca_spark.streaming.pipeline import run_stream_to_memory

    input_dir = _staged_stream_input(spark, sf_dir)
    qname = f"q_stream_{uuid.uuid4().hex[:8]}"
    routed = run_stream_to_memory(spark, input_dir, query_name=qname)
    return agg_per_sink(routed)


def q_streaming_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARKED tumbling-window streaming aggregate, driven to
    completion (availableNow): event-time 1-day windows per (sink, tool),
    exact counts. The oracle is the equivalent batch day-bucket aggregate
    — the watermark/window machinery must reproduce it bit-for-bit."""
    import uuid

    from cca_spark.streaming.pipeline import run_windowed_agg_to_memory

    input_dir = _staged_stream_input(spark, sf_dir)
    qname = f"q_stream_win_{uuid.uuid4().hex[:8]}"
    return run_windowed_agg_to_memory(spark, input_dir, query_name=qname)


def q_streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): the
    per-conversation running fact counter's FINAL state after the stream
    drains must equal the batch per-conversation fact count. The memory
    sink accumulates one update row per (conv, microbatch); the final
    total is the max (counts are monotone)."""
    import uuid

    from cca_spark.streaming.pipeline import run_stateful_totals_to_memory

    input_dir = _staged_stream_input(spark, sf_dir)
    qname = f"q_stream_state_{uuid.uuid4().hex[:8]}"
    return run_stateful_totals_to_memory(spark, input_dir, query_name=qname)


def q_streaming_dedup_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact dedup (applyInPandasWithState keyed by content
    hash): after the stream drains, per-key state (min doc key, copy
    count) must equal the batch md5-groupBy bit-for-bit — state is
    bounded by DISTINCT texts, not turns (SURVEY §2.12 + dedup family)."""
    import uuid

    from cca_spark.streaming.pipeline import run_first_seen_dedup_to_memory

    input_dir = _staged_stream_input(spark, sf_dir)
    qname = f"q_stream_dedup_{uuid.uuid4().hex[:8]}"
    return run_first_seen_dedup_to_memory(spark, input_dir, query_name=qname)


def q_ontology_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cca_spark.ontology import ontology_closure_df

    return ontology_closure_df(spark)


def _q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interchange-format query: parquet -> JSONL -> read back -> per-source
    order-independent content digest; must hash-match the oracle computed
    over the ORIGINAL parquet (lossless textual round-trip)."""
    from cca_spark.sources.interchange import jsonl_roundtrip_digest

    return jsonl_roundtrip_digest(spark, sf_dir)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Name -> query function ``(spark, sf_dir) -> DataFrame``; every name
    except ``approx_stats`` and ``lcs_pair_alignment`` (rows-only by
    design) has a DuckDB twin in ``oracle_sql()``.

    Insertion order is priority order. A correctness battery capped below
    the full list checks a prefix, so the order carries the rotation
    policy: queries whose code or inputs changed since their last green
    oracle check lead; code-unchanged queries that were green at the last
    check fill the tail, with the two rows-only entries last."""
    from cca_spark.operators import dedup as DD
    from cca_spark.operators import delta as DL
    from cca_spark.operators import mapping as MAP
    from cca_spark.operators import multimodal as MM
    from cca_spark.operators import relational as R
    from cca_spark.operators import similarity as SIM
    from cca_spark.operators import textstats as TS

    def q_salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
        from cca_spark.operators.route import skew_salt_plan
        from cca_spark.transcripts import load_transcripts

        return skew_salt_plan(load_transcripts(spark, sf_dir))

    def q_second_gen(spark: SparkSession, sf_dir: str) -> DataFrame:
        from cca_spark.operators.aggregate import second_gen_pattern_facts

        return second_gen_pattern_facts(_routed(spark, sf_dir))

    def q_conv_diff_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
        from cca_spark.operators.aggregate import conv_diff_stat
        from cca_spark.transcripts import load_transcripts

        t = load_transcripts(spark, sf_dir)
        return conv_diff_stat(t, _routed(spark, sf_dir))

    def q_guard_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
        from cca_spark.operators.enrich import guard_fact_lookup

        return guard_fact_lookup(_routed(spark, sf_dir))

    def q_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
        return SIM.ivf_ann_nprobe(spark, sf_dir, nprobe=SIM.IVF_NPROBE)

    from cca_spark.operators import corpus_prep as CP
    from cca_spark.operators import decontam as DC
    from cca_spark.operators import redact as RED

    # ---- head 1: r6-changed lineage (transcripts repartition + parse
    # kernel rewrites reach every entry here; dedup.py/similarity.py
    # restructures cover the rest)
    changed = {
        "parse_route_facts": q_parse_facts,
        "parse_facts_sql_strategy": q_parse_facts_sql_strategy,
        "pipeline_agg_per_sink": q_pipeline_agg,
        "range_containment_suppression": R.range_containment_suppression,
        "dedup_minhash_lsh": DD.minhash_lsh_pairs,
        "dedup_keep_list_transitive": DD.dedup_keep_list_transitive,
        "dedup_canonical_by_quality": DD.dedup_canonical_by_quality,
        "ngram_containment": DD.ngram_containment_pairs,
        "dedup_ngram_jaccard": DD.ngram_jaccard_all_candidates,
        "dedup_simhash64_banded": DD.simhash64_near_dup_pairs,
        "dedup_exact": DD.exact_dedup,
        "ann_brute_force_topk": SIM.brute_force_topk,
        "ann_lsh_bucketed": SIM.lsh_bucketed_ann,
        "dedup_embedding_cosine": SIM.embedding_cosine_near_dup,
        "streaming_dedup_ttl": q_streaming_dedup_ttl,  # + staging mtime pin
        "streaming_pipeline_agg": q_streaming_pipeline_agg,
        "streaming_windowed_agg": q_streaming_windowed_agg,
        "streaming_stateful_totals": q_streaming_stateful_totals,
        "streaming_dedup_first_seen": q_streaming_dedup_first_seen,
        "enrich_tool_ontology": q_enriched_facts,
        "route_dead_letter": q_dead_letter,
        "coverage_rollup": q_coverage_rollup,
        "top_k_patterns": q_top_k_patterns,
        "sample_per_group": q_sample_per_group,
        "guard_fact_lookup": q_guard_lookup,
        "second_gen_pattern_facts": q_second_gen,
        "conv_diff_stat": q_conv_diff_stat,
        "fragment_sets": DL.fragment_sets,
        "group_count_having": DL.group_count_having,
        "pivot_role_sink": DL.pivot_role_sink,
        "except_unclassified_turns": R.except_unclassified_turns,
        "skew_salt_plan": q_salt_plan,
        "similar_turn_pairs": R.similar_turn_pairs,
        "exact_stats": DL.exact_stats,
        "turn_ordering_invariant": q_turn_ordering,
        "min_max_turns": q_min_max_turns,
        "successor_facts": q_successor_facts,
        "theta_join_next_turn": R.theta_join_next_turn,
        "scalar_function_battery": R.scalar_function_battery,
    }
    # ---- head 2: last driver row is r4 (r5's shadow), code-unchanged —
    # rotate back into the battery per the standing policy
    stale_r4 = {
        "multimodal_real_decode": MM.multimodal_real_decode,
        "multimodal_payload_decode": MM.multimodal_payload_decode,
        "multimodal_frame_sample": MM.frame_sample,
        "ontology_closure_fixpoint": q_ontology_closure,
        "cdc_merge": DL.cdc_merge,
        "cdc_merge_reverse": DL.cdc_merge_reverse,
        "patch_hunks": DL.patch_hunks,
        "tree_delta_apply": DL.tree_delta_apply,
        "snapshot_rename_move_map": MAP.snapshot_mapping,
    }
    # ---- slack slots (r5-green, code-unchanged; re-evidenced while the
    # ~50-cap has room)
    slack = {
        "pricing_summary": R.pricing_summary,
        "join_chain_revenue": R.join_chain_revenue,
        "broadcast_derived_key_join": R.broadcast_derived_key_join,
        "conditional_predicate_join": R.conditional_predicate_join,
        "anti_join_unmatched": R.anti_join_unmatched,
        "semi_join_existing": R.semi_join_existing,
        "union_alternative_keys": R.union_alternative_keys,
        "running_window_total": R.running_window_total,
        "sessionize_events": R.sessionize_events,
        "ancestor_paths": R.ancestor_paths,
        "token_explode_counts": R.token_explode_counts,
        "ann_ivf_nprobe": q_ivf_nprobe,
        "ann_ivf_trained": SIM.ivf_ann_trained,
        "bm25_retrieval": TS.bm25_retrieval,
        "tfidf_top_terms": TS.tfidf_top_terms,
        "jsonl_roundtrip": _q_jsonl_roundtrip,
    }
    # ---- tail shadow (beyond the ~50 cap): code-unchanged AND r5-green
    # document-family ops, plus the two rows-only-by-design entries
    shadow = {
        "pii_scrub": RED.pii_scrub,
        "ngram_decontaminate": DC.ngram_decontaminate,
        "repetition_filter": DC.repetition_filter,
        "lm_unigram_score": CP.lm_unigram_logprob,
        "pack_token_budget": CP.pack_token_budget,
        "pack_assemble": CP.pack_assemble,
        "mixture_weighted_sample": CP.mixture_weighted_sample,
        "corpus_shard_shuffle": CP.corpus_shard_shuffle,
        "per_source_cap": CP.per_source_cap,
        "vocab_coverage": CP.vocab_coverage,
        "hash_split": CP.hash_split,
        "repeated_span_fraction": DD.repeated_span_fraction,
        "lang_id_heuristic": TS.lang_id,
        "quality_score": TS.quality_score,
        "token_count": TS.token_count,
        "length_histogram": TS.length_histogram,
        "doc_fingerprint": TS.doc_fingerprint,
        "approx_stats": DL.approx_stats,  # rows-only (approximate by design)
        "lcs_pair_alignment": DL.lcs_pair_alignment,  # rows-only (difflib)
    }

    def wrap(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_dist(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = getattr(fn, "__name__", "query")
        return wrapped

    all_queries = changed | stale_r4 | slack | shadow
    return {name: wrap(fn) for name, fn in all_queries.items()}


def oracle_sql() -> dict[str, str]:
    from cca_spark import oracles
    from cca_spark import oracles_relational as OR
    from cca_spark import oracles_training as OT
    from cca_spark.operators.aggregate import SAMPLE_PER_GROUP, TOP_K_PATTERNS
    from cca_spark.operators.enrich import GUARD_MIN_INSTANCES, GUARD_MIN_SIGNIFICANCE
    from cca_spark.operators.similarity import IVF_NPROBE

    sf = "/root/testdata/sf0.01"
    fact_cols = ", ".join(FACT_OUT_COLS)
    new_r2 = {
        "tree_delta_apply": OR.tree_delta_apply_sql(),
        # streaming/batch parity: the watermarked windowed agg and the
        # stateful running counter must reproduce the batch aggregates
        "streaming_windowed_agg": oracles.with_routed(
            sf,
            "SELECT cast(ts AS date) AS day, sink, tool, count(*) AS n_rows "
            "FROM routed GROUP BY 1, 2, 3",
        ),
        "streaming_stateful_totals": oracles.with_routed(
            sf, "SELECT conv_id, count(*) AS n_facts FROM routed GROUP BY conv_id"
        ),
        # streaming/batch parity: stateful first-seen dedup must equal the
        # batch md5-groupBy (keeper = min doc key, both engines' string
        # min over ASCII keys)
        "streaming_dedup_first_seen": oracles.with_transcripts(
            sf,
            "SELECT md5(text) AS text_md5, "
            "min(conv_id || ':' || cast(turn_idx AS varchar)) AS keeper_doc, "
            "count(*) AS n_copies FROM t GROUP BY 1",
        ),
        # TTL variant (r5): generations are event-time day windows, state
        # evicted past the watermark — batch parity per (text, day)
        "streaming_dedup_ttl": oracles.with_transcripts(
            sf,
            "SELECT md5(text) AS text_md5, cast(ts AS date) AS day, "
            "min(conv_id || ':' || cast(turn_idx AS varchar)) AS keeper_doc, "
            "count(*) AS n_copies FROM t GROUP BY 1, 2",
        ),
        "tfidf_top_terms": OT.tfidf_top_terms_sql(),
        "multimodal_payload_decode": OT.multimodal_payload_decode_sql(),
        "bm25_retrieval": OT.bm25_retrieval_sql(),
        "dedup_keep_list_transitive": OT.dedup_keep_list_transitive_sql(),
        # r5: keeper policy as a quality ranking (best member, not min id)
        "dedup_canonical_by_quality": OT.dedup_canonical_by_quality_sql(),
        "dedup_simhash64_banded": OT.simhash64_near_dup_pairs_sql(),
        "ann_ivf_nprobe": OT.ivf_ann_sql(nprobe=IVF_NPROBE),
        # r5: Lloyd means are 6dp fixed-point inside the training loop, so
        # the trained-IVF ANN is hash-oracle-able (was rows-only in r3/r4)
        "ann_ivf_trained": OT.ivf_ann_trained_sql(),
        "snapshot_rename_move_map": OR.snapshot_mapping_sql(),
        "guard_fact_lookup": oracles.with_routed(
            sf,
            ", guards AS ("
            "  SELECT md5(conv_id || ':' || rule_id) AS guard_id, conv_id, rule_id,"
            "    count(*) AS n_instances, max(significance) AS max_sig"
            "  FROM routed GROUP BY conv_id, rule_id"
            ") "
            "SELECT f.entity_id, g.guard_id, f.conv_id, f.rule_id, f.sink, g.n_instances "
            "FROM routed f JOIN guards g "
            "  ON f.conv_id = g.conv_id AND f.rule_id = g.rule_id "
            f"WHERE g.n_instances >= {GUARD_MIN_INSTANCES} "
            f"AND g.max_sig >= {GUARD_MIN_SIGNIFICANCE}",
        ),
        # reversible delta: apply∘reverse = identity, so the oracle is the
        # UNTOUCHED original table (it never saw the changelog)
        "cdc_merge_reverse": (
            "SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal FROM customer"
        ),
        "similar_turn_pairs": OR.similar_turn_pairs_sql(sf),
        "exact_stats": oracles.with_transcripts(
            sf,
            "SELECT role, count(DISTINCT conv_id) AS n_convs, "
            "round(quantile_cont(length(text), 0.5), 6) AS len_p50, "
            "round(quantile_cont(length(text), 0.95), 6) AS len_p95, "
            "round(quantile_cont(length(text), 0.99), 6) AS len_p99, "
            "count(*) AS n_turns FROM t GROUP BY role",
        ),
    }
    training = {
        "pii_scrub": OT.pii_scrub_sql(),
        "ngram_decontaminate": OT.ngram_decontaminate_sql(),
        "repetition_filter": OT.repetition_filter_sql(),
        "lm_unigram_score": OT.lm_unigram_logprob_sql(),
        "pack_token_budget": OT.pack_token_budget_sql(),
        "pack_assemble": OT.pack_assemble_sql(),
        "mixture_weighted_sample": OT.mixture_weighted_sample_sql(),
        "corpus_shard_shuffle": OT.corpus_shard_shuffle_sql(),
        "per_source_cap": OT.per_source_cap_sql(),
        "vocab_coverage": OT.vocab_coverage_sql(),
        "hash_split": OT.hash_split_sql(),
        "jsonl_roundtrip": OT.jsonl_roundtrip_sql(),
        "ngram_containment": OT.ngram_containment_sql(),
        "repeated_span_fraction": OT.repeated_span_fraction_sql(),
        "lang_id_heuristic": OT.lang_id_sql(),
        "quality_score": OT.quality_score_sql(),
        "token_count": OT.token_count_sql(),
        "length_histogram": OT.length_histogram_sql(),
        "doc_fingerprint": OT.doc_fingerprint_sql(),
        "dedup_exact": OT.exact_dedup_sql(),
        "dedup_minhash_lsh": OT.minhash_lsh_pairs_sql(),
        "dedup_ngram_jaccard": OT.ngram_jaccard_sql(),
        "multimodal_real_decode": OT.multimodal_real_decode_sql(),
        "ann_brute_force_topk": OT.brute_force_topk_sql(),
        "ann_lsh_bucketed": OT.lsh_bucketed_ann_sql(),
        "dedup_embedding_cosine": OT.embedding_near_dup_sql(),
        "multimodal_frame_sample": OT.frame_sample_sql(),
    }
    rel = {
        "pricing_summary": OR.pricing_summary_sql(),
        "join_chain_revenue": OR.join_chain_revenue_sql(),
        "broadcast_derived_key_join": OR.broadcast_derived_key_join_sql(),
        "conditional_predicate_join": OR.conditional_predicate_join_sql(),
        "anti_join_unmatched": OR.anti_join_unmatched_sql(),
        "semi_join_existing": OR.semi_join_existing_sql(),
        "theta_join_next_turn": OR.theta_join_next_turn_sql(sf),
        "range_containment_suppression": OR.range_containment_suppression_sql(sf),
        "union_alternative_keys": OR.union_alternative_keys_sql(),
        "except_unclassified_turns": OR.except_unclassified_turns_sql(sf),
        "running_window_total": OR.running_window_total_sql(),
        "sessionize_events": OR.sessionize_events_sql(),
        "scalar_function_battery": OR.scalar_function_battery_sql(sf),
        "ancestor_paths": OR.ancestor_paths_sql(),
        "token_explode_counts": OR.token_explode_counts_sql(),
    }
    delta_ops = {
        "patch_hunks": OR.patch_hunks_sql(sf),
        "conv_diff_stat": OR.conv_diff_stat_sql(sf),
        "second_gen_pattern_facts": OR.second_gen_pattern_facts_sql(sf),
        "skew_salt_plan": OR.skew_salt_plan_sql(sf),
        "fragment_sets": OR.fragment_sets_sql(sf),
        "cdc_merge": OR.cdc_merge_sql(),
        "group_count_having": OR.group_count_having_sql(sf),
        "pivot_role_sink": OR.pivot_role_sink_sql(sf),
        # lcs_pair_alignment, approx_stats: intentionally no oracle
        # (difflib alignment / approximate sketches are not SQL-expressible)
    }
    return new_r2 | delta_ops | training | rel | {
        "pipeline_agg_per_sink": oracles.with_routed(
            sf,
            "SELECT sink, tool, date_bucket, count(*) AS n_rows, "
            "count(DISTINCT conv_id) AS n_convs FROM routed GROUP BY 1, 2, 3",
        ),
        # streaming/batch parity: the stream must reproduce the batch
        # aggregate bit-for-bit, so it shares the batch oracle
        "streaming_pipeline_agg": oracles.with_routed(
            sf,
            "SELECT sink, tool, date_bucket, count(*) AS n_rows, "
            "count(DISTINCT conv_id) AS n_convs FROM routed GROUP BY 1, 2, 3",
        ),
        "parse_route_facts": oracles.with_routed(sf, f"SELECT {fact_cols} FROM routed"),
        "parse_facts_sql_strategy": oracles.with_routed(sf, f"SELECT {fact_cols} FROM routed"),
        "enrich_tool_ontology": oracles.with_routed(
            sf,
            "SELECT entity_id, sink, tool, category, family, risk_level, actor_kind FROM routed",
        ),
        "route_dead_letter": oracles.with_routed(
            sf,
            "SELECT entity_id, conv_id, turn_idx, tool, value FROM routed "
            "WHERE sink = 'dead_letter'",
        ),
        "turn_ordering_invariant": oracles.with_transcripts(
            sf,
            "SELECT conv_id, count(*) AS n_turns, cast(sum(CASE WHEN rn = turn_idx "
            "THEN 0 ELSE 1 END) AS bigint) AS n_order_violations FROM ("
            "  SELECT conv_id, turn_idx, row_number() OVER ("
            "    PARTITION BY conv_id ORDER BY turn_idx) - 1 AS rn FROM t"
            ") GROUP BY conv_id",
        ),
        "successor_facts": oracles.with_transcripts(
            sf,
            "SELECT conv_id, turn_idx, "
            "lead(turn_idx) OVER w AS next_turn_idx, "
            "lead(role) OVER w AS next_role, "
            "datediff('microsecond', ts, lead(ts) OVER w) AS gap_micros "
            "FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)",
        ),
        "min_max_turns": oracles.with_transcripts(
            sf,
            "SELECT conv_id, min(turn_idx) AS first_turn, max(turn_idx) AS last_turn, "
            "min_by(role, turn_idx) AS first_role, max_by(role, turn_idx) AS last_role "
            "FROM t GROUP BY conv_id",
        ),
        "coverage_rollup": oracles.with_routed(
            sf,
            "SELECT sink, rule_id, count(*) AS n_rows, "
            "cast(sum(significance) AS bigint) AS sig_sum "
            "FROM routed GROUP BY ROLLUP (sink, rule_id)",
        ),
        "top_k_patterns": oracles.with_routed(
            sf,
            "SELECT rule_id, sink, n, cast(rank AS int) AS rank FROM ("
            "  SELECT rule_id, sink, count(*) AS n, row_number() OVER ("
            "    ORDER BY count(*) DESC, rule_id ASC) AS rank "
            "  FROM routed GROUP BY rule_id, sink"
            f") WHERE rank <= {TOP_K_PATTERNS}",
        ),
        "sample_per_group": oracles.with_routed(
            sf,
            "SELECT entity_id, sink, date_bucket, rule_id FROM ("
            "  SELECT entity_id, sink, date_bucket, rule_id, row_number() OVER ("
            "    PARTITION BY sink, date_bucket ORDER BY md5(entity_id), entity_id"
            "  ) AS rn FROM routed"
            f") WHERE rn <= {SAMPLE_PER_GROUP}",
        ),
        "ontology_closure_fixpoint": oracles.closure_recursive_sql(),
    }
