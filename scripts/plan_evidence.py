#!/usr/bin/env python3
"""Generate PLANS.md — physical-plan evidence for the flagship queries.

For each audited query: the `.explain("formatted")` operator tree (trimmed
to the tree; detail sections only for scans, to show ReadSchema pruning and
PushedFilters) plus an automated checklist: broadcast joins where dims are
joined, no cartesian products, pruned scans.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

AUDIT = [
    ("pipeline_agg_per_sink", "flagship parse→enrich→route→aggregate"),
    ("parse_facts_sql_strategy", "single-scan JVM regex variant"),
    ("range_containment_suppression", "interval containment anti join"),
    ("broadcast_derived_key_join", "computed-key broadcast enrichment"),
    (
        "dedup_minhash_lsh",
        "shingle→minhash→band→bucket-join→verify (r5: oversized buckets "
        "prefiltered to hub-star below the self-join; r6: bucket stats "
        "via window over the join key, sizes folded into the sig agg)",
    ),
    ("ann_brute_force_topk", "brute-force cosine top-k"),
    ("sessionize_events", "gap sessionization window"),
    ("dedup_simhash64_banded", "64-bit simhash banded Hamming join"),
    ("ann_lsh_bucketed", "multi-table LSH candidate join + id-keyed rerank"),
    ("snapshot_rename_move_map", "two-version tree mapping joins"),
    ("guard_fact_lookup", "reified guard side-table semi-join"),
    ("similar_turn_pairs", "cheap length gate before levenshtein verify"),
    ("tree_delta_apply", "path-addressed delta interpreter (prefix joins)"),
    ("dedup_keep_list_transitive", "LSH pairs → min-label connected components"),
    # bm25: the single corpus token explode runs once inside the eager
    # localCheckpoint (tf there is query-term-filtered, tiny); r5 replaces
    # the single-task global row_number window with orderBy().limit(k) —
    # the plan must show TakeOrderedAndProject. tfidf (r5): tf is a LAZY
    # DISK_ONLY persist — both consumers read one InMemoryRelation, one
    # distinct Generate node.
    (
        "bm25_retrieval",
        "query-term BM25: one token explode, checkpointed tf, "
        "TakeOrderedAndProject top-k (r5)",
    ),
    (
        "tfidf_top_terms",
        "TF-IDF index: lazy DISK_ONLY tf cache (r5), AQE-chosen df join "
        "(no forced broadcast)",
    ),
    ("multimodal_payload_decode", "binary encode → Arrow payload decode (no shuffle)"),
    (
        "pii_scrub",
        "PII redaction (r5): regexp_replace chain — one codegen stage, "
        "zero shuffle, zero join",
    ),
    (
        "ngram_decontaminate",
        "test-set decontamination (r5): 8-gram explode, BroadcastHashJoin "
        "probe against the eval grams, partial+final per-doc count",
    ),
    (
        "repetition_filter",
        "repetition ratios (r5): array_distinct per row — one codegen "
        "stage, zero shuffle",
    ),
    (
        "lm_unigram_score",
        "unigram LM scoring (r5): one corpus token shuffle, AQE-chosen "
        "freq join, decimal-exact per-doc sum",
    ),
    (
        "pack_token_budget",
        "sequence packing (r5): shard-PARTITIONED cumsum window (no "
        "global single-task sort), integer bin arithmetic",
    ),
    (
        "ann_ivf_trained",
        "trained-IVF ANN (r5: 6dp fixed-point Lloyd, hash-oracled): "
        "broadcast centroid assign, cell-local rerank",
    ),
    (
        "mixture_weighted_sample",
        "source-mixture sampling (r5): one codegen scan→filter→project, "
        "2-column pruned read, zero shuffle, zero join",
    ),
    (
        "ngram_containment",
        "containment near-dup (r6): bottom-k sketch via per-doc hash agg "
        "(sort_array slice), window bucket stats, exact verify",
    ),
    (
        "dedup_canonical_by_quality",
        "canonical-by-quality keeper (r5): CC labels + ONE cluster_id-"
        "partitioned first_value window — no global window, no rn=1 "
        "self-join",
    ),
    (
        "corpus_shard_shuffle",
        "training-shard shuffle (r5): 1-column pruned scan, shard-"
        "PARTITIONED rank window (no global sort) over md5-derived keys",
    ),
    (
        "per_source_cap",
        "per-source cap (r5): ONE source-partitioned rank window — "
        "Catalyst infers a map-side Partial WindowGroupLimit, bounding "
        "hub domains before the shuffle",
    ),
    (
        "vocab_coverage",
        "vocabulary coverage (r5): token-count groupBy with map-side "
        "partials → TakeOrderedAndProject top-V → window over V rows only",
    ),
    (
        "pack_assemble",
        "packed-sequence assembly (r5): assignments⋈texts join, ONE "
        "budget-bounded groupBy(shard, bin) with per-group array_sort — "
        "no window, no global sort",
    ),
    (
        "repeated_span_fraction",
        "cross-doc boilerplate fraction (r5): two streamed shingle "
        "explodes (no data-sized checkpoint), AQE-chosen df join",
    ),
]


def production_day_stages(spark, sf: str):
    """The production-day stage DataFrames rebuilt at sf0.01 so their
    physical plans can be audited without the 25-minute run (VERDICT r04
    #7). Dataflow comes from the SHARED builders in cca_spark/chain.py —
    the same functions scripts/production_day.py executes, so this audit
    cannot drift from the pipeline that runs. Stage boundaries are
    localCheckpointed in the real script; here each stage consumes a
    checkpointed upstream the same way, so the printed plan is exactly the
    per-stage work (no silent upstream recomputation)."""
    from cca_spark import chain
    from cca_spark.plans.pipeline import routed_facts
    from cca_spark.transcripts import load_transcripts

    corpus = load_transcripts(spark, sf)
    stages = []
    # stage 1 (ingest): the routed fact stream the per-wave write persists
    stages.append(("ingest_routed_facts", routed_facts(spark, corpus)))
    docs = chain.turns_as_docs(corpus)
    groups = chain.exact_dedup_groups(docs)
    stages.append(("exact_dedup_groups", groups))
    survivors = chain.exact_dedup_survivors(
        groups.localCheckpoint(eager=True), docs
    )
    stages.append(("exact_dedup_survivors", survivors))
    surv_ck = survivors.localCheckpoint(eager=True)
    labels = chain.near_dup_labels(surv_ck)
    kept = chain.apply_keep_list(surv_ck, labels)
    stages.append(("near_dup_keep_list", kept))
    kept_ck = kept.localCheckpoint(eager=True)
    filtered = chain.quality_lang_filtered(kept_ck)
    stages.append(("quality_lang_filter", filtered))
    filt_ck = filtered.localCheckpoint(eager=True)
    stages.append(("tfidf_index", chain.build_tfidf_index(filt_ck)))
    scrubbed = chain.repetition_scrubbed(filt_ck)
    stages.append(("repetition_gate_pii_scrub", scrubbed))
    scrub_ck = scrubbed.localCheckpoint(eager=True)
    stages.append(("sequence_packing", chain.pack_sequences(scrub_ck)))
    stages.append(("epoch_shard_shuffle", chain.epoch_shuffle(scrub_ck)))
    return stages


def main() -> None:
    from cca_spark.session import get_spark

    import __spark_entry__ as e

    spark = get_spark(app_name="plan_evidence", master="local[8]")
    e._ensure_dist(spark)
    sf = "/root/testdata/sf0.01"
    qs = e.queries()

    out = [
        "# PLANS — physical-plan evidence (`.explain(\"formatted\")`, sf0.01)",
        "",
        "Checklist per query: dims broadcast (no fact-side shuffle for",
        "enrichment), no CartesianProduct, parquet scans column-pruned",
        "(ReadSchema shows only referenced columns). Generated by",
        "`scripts/plan_evidence.py`.",
        "",
    ]
    for name, blurb in AUDIT:
        df = qs[name](spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        tree = plan.split("\n\n")[0]
        # strip expression ids (#123L) so the doc is diff-stable
        tree = re.sub(r"#\d+L?", "", tree)
        scans = re.findall(
            r"\(\d+\) Scan parquet ?\n(?:.*\n)*?ReadSchema: [^\n]*", plan
        )
        n_cart = plan.count("CartesianProduct")
        n_bhj = tree.count("BroadcastHashJoin")
        n_smj = tree.count("SortMergeJoin")
        n_exch = tree.count("Exchange")
        out += [
            f"## {name}",
            "",
            blurb + ".",
            "",
            f"- BroadcastHashJoin: {n_bhj} · SortMergeJoin: {n_smj} · "
            f"Exchange: {n_exch} · CartesianProduct: {n_cart}",
            "",
            "```",
            tree.strip(),
            "```",
            "",
        ]
        if scans:
            out.append("Scan detail (column pruning / pushdown):")
            out.append("")
            out.append("```")
            for s in dict.fromkeys(scans):
                out.append(re.sub(r"#\d+L?", "", s).strip())
                out.append("")
            out.append("```")
            out.append("")
        assert n_cart == 0, f"{name}: CartesianProduct in plan"

    # --- production-day per-stage plans (VERDICT r04 #7): each stage
    # consumes a checkpointed upstream, so the tree below is exactly that
    # stage's own work — cross-stage recomputation would show up here as
    # the upstream plan reappearing under a non-checkpoint scan.
    out += [
        "## production-day per-stage plans",
        "",
        "`scripts/production_day.py` dataflow rebuilt at sf0.01 (same",
        "operator functions; stage boundaries localCheckpointed like the",
        "real script). Each tree is the stage's own work only.",
        "",
    ]
    for sname, df in production_day_stages(spark, sf):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        tree = re.sub(r"#\d+L?", "", plan.split("\n\n")[0])
        n_cart = plan.count("CartesianProduct")
        out += [
            f"### stage: {sname}",
            "",
            f"- BroadcastHashJoin: {tree.count('BroadcastHashJoin')} · "
            f"SortMergeJoin: {tree.count('SortMergeJoin')} · "
            f"Exchange: {tree.count('Exchange')} · CartesianProduct: {n_cart}",
            "",
            "```",
            tree.strip(),
            "```",
            "",
        ]
        assert n_cart == 0, f"production-day {sname}: CartesianProduct in plan"

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
