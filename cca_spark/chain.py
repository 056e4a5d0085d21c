"""Shared stage builders for the production-day composite chain.

ONE definition of the chain's dataflow and corpus policy, consumed by
both `scripts/production_day.py` (the timed 19.2M-turn run with
arithmetic cross-checks) and `scripts/plan_evidence.py` (the per-stage
physical-plan audit at sf0.01). Before r5 the two scripts copy-pasted the
stage expressions and policy constants; any drift would have made
PLANS.md silently audit a different pipeline than the one that runs —
the exact failure the audit section exists to prevent.

Builders are pure DataFrame→DataFrame: no timing, no checkpointing — the
callers place `localCheckpoint` at stage boundaries themselves (the
timed run charges each stage its own work; the plan audit wants each
stage's plan over a checkpointed upstream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# corpus POLICY (production_day.py stage 4): the default passes_quality
# gate is tuned for prose and passes 0% of log-like turn text (measured
# medians: 73 chars, 0.127 punct, 0.10 stopword ratio) — this is the
# log-corpus policy instead
LOG_QUALITY_POLICY = "n_chars >= 60 AND punct_ratio < 0.2 AND stopword_ratio > 0.05"
LANG_POLICY = "lang_guess = 'en'"


def turns_as_docs(corpus: DataFrame) -> DataFrame:
    """Turns → (doc_id, text) with a content-addressed signed hash id."""
    return corpus.select(
        F.xxhash64("conv_id", "turn_idx").alias("doc_id"), "text"
    )


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Digest-prematch groups: one keeper (min doc_id) per distinct text."""
    return docs.groupBy(F.md5("text").alias("text_md5")).agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies")
    )


def exact_dedup_survivors(groups: DataFrame, docs: DataFrame) -> DataFrame:
    """Keeper rows with their text recovered from the doc table."""
    return groups.join(docs, "doc_id").select("doc_id", "text")


def near_dup_labels(survivors: DataFrame, max_iters: int = 30) -> DataFrame:
    """LSH-verified pair graph → connected-component min labels."""
    from cca_spark.operators.dedup import connected_min_labels, lsh_verified_pairs

    return connected_min_labels(lsh_verified_pairs(survivors), max_iters=max_iters)


def apply_keep_list(survivors: DataFrame, labels: DataFrame) -> DataFrame:
    """Keep unlabeled docs and component representatives (label == self)."""
    return (
        survivors.join(labels, "doc_id", "left")
        .filter(F.col("label").isNull() | (F.col("label") == F.col("doc_id")))
        .select("doc_id", "text")
    )


def quality_lang_filtered(kept: DataFrame) -> DataFrame:
    """Both policy gates as left-semi joins (battery-oracled operators)."""
    from cca_spark.operators.textstats import lang_id_over, quality_score_over

    good_q = quality_score_over(kept).filter(LOG_QUALITY_POLICY).select("doc_id")
    good_l = lang_id_over(kept, extra_cols=()).filter(LANG_POLICY).select("doc_id")
    return kept.join(good_q, "doc_id", "left_semi").join(
        good_l, "doc_id", "left_semi"
    )


def build_tfidf_index(filtered: DataFrame) -> DataFrame:
    """Top-``TFIDF_TOP_K`` TF-IDF terms per filtered doc."""
    from cca_spark.operators.textstats import tfidf_top_terms_over

    return tfidf_top_terms_over(filtered)


def repetition_scrubbed(filtered: DataFrame) -> DataFrame:
    """Repetition gate then PII scrub (r5 hygiene stage)."""
    from cca_spark.operators.decontam import repetition_filter_over
    from cca_spark.operators.redact import pii_scrub_over

    rep_ok = (
        repetition_filter_over(filtered)
        .filter("passes_repetition")
        .select("doc_id")
    )
    return pii_scrub_over(filtered.join(rep_ok, "doc_id", "left_semi"))


def pack_sequences(scrubbed: DataFrame) -> DataFrame:
    """Token-budget packing of the scrubbed text (r5 assembly stage)."""
    from cca_spark.operators.corpus_prep import pack_token_budget_over

    return pack_token_budget_over(
        scrubbed.select("doc_id", F.col("scrubbed").alias("text"))
    )


def epoch_shuffle(scrubbed: DataFrame) -> DataFrame:
    """Per-epoch training-shard shuffle of the final clean doc ids (r5
    assembly stage): a stable pseudo-random (shard, pos) per doc."""
    from cca_spark.operators.corpus_prep import corpus_shard_shuffle_over

    return corpus_shard_shuffle_over(scrubbed.select("doc_id"))
