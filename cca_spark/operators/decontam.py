"""Test-set decontamination + repetition filtering for training corpora.

Two standard pre-training scrubs the rest of the training-data family
(dedup, quality, redaction) doesn't cover:

- **Decontamination** (``ngram_decontaminate``): flag every training doc
  that shares an 8-token n-gram with any doc in a held-out evaluation
  set — the contamination check every serious pre-training corpus runs
  against its benchmark suites. Relational shape: one n-gram explode per
  side, DISTINCT per (doc, gram), then a **broadcast** join against the
  eval grams (benchmark suites are MBs even when the corpus is 100 TB —
  the train-side stream never shuffles for the probe; the only shuffle
  is the per-doc count aggregation, which runs partial+final). The
  driver's documents are clean, so the eval set is derived
  deterministically from the same parquet (every ``doc_id % 10 == 7``
  doc is "an eval doc whose source leaked into the corpus" — the exact
  situation decontamination exists to catch); the DuckDB oracle derives
  the identical set.

- **Repetition filter** (``repetition_filter``): Gopher-style
  repetitious-text signals — duplicate-token fraction and
  duplicate-bigram fraction per doc. Pure per-row array expressions
  (``array_distinct`` over the token / bigram arrays): whole-stage
  codegen, zero shuffle, runs at parquet-scan speed.

Extends the reference's SLOC/metrics surface
(/root/reference/python/src/cca/ccautil/sloc.py counts per-file token
classes the same relational way) to corpus-hygiene semantics.

Cross-engine contract: tokenization is THE retrieval tokenization
(textstats.RETRIEVAL_DELIM — single-space split, empty tokens dropped),
shared with tfidf/bm25/lm-scoring/packing so "n_tokens" means ONE thing
across the whole r5 corpus family; n-grams are ``concat_ws(' ',
slice(toks, i, N))`` == DuckDB ``array_to_string(t[i:i+N-1], ' ')``;
ratios round to 6dp before comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cca_spark.operators.textstats import retrieval_tokens_col

NGRAM_N = 8  # the Llama/GPT-3-style contamination window

EVAL_MOD = 10
EVAL_RESIDUE = 7

# Gopher-style repetition gates: a doc passes when at most these shares
# of its tokens / bigrams are repeats. Lower values drop more
# boilerplate and more legitimately repetitive text (lists, code).
MAX_DUP_TOKEN_RATIO = 0.4
MAX_DUP_BIGRAM_RATIO = 0.25


def _toks() -> Column:
    # the ONE retrieval tokenization (textstats.retrieval_tokens_col) —
    # never a re-typed copy, or this module's n_tokens forks the contract
    return retrieval_tokens_col()


def _ngram_array(n: int) -> Column:
    """All n-grams of the whitespace tokens, [] when the doc is shorter
    than n (guarded: Spark's sequence(1, 0) would DESCEND, not be empty)."""
    toks = _toks()
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_decontaminate_over(train: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Flag train docs sharing any ``NGRAM_N``-gram with the eval corpus.

    Output: one row per train doc — (doc_id, n_shared_ngrams,
    contaminated). The eval side is collapsed to DISTINCT grams and
    broadcast; the train side explodes once and probes map-side BEFORE
    any shuffle — the per-doc dedup of repeated grams (distinct) and the
    count aggregation run on the post-probe hit stream only, so at corpus
    scale the full gram stream never exchanges (the probe is the filter)."""
    grams = F.explode(_ngram_array(NGRAM_N)).alias("g")
    train_grams = train.select("doc_id", grams)
    eval_grams = eval_docs.select(grams).distinct()
    hits = (
        train_grams.join(F.broadcast(eval_grams), "g")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("g").alias("n_shared_ngrams"))
    )
    return train.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_shared_ngrams"), F.lit(0)).cast("bigint").alias(
            "n_shared_ngrams"
        ),
        (F.coalesce(F.col("n_shared_ngrams"), F.lit(0)) > 0).alias("contaminated"),
    )


def ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver query: documents vs the derived eval subset."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    eval_docs = docs.filter(F.col("doc_id") % EVAL_MOD == EVAL_RESIDUE)
    return ngram_decontaminate_over(docs, eval_docs)


def repetition_filter_over(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals, per doc, zero shuffle; passes at
    ``MAX_DUP_TOKEN_RATIO`` / ``MAX_DUP_BIGRAM_RATIO``."""
    toks = _toks()
    bigrams = _ngram_array(2)
    n_tok = F.size(toks)
    n_big = F.size(bigrams)
    dup_tok = F.when(
        n_tok > 0,
        F.round(
            (n_tok - F.size(F.array_distinct(toks))) / n_tok.cast("double"), 6
        ),
    ).otherwise(F.lit(0.0))
    dup_big = F.when(
        n_big > 0,
        F.round(
            (n_big - F.size(F.array_distinct(bigrams))) / n_big.cast("double"), 6
        ),
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        n_tok.cast("int").alias("n_tokens"),
        dup_tok.alias("dup_token_ratio"),
        dup_big.alias("dup_bigram_ratio"),
        (
            (dup_tok <= MAX_DUP_TOKEN_RATIO) & (dup_big <= MAX_DUP_BIGRAM_RATIO)
        ).alias("passes_repetition"),
    )


def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return repetition_filter_over(docs)
