#!/usr/bin/env python3
"""Round-6 optimization harness (guide §1.1/§1.4): per-query isolation.

``bench.py`` is FROZEN for driver measurement; this file holds the extra
instrumentation the optimization round needs:

- every query timed against the **noop sink** (computes every column of
  every row, discards the result — no sink cost, full plan in the SQL tab),
- component isolation for the composite paths (the fan-out write is split
  into parse→noop / +shuffle→noop / full write),
- ``.explain("formatted")`` capture to ``plans/r06/<name>_<tag>.txt``,
- jobs labelled via ``setJobDescription``.

Usage:
    python bench_extra.py --queries pipeline_sql,range_containment \
        --plan-tag before --trials 3
    python bench_extra.py --list
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

PLAN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")


def explain_formatted(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def build_queries(spark, sf_dir: str, transcripts):
    """name -> (df_thunk, action) where action is 'noop' | 'collect' |
    a custom callable taking the df."""
    from cca_spark.operators import corpus_prep as CP
    from cca_spark.operators import decontam as DC
    from cca_spark.operators import dedup as DD
    from cca_spark.operators import redact as RED
    from cca_spark.operators import relational as R
    from cca_spark.operators import similarity as SIM
    from cca_spark.operators import textstats as TS
    from cca_spark.operators.aggregate import agg_per_sink
    from cca_spark.operators.route import salted_sink_repartition, write_sinks
    from cca_spark.plans.pipeline import fused_pipeline_agg, routed_facts

    def fanout_write(df) -> None:
        out = tempfile.mkdtemp(prefix="cca_extra_sinks_")
        try:
            write_sinks(df, out)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    q = {
        # headline + SQL-strategy pipeline (replicated corpus)
        "pipeline_pandas": (lambda: fused_pipeline_agg(spark, transcripts), "collect"),
        "pipeline_sql": (
            lambda: agg_per_sink(routed_facts(spark, transcripts, parse_strategy="sql")),
            "collect",
        ),
        # SQL parse strategy in isolation: full fact stream, noop sink
        "parse_sql_noop": (
            lambda: routed_facts(spark, transcripts, parse_strategy="sql"),
            "noop",
        ),
        # fan-out write components (replicated corpus)
        "fanout_parse_noop": (lambda: routed_facts(spark, transcripts), "noop"),
        "fanout_shuffle_noop": (
            lambda: salted_sink_repartition(routed_facts(spark, transcripts)),
            "noop",
        ),
        "fanout_write": (lambda: routed_facts(spark, transcripts), fanout_write),
        # sf-dir queries (same thunks the frozen bench times)
        "pricing_summary": (lambda: R.pricing_summary(spark, sf_dir), "noop"),
        "join_chain_revenue": (lambda: R.join_chain_revenue(spark, sf_dir), "noop"),
        "sessionize_events": (lambda: R.sessionize_events(spark, sf_dir), "noop"),
        "range_containment": (
            lambda: R.range_containment_suppression(spark, sf_dir),
            "noop",
        ),
        "dedup_minhash_lsh": (lambda: DD.minhash_lsh_pairs(spark, sf_dir), "noop"),
        "ngram_containment": (lambda: DD.ngram_containment_pairs(spark, sf_dir), "noop"),
        "ann_brute_force": (lambda: SIM.brute_force_topk(spark, sf_dir), "noop"),
        "tfidf_top_terms": (lambda: TS.tfidf_top_terms(spark, sf_dir), "noop"),
        "bm25_retrieval": (lambda: TS.bm25_retrieval(spark, sf_dir), "noop"),
        "pii_scrub": (lambda: RED.pii_scrub(spark, sf_dir), "noop"),
        "ngram_decontaminate": (lambda: DC.ngram_decontaminate(spark, sf_dir), "noop"),
        "repetition_filter": (lambda: DC.repetition_filter(spark, sf_dir), "noop"),
        "lm_unigram_score": (lambda: CP.lm_unigram_logprob(spark, sf_dir), "noop"),
        "pack_token_budget": (lambda: CP.pack_token_budget(spark, sf_dir), "noop"),
        "mixture_weighted_sample": (
            lambda: CP.mixture_weighted_sample(spark, sf_dir),
            "noop",
        ),
    }
    return q


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--replicas", type=int, default=16)
    ap.add_argument("--queries", default="")
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--plan-tag", default="", help="write plans/r06/<q>_<tag>.txt")
    ap.add_argument("--list", action="store_true")
    args = ap.parse_args()

    from cca_spark.bench_corpus import ensure_bench_corpus, read_bench_corpus
    from cca_spark.session import get_spark

    spark = get_spark(app_name="cca_spark_bench_extra")
    corpus_path = ensure_bench_corpus(spark, args.sf_dir, args.replicas)
    transcripts = read_bench_corpus(spark, corpus_path)

    queries = build_queries(spark, args.sf_dir, transcripts)
    if args.list:
        print("\n".join(queries))
        return
    names = [n for n in args.queries.split(",") if n] or list(queries)

    os.makedirs(PLAN_DIR, exist_ok=True)
    results: dict[str, dict] = {}
    for name in names:
        thunk, action = queries[name]
        spark.sparkContext.setJobDescription(f"extra:{name}")
        if args.plan_tag:
            with open(os.path.join(PLAN_DIR, f"{name}_{args.plan_tag}.txt"), "w") as f:
                f.write(explain_formatted(thunk()))
        walls = []
        for _ in range(args.trials):
            t0 = time.time()
            df = thunk()
            if action == "noop":
                noop(df)
            elif action == "collect":
                df.collect()
            else:
                action(df)
            walls.append(round(time.time() - t0, 3))
            gc.collect()
            spark._jvm.System.gc()
            spark.catalog.clearCache()
        results[name] = {"min": min(walls), "trials": walls}
        spark.sparkContext.setJobDescription(None)
        print(json.dumps({name: results[name]}), flush=True)
    print(json.dumps({"summary": results}))
    spark.stop()


if __name__ == "__main__":
    main()
