#!/usr/bin/env python3
"""Benchmark harness.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default: the host's
cores) and prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
     "task_metrics": {...}, ...}

The headline metric is the end-to-end pipeline wall time
(parse→enrich→route→aggregate through the Arrow counting kernel, reported
under the output-contract key ``pipeline_pandas``); the derived
``routed_turns_per_sec`` figure is the BASELINE.json north metric. Every
``queries`` wall is measured by ``cca_spark.metrics.stage``, and
``task_metrics`` holds the same block's rollup of Spark's task metrics
(task run time, JVM CPU, Python-worker wait, GC, shuffle, spill).

Usage:
    python bench.py                  # standard bench, one JSON line
    python bench.py --replicas 1     # the sf dir's own corpus, no replicas
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Warm-up (JMH-style): full-size untimed iterations first. A tiny slice is
# NOT enough: measured trials kept descending for ~4 runs (27.9 -> 16.0s at
# local[16]) while the JVM JIT tiered up the codegen'd scan/Arrow/shuffle
# paths and the Python worker pool filled. With a COLD page cache (measured
# right after a 200M-row chain run evicted it) 2 warmups left trials still
# descending 22.1 -> 10.1s, while 3 warmups put all six trials at 3.4-4.1s,
# the hot-cache steady state: the third warmup buys cache-state
# independence for the recorded headline.
WARMUPS = 3
# Best-of-N steady-state headline: single-shot walls on a shared host vary
# ±20% (page-cache state, neighbour VMs); the minimum is the reproducible
# throughput figure, the same discipline as JMH/criterion.
TRIALS = 3


def run_bench(sf_dir: str, master: str | None, replicas: int = 1) -> dict:
    from cca_spark.bench_corpus import replicated_transcripts
    from cca_spark.dist import ensure_on_executors
    from cca_spark.metrics import release, stage
    from cca_spark.plans.pipeline import fused_pipeline_agg
    from cca_spark.session import codegen_counts, get_spark

    spark = get_spark(app_name="cca_spark_bench", master=master)
    ensure_on_executors(spark)
    classes0, compile_ms0 = codegen_counts(spark)
    ncores = spark.sparkContext.defaultParallelism

    if replicas > 1:
        # stored-table mode: materialize once (untimed), scan like the
        # production Iceberg table
        from cca_spark.bench_corpus import ensure_bench_corpus, read_bench_corpus

        corpus_path = ensure_bench_corpus(spark, sf_dir, replicas)
        transcripts = read_bench_corpus(spark, corpus_path)
    else:
        transcripts = replicated_transcripts(spark, sf_dir, replicas)
    n_turns = transcripts.count()  # also warms the JVM/parquet footer cache

    fused_pipeline_agg(spark, transcripts.limit(2000)).collect()
    for _ in range(WARMUPS):
        fused_pipeline_agg(spark, transcripts).collect()

    timings: dict[str, float] = {}
    task_metrics: dict[str, dict] = {}

    def bench(name: str, thunk) -> None:
        with stage(spark, name) as m:
            thunk()
        timings[name] = m["wall_s"]
        task_metrics[name] = m
        release(spark)

    # headline: full pipeline through the fused plan (partial aggregate
    # inside the Arrow kernel), the plan pipeline_agg (the driver's
    # flagship query) executes; the best trial's rollup is reported
    trials = []
    for i in range(TRIALS):
        with stage(spark, f"pipeline_pandas trial {i}") as m:
            agg_rows = fused_pipeline_agg(spark, transcripts).collect()
        trials.append(m)
    best = min(trials, key=lambda t: t["wall_s"])
    pipeline_sec = best["wall_s"]
    timings["pipeline_pandas"] = pipeline_sec
    task_metrics["pipeline_pandas"] = best

    _run_secondary(bench, spark, sf_dir, transcripts)

    classes, compile_ms = codegen_counts(spark)
    result = {
        "metric": "end_to_end_pipeline_sec",
        "value": round(pipeline_sec, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "n_turns": n_turns,
        "routed_turns_per_sec": round(n_turns / pipeline_sec, 1),
        "n_agg_rows": len(agg_rows),
        "cores": ncores,
        "replicas": replicas,
        # raw best-of-N walls (kept out of "queries": that dict is
        # name->seconds per the driver contract)
        "pipeline_pandas_trials": [t["wall_s"] for t in trials],
        # generated classes Janino compiled over the run, and its compile
        # time: a codegen cache smaller than the working set shows here as
        # recompiles of every repeated query
        "codegen": {
            "classes": classes - classes0,
            "compile_ms": round(compile_ms - compile_ms0, 1),
        },
        # per queries key: the measured block's rollup of Spark's task
        # metrics (cca_spark.metrics.FIELDS)
        "task_metrics": task_metrics,
    }
    spark.stop()
    return result


def _run_secondary(bench, spark, sf_dir, transcripts) -> None:
    import shutil
    import tempfile

    from cca_spark.operators import corpus_prep as CP
    from cca_spark.operators import decontam as DC
    from cca_spark.operators import dedup as DD
    from cca_spark.operators import redact as RED
    from cca_spark.operators import relational as R
    from cca_spark.operators import similarity as SIM
    from cca_spark.operators import textstats as TS
    from cca_spark.operators.aggregate import agg_per_sink
    from cca_spark.operators.route import write_sinks
    from cca_spark.plans.pipeline import routed_facts

    leaves = {
        "pipeline_sql": lambda: agg_per_sink(
            routed_facts(spark, transcripts, parse_strategy="sql")
        ).collect(),
        "pricing_summary": lambda: R.pricing_summary(spark, sf_dir).collect(),
        "join_chain_revenue": lambda: R.join_chain_revenue(spark, sf_dir).collect(),
        "sessionize_events": lambda: R.sessionize_events(spark, sf_dir).count(),
        "range_containment": lambda: R.range_containment_suppression(spark, sf_dir).count(),
        "dedup_minhash_lsh": lambda: DD.minhash_lsh_pairs(spark, sf_dir).count(),
        "ann_brute_force": lambda: SIM.brute_force_topk(spark, sf_dir).count(),
        # retrieval scoring (r4: single token explode / no vocab broadcast)
        "tfidf_top_terms": lambda: TS.tfidf_top_terms(spark, sf_dir).count(),
        "bm25_retrieval": lambda: TS.bm25_retrieval(spark, sf_dir).count(),
        # corpus hygiene (r5): scrub + decontamination scan-path ops
        "pii_scrub": lambda: RED.pii_scrub(spark, sf_dir).count(),
        "ngram_decontaminate": lambda: DC.ngram_decontaminate(spark, sf_dir).count(),
        "repetition_filter": lambda: DC.repetition_filter(spark, sf_dir).count(),
        "lm_unigram_score": lambda: CP.lm_unigram_logprob(spark, sf_dir).count(),
        "pack_token_budget": lambda: CP.pack_token_budget(spark, sf_dir).count(),
        "mixture_weighted_sample": lambda: CP.mixture_weighted_sample(spark, sf_dir).count(),
        "ngram_containment": lambda: DD.ngram_containment_pairs(spark, sf_dir).count(),
    }
    for name, thunk in leaves.items():
        bench(name, thunk)

    # production sink path: fan-out write partitioned by (sink, date_bucket)
    out_dir = tempfile.mkdtemp(prefix="cca_bench_sinks_")
    warm_dir = tempfile.mkdtemp(prefix="cca_bench_sinks_warm_")
    try:
        # steady-state discipline (same as the headline): the FIRST write
        # through a fresh JVM pays parquet/shuffle JIT — measured 46.9s
        # cold vs 20.6s steady on the identical job. Warm the write path
        # on a corpus slice, then time the full write.
        write_sinks(routed_facts(spark, transcripts.limit(200_000)), warm_dir)
        bench(
            "sink_fanout_write",
            lambda: write_sinks(routed_facts(spark, transcripts), out_dir),
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(warm_dir, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--replicas",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_BENCH_REPLICAS", "16")),
        help="corpus multiplier; >1 uses the pre-materialized parquet corpus",
    )
    args = ap.parse_args()
    result = run_bench(args.sf_dir, args.master, args.replicas)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
