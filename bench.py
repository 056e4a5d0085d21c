#!/usr/bin/env python3
"""Benchmark harness.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline metric is the end-to-end pipeline wall time
(parse→enrich→route→aggregate through the Arrow counting kernel, reported
under the output-contract key ``pipeline_pandas``); the derived
``routed_turns_per_sec`` figure is the BASELINE.json north metric.

Usage:
    python bench.py                  # standard bench, one JSON line
    python bench.py --replicas 16    # heavier corpus (scaling runs)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _time(fn) -> tuple[float, int]:
    t0 = time.time()
    n = fn()
    return time.time() - t0, n


def run_bench(sf_dir: str, master: str | None, replicas: int = 1) -> dict:
    from pyspark.sql import functions as F

    from cca_spark.bench_corpus import replicated_transcripts
    from cca_spark.operators import dedup as DD
    from cca_spark.operators import relational as R
    from cca_spark.operators import similarity as SIM
    from cca_spark.operators.aggregate import agg_per_sink
    from cca_spark.plans.pipeline import fused_pipeline_agg, routed_facts
    from cca_spark.session import get_spark

    spark = get_spark(app_name="cca_spark_bench", master=master)
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

    # Warm-up (JMH-style): full-size untimed iterations first. A tiny
    # slice is NOT enough — measured trials kept descending for ~4 runs
    # (27.9 -> 16.0s at local[16]) while the JVM JIT tiered up the
    # codegen'd scan/Arrow/shuffle paths and the Python worker pool
    # filled. Timed trials must start at steady state. Default is 3:
    # with a COLD page cache (measured right after a 200M-row chain run
    # evicted it) 2 warmups left trials still descending 22.1 -> 10.1s,
    # while 3 warmups put all six trials at 3.4-4.1s — identical to the
    # hot-cache steady state, so the third warmup is what buys
    # cache-state independence for the recorded headline.
    warmups = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUPS", "3"))
    fused_pipeline_agg(spark, transcripts.limit(2000)).collect()
    for _ in range(warmups):
        fused_pipeline_agg(spark, transcripts).collect()

    timings: dict[str, float] = {}

    def bench(name: str, thunk) -> None:
        dt, _ = _time(thunk)
        timings[name] = round(dt, 3)
        # release dropped localCheckpoint blocks between measurements:
        # ContextCleaner frees them on (weak-ref) GC, which otherwise lands
        # mid-next-bench — measured up to 2.6x inflation of the fanout
        # write while the range-containment fact stream was still resident
        import gc

        gc.collect()
        spark._jvm.System.gc()
        # ...and CacheManager entries (tfidf's lazy DISK_ONLY tf persist):
        # those hold STRONG references GC never frees, so without this the
        # corpus-sized TF table stays pinned on executor disk for every
        # later measurement (bm25, the r5 scrub ops, the fan-out write) —
        # the same neighbor-pollution fanout_bench.py exists to rule out
        spark.catalog.clearCache()

    # headline: full pipeline, Arrow-kernel parse. Best-of-N steady-state:
    # single-shot walls on this shared sandbox vary ±20% (page-cache state,
    # neighbor VMs); the minimum is the reproducible throughput figure, the
    # same discipline as JMH/criterion steady-state reporting.
    pipeline_trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))
    trial_secs = []
    agg_rows = []
    for _ in range(pipeline_trials):
        t0 = time.time()
        # fused plan: partial aggregate inside the Arrow kernel — the same
        # plan pipeline_agg (the driver's flagship query) executes
        agg = fused_pipeline_agg(spark, transcripts)
        agg_rows = agg.collect()
        trial_secs.append(time.time() - t0)
    pipeline_sec = min(trial_secs)
    timings["pipeline_pandas"] = round(pipeline_sec, 3)

    headline_only = os.environ.get("SPARK_GRAFT_BENCH_ONLY") == "pipeline"

    if not headline_only:
        _run_secondary(bench, spark, sf_dir, transcripts)

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
        "pipeline_pandas_trials": [round(s, 3) for s in trial_secs],
    }
    spark.stop()
    return result


def _run_secondary(bench, spark, sf_dir, transcripts) -> None:
    from cca_spark.operators import dedup as DD
    from cca_spark.operators import relational as R
    from cca_spark.operators import similarity as SIM
    from cca_spark.operators.aggregate import agg_per_sink
    from cca_spark.plans.pipeline import routed_facts

    bench(
        "pipeline_sql",
        lambda: len(
            agg_per_sink(routed_facts(spark, transcripts, parse_strategy="sql")).collect()
        ),
    )
    bench("pricing_summary", lambda: len(R.pricing_summary(spark, sf_dir).collect()))
    bench("join_chain_revenue", lambda: len(R.join_chain_revenue(spark, sf_dir).collect()))
    bench("sessionize_events", lambda: R.sessionize_events(spark, sf_dir).count())
    bench(
        "range_containment",
        lambda: R.range_containment_suppression(spark, sf_dir).count(),
    )
    bench("dedup_minhash_lsh", lambda: DD.minhash_lsh_pairs(spark, sf_dir).count())
    bench("ann_brute_force", lambda: SIM.brute_force_topk(spark, sf_dir).count())
    # retrieval scoring (r4: single token explode / no vocab broadcast)
    from cca_spark.operators import textstats as TS

    bench("tfidf_top_terms", lambda: TS.tfidf_top_terms(spark, sf_dir).count())
    bench("bm25_retrieval", lambda: TS.bm25_retrieval(spark, sf_dir).count())
    # corpus hygiene (r5): scrub + decontamination scan-path ops
    from cca_spark.operators import decontam as DC
    from cca_spark.operators import redact as RED

    bench("pii_scrub", lambda: RED.pii_scrub(spark, sf_dir).count())
    bench(
        "ngram_decontaminate",
        lambda: DC.ngram_decontaminate(spark, sf_dir).count(),
    )
    bench("repetition_filter", lambda: DC.repetition_filter(spark, sf_dir).count())
    from cca_spark.operators import corpus_prep as CP

    bench("lm_unigram_score", lambda: CP.lm_unigram_logprob(spark, sf_dir).count())
    bench("pack_token_budget", lambda: CP.pack_token_budget(spark, sf_dir).count())
    bench(
        "mixture_weighted_sample",
        lambda: CP.mixture_weighted_sample(spark, sf_dir).count(),
    )
    bench(
        "ngram_containment",
        lambda: DD.ngram_containment_pairs(spark, sf_dir).count(),
    )

    # production sink path: fan-out write partitioned by (sink, date_bucket)
    import shutil
    import tempfile

    from cca_spark.operators.route import write_sinks

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
