"""One "production day" end-to-end: the composite chain a training-data
user actually runs, as a single driver script (VERDICT r03 #7).

    resume-manifest ingest  ->  exact dedup  ->  transitive near-dup
    keep-list  ->  quality/lang filter  ->  TF-IDF index  ->
    repetition gate + PII scrub  ->  token-budget sequence packing

over the stored replicated transcript corpus (default 192 x sf0.1 =
19.2M turns). Each stage reuses the SAME operator primitives the
per-query battery checks (plans/manifest.run_with_resume,
dedup.lsh_verified_pairs + connected_min_labels,
textstats.quality_score_over / lang_id_over / tfidf_top_terms_over), so
this measures cross-operator composition: per-stage wall times and
rollups of Spark's task metrics (``cca_spark.metrics.stage``), plus
arithmetic cross-checks that the stage row counts are mutually
consistent. Stage outputs are localCheckpointed at each boundary so a
stage's wall charges its own computation only (and no stage silently
recomputes its upstream, the cross-operator failure mode a per-query
battery can't see).

Usage: python scripts/production_day.py [replicas=192]
Prints one JSON report; a run over at least 1M turns also writes it to
BENCH_production_day.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 192
    from pyspark.sql import functions as F

    from cca_spark import chain
    from cca_spark.bench_corpus import ensure_bench_corpus, read_bench_corpus
    from cca_spark.dist import ensure_on_executors
    from cca_spark.metrics import FIELDS, release, stage
    from cca_spark.plans.manifest import read_facts, read_manifest, run_with_resume
    from cca_spark.session import CPUS, get_spark

    # local-mode driver == the whole cluster: the 19.2M-turn chain holds
    # the 200M-fact ingest write plus stage-boundary checkpoint blocks, and
    # the default 8g heap OOMed the context cleaner at stage ~85. A real
    # deployment sizes executor memory the same way.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "40g")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def fresh_session(shuffle_partitions: int):
        s = get_spark(
            app_name="production_day",
            shuffle_partitions=shuffle_partitions,
            # zstd halves the on-disk shuffle volume of the long-span fact
            # rows vs lz4 (measured ~1 KB/fact lz4): at 200M facts the
            # ingest shuffle is the disk budget, exactly as it would be
            # sizing spark.local.dir on a real cluster
            extra_conf={"spark.io.compression.codec": "zstd"},
        )
        s.sparkContext.setLogLevel("ERROR")
        ensure_on_executors(s)
        return s

    spark = fresh_session(CPUS)
    # corpus materialization is the stored input table, not the pipeline —
    # excluded from stage timing (same rule as bench.py)
    path = ensure_bench_corpus(spark, sf_dir, replicas)
    n_turns = read_bench_corpus(spark, path).count()
    spark.stop()
    # Shuffle width follows the corpus: one partition per 75k turns, at
    # least one per core (256 at the 19.2M-turn default, the width that run
    # was measured at), so a small corpus does not run thousands of
    # near-empty tasks. The ingest write's reducer sort needs no extra
    # width: route.write_sinks splits any write task above AQE's advisory
    # partition size.
    partitions = max(CPUS, n_turns // 75_000)

    stages: list[dict] = []

    def record(name: str, m: dict, **counts) -> None:
        """A report stage entry: its wall in ``sec``, the row counts, and the
        block's rollup of Spark's task metrics."""
        stages.append({"stage": name, "sec": round(m["wall_s"], 1), **counts, **m})

    checks: dict[str, bool] = {}
    out_dir = tempfile.mkdtemp(prefix="cca_production_day_")
    try:
        # ---- stage 1: ingest with resume manifest (parse -> route -> sinks)
        # in BOUNDED WAVES, one SparkSession per wave. max_partitions is
        # exactly the production backfill bound; the per-wave session is
        # the disk bound: a wave's dynamic-overwrite write
        # spills ~its own unsafe-row volume to local disk, and Spark only
        # reclaims a context's shuffle/spill files at context teardown —
        # a single-session 30-partition run overran this sandbox's ~80 GB
        # free disk. (On a real cluster the same math sizes
        # spark.local.dir per executor.) The manifest makes the waves a
        # resume chain, which is precisely the operator under test. The
        # stage sums one rollup per wave, each read before its session
        # stops (the status store goes with the session); session start
        # and stop are not in it.
        ingest = dict.fromkeys(FIELDS, 0)
        waves = 0
        while True:
            spark = fresh_session(partitions)
            corpus = read_bench_corpus(spark, path)
            with stage(spark, "ingest_resume_manifest") as m:
                r = run_with_resume(
                    spark, sf_dir, out_dir, max_partitions=5, transcripts=corpus
                )
            spark.stop()  # frees the wave's shuffle + spill files
            ingest = {k: round(ingest[k] + m[k], 3) for k in FIELDS}
            if not r["processed"]:
                break
            waves += 1
        spark = fresh_session(partitions)
        corpus = read_bench_corpus(spark, path)
        # integrity read-back is verification, not pipeline work: it gets
        # its OWN wall (VERDICT r04 #7) so the ingest number stays honest
        # and the verify cost is visible instead of vanishing
        with stage(spark, "ingest_readback_verify") as verify:
            facts_committed = read_facts(spark, out_dir).count()
            manifest_sum = (
                read_manifest(spark, out_dir).agg(F.sum("n_facts")).collect()[0][0]
            )
        checks["ingest_readback_equals_manifest"] = facts_committed == manifest_sum
        record(
            "ingest_resume_manifest", ingest, rows_in=n_turns, rows_out=facts_committed, waves=waves
        )
        record(
            "ingest_readback_verify",
            verify,
            rows_in=facts_committed,
            rows_out=facts_committed,
            note="verification only — full fact read-back + manifest sum; not pipeline work",
        )

        release(spark)

        # ---- stage 2: exact dedup (turns as documents); stage dataflow
        # is the SHARED builders in cca_spark/chain.py — the same
        # expressions scripts/plan_evidence.py audits, by construction
        with stage(spark, "exact_dedup") as m:
            docs = chain.turns_as_docs(corpus)
            groups = chain.exact_dedup_groups(docs).localCheckpoint(eager=True)
            survivors = chain.exact_dedup_survivors(groups, docs).localCheckpoint(
                eager=True
            )
            n_exact_survivors = survivors.count()
        copies_total = groups.agg(F.sum("n_copies")).collect()[0][0]
        checks["exact_dedup_copies_sum_to_input"] = copies_total == n_turns
        checks["exact_dedup_one_keeper_per_hash"] = (
            n_exact_survivors == groups.count()
        )
        record("exact_dedup", m, rows_in=n_turns, rows_out=n_exact_survivors)

        release(spark)

        # ---- stage 3: transitive near-dup keep-list on the survivors
        with stage(spark, "near_dup_keep_list_transitive") as m:
            labels = chain.near_dup_labels(survivors)
            kept = chain.apply_keep_list(survivors, labels).localCheckpoint(eager=True)
            n_kept = kept.count()
        n_labeled = labels.count()
        n_label_dupes = labels.filter(F.col("label") != F.col("doc_id")).count()
        checks["near_dup_counts_consistent"] = (
            n_kept == n_exact_survivors - n_label_dupes
        )
        record(
            "near_dup_keep_list_transitive",
            m,
            rows_in=n_exact_survivors,
            rows_out=n_kept,
            pair_graph_nodes=n_labeled,
            components_removed_docs=n_label_dupes,
        )

        release(spark)

        # ---- stage 4: quality + language filter (battery-checked
        # operators; thresholds are the log-corpus POLICY — see
        # chain.LOG_QUALITY_POLICY for the prose-default rationale)
        with stage(spark, "quality_lang_filter") as m:
            filtered = chain.quality_lang_filtered(kept).localCheckpoint(eager=True)
            n_filtered = filtered.count()
        checks["filter_is_subset"] = n_filtered <= n_kept
        record("quality_lang_filter", m, rows_in=n_kept, rows_out=n_filtered)

        release(spark)

        # ---- stage 5: TF-IDF top-3 index over the filtered corpus
        with stage(spark, "tfidf_index") as m:
            idx = chain.build_tfidf_index(filtered).localCheckpoint(eager=True)
            n_index_rows = idx.count()
        n_indexed_docs = idx.select("doc_id").distinct().count()
        checks["index_covers_all_nonempty_docs"] = (
            n_indexed_docs
            == filtered.filter(F.trim(F.col("text")) != "").count()
        )
        checks["index_at_most_k_rows_per_doc"] = n_index_rows <= 3 * n_indexed_docs
        record(
            "tfidf_index", m, rows_in=n_filtered, rows_out=n_index_rows, indexed_docs=n_indexed_docs
        )

        release(spark)

        # ---- stage 6 (r5): repetition gate + PII scrub — the hygiene
        # steps between "filtered" and "trainable" (battery-oracled
        # operators via the shared chain builder)
        with stage(spark, "repetition_gate_pii_scrub") as m:
            scrubbed = chain.repetition_scrubbed(filtered).localCheckpoint(eager=True)
            n_scrubbed = scrubbed.count()
        n_redacted = scrubbed.filter("was_redacted").count()
        checks["scrub_is_subset"] = n_scrubbed <= n_filtered
        # completeness: NO scrubbed text may still match any PII pattern
        # (placeholders contain no digits/@, so replacement cannot create
        # new matches — a residual match means the scrub missed one)
        from cca_spark.operators.redact import PII_RULES

        residual = F.lit(False)
        for _name, pattern, _ph in PII_RULES:
            residual = residual | F.col("scrubbed").rlike(pattern)
        checks["scrub_leaves_no_residual_pii"] = (
            scrubbed.filter(residual).count() == 0
        )
        record(
            "repetition_gate_pii_scrub",
            m,
            rows_in=n_filtered,
            rows_out=n_scrubbed,
            redacted_docs=n_redacted,
        )

        release(spark)

        # ---- stage 7 (r5): token-budget sequence packing of the clean
        # scrubbed corpus — the batch-assembly step (battery-oracled
        # operator via the shared chain builder; shard-local cumsum)
        from cca_spark.operators.corpus_prep import PACK_BUDGET

        with stage(spark, "sequence_packing") as m:
            packed = chain.pack_sequences(scrubbed).localCheckpoint(eager=True)
            n_packed = packed.count()
        agg = packed.agg(
            F.countDistinct("shard", "bin_id").alias("n_bins"),
            F.sum("n_tokens").alias("total_tokens"),
        ).collect()[0]
        checks["packing_preserves_rows"] = n_packed == n_scrubbed
        # REAL cumsum invariant (offset_in_bin < budget is true by modulo
        # construction and checks nothing): per shard, the LAST doc's
        # cum_before + n_tokens must equal the shard's independent
        # groupBy token sum — window cumsum vs plain aggregation. Bins
        # are contiguous stream chunks docs may STRADDLE (GPT-style
        # packing cuts at training time), so per-bin sums are NOT bounded
        # by the budget and are not asserted.
        cum_check = (
            packed.selectExpr(
                "shard",
                "n_tokens",
                f"offset_in_bin + cast(bin_id AS bigint) * {PACK_BUDGET} AS cum_before",
            )
            .groupBy("shard")
            .agg(
                F.max(
                    F.struct("cum_before", "n_tokens")
                ).alias("last"),
                F.sum("n_tokens").alias("tot"),
            )
            .selectExpr("(last.cum_before + last.n_tokens) = tot AS ok")
            .agg(F.min("ok").alias("all_ok"))
            .collect()[0]["all_ok"]
        )
        checks["packing_cumsum_consistent"] = bool(cum_check)
        # every (shard, bin) must hold at least one doc and the bin count
        # can't exceed what the token volume plus per-bin slack admits
        checks["packing_bin_count_bounded"] = (
            agg["n_bins"] <= agg["total_tokens"] // PACK_BUDGET + packed.select("shard").distinct().count()
        )
        record(
            "sequence_packing",
            m,
            rows_in=n_scrubbed,
            rows_out=n_packed,
            bins=int(agg["n_bins"]),
            total_tokens=int(agg["total_tokens"]),
        )

        release(spark)

        # ---- stage 8 (r5): per-epoch training-shard shuffle of the
        # final clean corpus (battery-oracled operator via the shared
        # chain builder; shard-partitioned rank window, no global sort)
        from cca_spark.operators.corpus_prep import SHUFFLE_SHARDS

        with stage(spark, "epoch_shard_shuffle") as m:
            shuffled = chain.epoch_shuffle(scrubbed).localCheckpoint(eager=True)
            n_shuffled = shuffled.count()
        checks["shuffle_preserves_rows"] = n_shuffled == n_scrubbed
        # positions must be a permutation of 0..n_i-1 within every shard.
        # min==0 and max+1==n alone pass on duplicated positions with a
        # matching gap ([0,2,2]), so DISTINCTNESS is asserted too — the
        # three together pin the bijection
        perm = (
            shuffled.groupBy("shard")
            .agg(
                F.min("pos").alias("mn"),
                F.max("pos").alias("mx"),
                F.count("*").alias("n"),
                F.countDistinct("pos").alias("nd"),
            )
            .agg(
                F.min(F.col("mn") == 0).alias("mn_ok"),
                F.min(F.col("mx") + 1 == F.col("n")).alias("mx_ok"),
                F.min(F.col("nd") == F.col("n")).alias("distinct_ok"),
            )
            .collect()[0]
        )
        checks["shuffle_positions_contiguous"] = bool(
            perm["mn_ok"] and perm["mx_ok"] and perm["distinct_ok"]
        )
        record(
            "epoch_shard_shuffle", m, rows_in=n_scrubbed, rows_out=n_shuffled, shards=SHUFFLE_SHARDS
        )

        report = {
            "metric": "production_day_chain",
            "sf": sf_dir,
            "replicas": replicas,
            "n_turns": n_turns,
            # pipeline total excludes verification-only stages (their wall
            # is reported per-stage but is not pipeline work)
            "total_sec": round(
                sum(s["sec"] for s in stages if "verification only" not in s.get("note", "")),
                1,
            ),
            "verify_sec": round(
                sum(s["sec"] for s in stages if "verification only" in s.get("note", "")),
                1,
            ),
            "stages": stages,
            "checks": checks,
            "all_checks_pass": all(checks.values()),
        }
        print(json.dumps(report))
        # only bench-scale runs update the recorded benchmark — a tiny
        # smoke run (sf0.001, few replicas) must never clobber the
        # 19.2M-turn evidence file the docs cite
        if report["n_turns"] >= 1_000_000:
            repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            with open(os.path.join(repo, "BENCH_production_day.json"), "w") as f:
                json.dump(report, f, indent=2)
        assert all(checks.values()), f"cross-checks failed: {checks}"
    finally:
        # spark is reassigned per wave — stop whichever session is live even
        # when a stage (or the final checks assert) raises, so the 40g-heap
        # local JVM never outlives the script (ADVICE r04)
        shutil.rmtree(out_dir, ignore_errors=True)
        try:
            spark.stop()
        except Exception:
            pass


if __name__ == "__main__":
    main()
