"""North-rule resume semantics + streaming parity.

- resume: a partial run followed by a full run produces exactly the
  single-shot result (no duplicates, nothing missing); a re-run after
  completion processes zero partitions.
- streaming: the availableNow stream over the same turns produces the
  identical routed-row set as the batch pipeline.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def tmp_out():
    d = tempfile.mkdtemp(prefix="cca_spark_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _routed_set(df):
    return {(r["sink"], r["entity_id"]) for r in df.select("sink", "entity_id").collect()}


def test_resume_partial_then_full(spark, sf_dir, tmp_out):
    from cca_spark.plans.manifest import read_facts, run_with_resume
    from cca_spark.plans.pipeline import routed_facts
    from cca_spark.transcripts import load_transcripts

    r1 = run_with_resume(spark, sf_dir, tmp_out, max_partitions=2)
    assert len(r1["processed"]) == 2

    r2 = run_with_resume(spark, sf_dir, tmp_out)
    assert set(r1["processed"]).isdisjoint(r2["processed"])
    assert r2["skipped"] == 2

    # idempotence: nothing left
    r3 = run_with_resume(spark, sf_dir, tmp_out)
    assert r3["processed"] == []

    got = _routed_set(read_facts(spark, tmp_out))
    want = _routed_set(routed_facts(spark, load_transcripts(spark, sf_dir)))
    assert got == want

    # no duplicate entity ids across the resumed writes
    facts = read_facts(spark, tmp_out)
    assert facts.count() == facts.select("entity_id").distinct().count()


def test_manifest_lineage_metrics(spark, sf_dir, tmp_out):
    """The manifest's counts are observed during the run, never read back;
    per partition they must equal the committed output and the input."""
    from cca_spark.plans.manifest import read_facts, read_manifest, run_with_resume
    from cca_spark.transcripts import load_transcripts

    run_with_resume(spark, sf_dir, tmp_out)
    manifest = read_manifest(spark, tmp_out).collect()
    # partitionBy round-trip infers date_bucket back as a date — compare as strings
    committed = {
        r["db"]: (r["n"], r["n_dead"])
        for r in read_facts(spark, tmp_out)
        .groupBy(F.col("date_bucket").cast("string").alias("db"))
        .agg(
            F.count("*").alias("n"),
            F.count_if(F.col("sink") == "dead_letter").alias("n_dead"),
        )
        .collect()
    }
    turns = {
        r["db"]: r["n"]
        for r in load_transcripts(spark, sf_dir)
        .groupBy(F.col("ts").cast("date").cast("string").alias("db"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {r["date_bucket"]: (r["n_facts"], r["n_dead_letter"]) for r in manifest} == committed
    assert {r["date_bucket"]: r["n_turns"] for r in manifest} == turns
    assert any(n_dead > 0 for _, n_dead in committed.values())
    assert all(r["run_id"] for r in manifest)


def test_resume_job_count(spark, sf_dir, tmp_out):
    """One count of the input finds the pending days and their turns, and
    the write observes the fact counts. Measured at sf0.001, local[4], 8
    shuffle partitions: 12 and 13 jobs for the two writing calls (18 and 19
    when the run also scanned the input for distinct days, re-counted its
    turns and read the committed facts back), 6 for the call with nothing
    left."""
    from cca_spark.plans.manifest import run_with_resume

    sc = spark.sparkContext
    jobs = []
    for i, max_partitions in enumerate((2, None, None)):
        group = f"resume_job_count_{i}"
        sc.setJobGroup(group, "job count")
        try:
            r = run_with_resume(spark, sf_dir, tmp_out, max_partitions=max_partitions)
        finally:
            sc._jsc.clearJobGroup()
        jobs.append((len(r["processed"]), len(sc.statusTracker().getJobIdsForGroup(group))))
    (n1, jobs1), (n2, jobs2), (n3, jobs3) = jobs
    assert n1 == 2 and n2 > 0 and n3 == 0
    assert 0 < jobs1 <= 13 and 0 < jobs2 <= 13
    assert 0 < jobs3 <= 6


def _files_per_leaf(out_dir: str) -> dict[str, int]:
    leaves: dict[str, int] = {}
    for root, _, names in os.walk(out_dir):
        n = sum(name.endswith(".parquet") for name in names)
        if n:
            leaves[os.path.relpath(root, out_dir)] = n
    return leaves


def test_write_sinks_leaf_layout(spark, sf_dir, tmp_out):
    """REBALANCE(sink, date_bucket) bounds the files per leaf by the
    advisory partition size: at the default every leaf of sf0.001 is one
    file; at 4 KB the larger leaves are split over several tasks, so over
    several files. The observed ``n_facts`` is exact either way."""
    from cca_spark.operators.route import write_sinks
    from cca_spark.plans.pipeline import routed_facts
    from cca_spark.transcripts import load_transcripts

    routed = routed_facts(spark, load_transcripts(spark, sf_dir))
    default_dir, small_dir = f"{tmp_out}/default", f"{tmp_out}/small"
    seen_default = write_sinks(routed, default_dir)
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4k")
    try:
        seen_small = write_sinks(routed, small_dir)
    finally:
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")

    default_leaves, small_leaves = _files_per_leaf(default_dir), _files_per_leaf(small_dir)
    assert len(default_leaves) > 100
    assert set(default_leaves.values()) == {1}
    assert small_leaves.keys() == default_leaves.keys()
    assert max(small_leaves.values()) > 1
    assert spark.read.parquet(default_dir).count() == seen_default["n_facts"] > 0
    assert spark.read.parquet(small_dir).count() == seen_small["n_facts"]
    assert seen_small["n_facts"] == seen_default["n_facts"]


def test_crash_between_data_and_manifest_is_idempotent(spark, sf_dir, tmp_out):
    """Simulate a crash after the data write but before the manifest
    commit: the partition is re-run and overwritten, not duplicated."""
    import cca_spark.plans.manifest as M

    r1 = M.run_with_resume(spark, sf_dir, tmp_out, max_partitions=1)
    part = r1["processed"][0]
    # wipe the manifest (data stays) => partition looks unprocessed
    import shutil as sh

    sh.rmtree(M._manifest_dir(tmp_out))
    r2 = M.run_with_resume(spark, sf_dir, tmp_out, max_partitions=1)
    assert r2["processed"][0] == part
    facts = M.read_facts(spark, tmp_out).filter(F.col("date_bucket") == part)
    assert facts.count() == facts.select("entity_id").distinct().count()


def test_unreadable_manifest_is_not_read_as_empty(spark, sf_dir, tmp_out):
    """An empty _manifest/ directory means nothing processed; a corrupt
    manifest file fails the run instead of reading as "nothing processed"
    (which would redo every partition and duplicate manifest rows)."""
    import os

    import cca_spark.plans.manifest as M

    os.makedirs(M._manifest_dir(tmp_out))
    assert M.processed_partitions(spark, tmp_out) == set()
    with open(os.path.join(M._manifest_dir(tmp_out), "part-0.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        M.run_with_resume(spark, sf_dir, tmp_out)
    assert not os.path.exists(M._facts_dir(tmp_out))


def test_streaming_matches_batch(spark, sf_dir, tmp_out):
    from cca_spark.plans.pipeline import routed_facts
    from cca_spark.streaming.pipeline import run_stream_to_memory
    from cca_spark.transcripts import load_transcripts

    t = load_transcripts(spark, sf_dir)
    input_dir = f"{tmp_out}/turns"
    t.repartition(6).write.parquet(input_dir)

    streamed = run_stream_to_memory(spark, input_dir, query_name="t_stream_parity")
    got = _routed_set(streamed)
    want = _routed_set(routed_facts(spark, t))
    assert got == want and len(got) > 0


def test_stateful_running_counts(spark, sf_dir, tmp_out):
    """applyInPandasWithState: final per-conv totals equal batch counts."""
    from cca_spark.plans.pipeline import routed_facts
    from cca_spark.streaming.pipeline import (
        running_conv_state,
        stream_routed_facts,
        stream_transcripts,
    )
    from cca_spark.transcripts import load_transcripts

    t = load_transcripts(spark, sf_dir)
    input_dir = f"{tmp_out}/turns"
    t.repartition(6).write.parquet(input_dir)

    stream = stream_transcripts(spark, input_dir)
    routed = stream_routed_facts(spark, stream)
    q = (
        running_conv_state(routed)
        .writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # last update per conv = running total
    got_df = spark.sql(
        "SELECT conv_id, max(n_facts_total) AS n FROM t_state GROUP BY conv_id"
    )
    got = {(r["conv_id"], r["n"]) for r in got_df.collect()}
    want = {
        (r["conv_id"], r["n"])
        for r in routed_facts(spark, t)
        .groupBy("conv_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want
