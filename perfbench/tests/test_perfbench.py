"""Tests of the benchmark's own code: the event-log rollup and the gate.

Run from the root of a checkout::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]

import corpus  # noqa: E402
import eventlog  # noqa: E402
import oracle  # noqa: E402


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    from cca_spark.session import get_spark

    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    spark = get_spark(
        app_name="perfbench-tests",
        master="local[2]",
        shuffle_partitions=4,
        extra_conf=eventlog.EVENT_LOG_CONF
        | {"spark.eventLog.dir": "file://" + log_dir, "spark.ui.showConsoleProgress": "false"},
    )
    yield spark, log_dir
    spark.stop()


@pytest.fixture(scope="module")
def tiny_corpus(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("checkout"))
    path = corpus.ensure_corpus(root, seed=7, n_events=400, n_days=3)
    return path


def test_corpus_is_seeded(tmp_path):
    a = corpus.ensure_corpus(str(tmp_path / "a"), seed=3, n_events=200, n_days=2)
    b = corpus.ensure_corpus(str(tmp_path / "b"), seed=3, n_events=200, n_days=2)
    c = corpus.ensure_corpus(str(tmp_path / "c"), seed=4, n_events=200, n_days=2)
    rows = [oracle._query(f"SELECT * FROM read_parquet('{corpus.corpus_glob(p)}') ORDER BY ALL")
            for p in (a, b, c)]  # fmt: skip
    assert rows[0] == rows[1]
    assert rows[0] != rows[2]
    assert any(r[0] == "conv-00000000" for r in rows[0])  # the hot conversation


def test_rollup_on_tiny_tagged_query(traced_spark):
    from pyspark.sql import functions as F

    spark, log_dir = traced_spark
    sc = spark.sparkContext
    sc.setJobDescription("scan")
    spark.range(0, 1000, 1, 4).write.format("noop").mode("overwrite").save()
    sc.setJobDescription("agg")
    (
        spark.range(0, 1000, 1, 4)
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    sc.setJobDescription(None)
    spark.range(10).collect()  # untagged: must not be attributed
    sc._jsc.sc().listenerBus().waitUntilEmpty()

    log = [os.path.join(log_dir, n) for n in os.listdir(log_dir)]
    assert len(log) == 1
    tags = eventlog.rollup(log[0])
    assert set(tags) == {"scan", "agg"}
    assert tags["scan"].n_tasks == 4
    assert tags["scan"].shuffle_write_mb == 0
    assert tags["agg"].n_tasks > 4  # map stage plus at least one reduce task
    assert tags["agg"].shuffle_write_mb > 0
    assert len(tags["agg"].stage_task_s) >= 2
    assert tags["agg"].task_s >= 0 and tags["agg"].task_skew >= 1.0


def test_report_gate_accepts_the_job_and_rejects_an_altered_result(traced_spark, tiny_corpus):
    from cca_spark.bench_corpus import read_bench_corpus

    from workloads import WORKLOADS

    spark, _ = traced_spark
    want = oracle.expected("report", corpus.corpus_glob(tiny_corpus), tiny_corpus)
    wl = WORKLOADS["report"]
    out = wl.collect(spark, wl.run(spark, read_bench_corpus(spark, tiny_corpus), ""), "")
    assert oracle.check_report(out["rows"], want) == []

    altered = [list(r) for r in out["rows"]]
    altered[0][3] += 1  # one count off by one
    assert oracle.check_report(altered, want)
    assert oracle.check_report(out["rows"][1:], want)  # one row lost


def _ingest_output(want: dict) -> dict:
    dates = sorted(want["turns"])
    half = len(dates) // 2
    per_date: dict[str, list[int]] = {d: [want["turns"][d], 0, 0] for d in dates}
    for key, n in want["facts"].items():
        d, sink = key.split("|")
        per_date[d][1] += n
        per_date[d][2] += n if sink == "dead_letter" else 0
    return {
        "wave1": {"processed": dates[:half], "skipped": 0},
        "wave2": {"processed": dates[half:], "skipped": half},
        "readback": dict(want["facts"]),
        "manifest": per_date,
        "manifest_rows": len(dates),
    }


def test_ingest_gate_rejects_altered_results(tiny_corpus):
    want = oracle.expected("ingest", corpus.corpus_glob(tiny_corpus), tiny_corpus)
    assert oracle.check_ingest(_ingest_output(want), want) == []

    lost_row = _ingest_output(want)
    key = next(iter(lost_row["readback"]))
    lost_row["readback"][key] -= 1
    assert oracle.check_ingest(lost_row, want)

    rerun = _ingest_output(want)
    rerun["wave2"]["skipped"] = 0  # second wave redid the first wave's work
    assert oracle.check_ingest(rerun, want)

    stale = _ingest_output(want)
    stale["manifest"][sorted(stale["manifest"])[0]][1] += 1
    assert oracle.check_ingest(stale, want)


def test_pair_check_recomputes_similarity():
    a = "turn 1 [user]: please check item 17 and report priority=p1"
    b = "turn 2 [user]: please check item 17 and report priority=p1"
    unrelated = "session start for user 5 locale=en-US"
    assert oracle.check_pairs([(1, 2, a, b)], "jaccard", 0.5) == []
    assert oracle.check_pairs([(1, 3, a, unrelated)], "jaccard", 0.5)
    assert oracle.check_pairs([(1, 2, a, a + " extra words here")], "containment", 0.9) == []


def test_rows_digest_matches_the_duckdb_group_digest(tiny_corpus):
    glob = corpus.corpus_glob(tiny_corpus)
    want = oracle.expected("near_dup", glob, tiny_corpus)
    groups = oracle._query(
        f"SELECT md5(text), count(*) FROM read_parquet('{glob}') GROUP BY 1"
    )
    assert oracle.rows_digest(groups) == [want["n_groups"], want["digest"]]


def test_near_dup_gate_rejects_a_changed_digest(tiny_corpus):
    want = oracle.expected("near_dup", corpus.corpus_glob(tiny_corpus), tiny_corpus)
    out = {
        "n_groups": want["n_groups"],
        "groups_digest": want["digest"],
        "jaccard_pairs": [],
        "containment_pairs": [],
        "digests": {"kept": [10, 123]},
    }
    assert oracle.check_near_dup(out, want, {"kept": [10, 123]}) == []
    assert oracle.check_near_dup(out, want, {"kept": [10, 124]})
    assert oracle.check_near_dup(out | {"groups_digest": want["digest"] ^ 1}, want, None)
