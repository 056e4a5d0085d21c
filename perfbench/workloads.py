"""The three workloads: the job each one times, its check, and its layer chain.

Every workload reads the same kind of seeded stored corpus (see corpus.py);
they differ in size and in the program path they drive.

A job is split in three so that only the program's work is timed:
``run`` (timed) executes the job through the program's public functions in
a fresh, empty ``work`` directory, ``collect`` (untimed) reads back what the
check needs, and ``check`` (pure, in oracle.py) compares it with DuckDB.

The traced run materialises a chain of layer prefixes instead. Each
``Layer`` builds the DataFrame a prefix of the job ends in; the worker writes
it to Spark's ``noop`` sink under ``setJobDescription(<layer>)``. A layer's
self numbers are its prefix's minus its ``parent`` prefix's. A layer without
a builder is the whole timed job. Where the program fuses steps inside one
function (the fused aggregate's enrich/route, the LSH band join), the prefix
repeats those few DataFrame steps here; where it inlines them inside a
function that also writes (``run_with_resume``'s fan-out shuffle), they count
to the writing layer (``manifest``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Layer:
    name: str
    parent: str | None
    # builds the prefix DataFrame; None stands for the whole timed job
    build: Callable[[SparkSession, DataFrame, str], DataFrame] | None


@dataclass(frozen=True)
class Workload:
    name: str
    n_events: int
    n_days: int
    why: str
    # listed in BENCHMARK.json; an unscored workload is run by hand only
    scored: bool
    run: Callable[[SparkSession, DataFrame, str], dict]
    collect: Callable[[SparkSession, dict, str], dict]
    layers: tuple[Layer, ...]


def digest(df: DataFrame, cols: list[str]) -> list[int]:
    """``[rows, bit_xor of the 60-bit md5 prefix of each row]``: the
    order-independent content digest of ``sources/interchange.py``."""
    from cca_spark.operators.corpus_prep import md5_prefix60

    key = md5_prefix60(F.concat_ws(":", *[F.col(c).cast("string") for c in cols]))
    row = df.select(key.alias("k")).agg(
        F.count("*").alias("n"), F.expr("bit_xor(k)").alias("x")
    ).first()
    return [row["n"], row["x"] or 0]


def _scan(spark: SparkSession, t: DataFrame, work: str) -> DataFrame:
    return t


# --- report: the fused parse → enrich → route → aggregate query, collected


def _report_run(spark: SparkSession, t: DataFrame, work: str) -> dict:
    from cca_spark.plans.pipeline import fused_pipeline_agg

    return {"rows": fused_pipeline_agg(spark, t).collect()}


def _report_collect(spark: SparkSession, state: dict, work: str) -> dict:
    rows = [
        [r["sink"], r["tool"], str(r["date_bucket"]), r["n_rows"], r["n_convs"]]
        for r in state["rows"]
    ]
    return {"rows": rows, "rows_out": len(rows)}


def _report_partials(spark: SparkSession, t: DataFrame, work: str) -> DataFrame:
    from cca_spark.operators.parse import parse_fact_partials

    return parse_fact_partials(t)


def _report_enriched(spark: SparkSession, t: DataFrame, work: str) -> DataFrame:
    # fused_pipeline_agg's enrich step: broadcast ontology join on the partials
    from cca_spark.ontology import tool_ontology_df

    tools = F.broadcast(tool_ontology_df(spark).select("tool", "category"))
    return _report_partials(spark, t, work).join(tools, "tool", "left")


def _report_routed(spark: SparkSession, t: DataFrame, work: str) -> DataFrame:
    from cca_spark.operators.route import route_facts

    return route_facts(_report_enriched(spark, t, work))


# --- ingest: two-wave resumable write of the full fact stream; the first
# wave commits the first half of the date buckets, the second resumes the rest

INGEST_DAYS = 6


def _ingest_run(spark: SparkSession, t: DataFrame, work: str) -> dict:
    from cca_spark.plans.manifest import run_with_resume

    out_dir = os.path.join(work, "ingest_out")
    first = run_with_resume(
        spark, None, out_dir, max_partitions=INGEST_DAYS // 2, transcripts=t
    )
    second = run_with_resume(spark, None, out_dir, transcripts=t)
    return {"out_dir": out_dir, "wave1": first, "wave2": second}


def _ingest_collect(spark: SparkSession, state: dict, work: str) -> dict:
    from cca_spark.plans.manifest import read_facts, read_manifest

    out_dir = state["out_dir"]
    readback = {
        f"{r['d']}|{r['sink']}": r["n"]
        for r in read_facts(spark, out_dir)
        .groupBy(F.col("date_bucket").cast("string").alias("d"), "sink")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    mrows = read_manifest(spark, out_dir).collect()
    files, size = 0, 0
    for root, _, names in os.walk(os.path.join(out_dir, "facts")):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    strip = ("run_id", "wall_ms")  # per-run values, not part of the result
    return {
        "wave1": {k: v for k, v in state["wave1"].items() if k not in strip},
        "wave2": {k: v for k, v in state["wave2"].items() if k not in strip},
        "readback": readback,
        "manifest": {
            str(r["date_bucket"]): [r["n_turns"], r["n_facts"], r["n_dead_letter"]]
            for r in mrows
        },
        "manifest_rows": len(mrows),
        "files": files,
        "output_mb": size / 2**20,
        "rows_out": sum(readback.values()),
    }


def _ingest_facts(spark: SparkSession, t: DataFrame, work: str) -> DataFrame:
    from cca_spark.operators.parse import parse_facts

    return parse_facts(t)


def _ingest_enriched(spark: SparkSession, t: DataFrame, work: str) -> DataFrame:
    from cca_spark.operators.enrich import enrich_facts

    return enrich_facts(spark, _ingest_facts(spark, t, work))


def _ingest_routed(spark: SparkSession, t: DataFrame, work: str) -> DataFrame:
    from cca_spark.operators.route import route_facts

    return route_facts(_ingest_enriched(spark, t, work))


# --- near_dup: exact dedup → LSH near-dup → components → keep list, + containment


def _near_dup_stages(t: DataFrame) -> tuple[DataFrame, DataFrame]:
    from cca_spark import chain

    docs = chain.turns_as_docs(t)
    groups = chain.exact_dedup_groups(docs)
    return groups, chain.exact_dedup_survivors(groups, docs)


def _near_dup_run(spark: SparkSession, t: DataFrame, work: str) -> dict:
    """``chain.near_dup_labels`` is ``connected_min_labels(lsh_verified_pairs())``;
    the two calls are made here directly so the pair set, checkpointed between
    them, can be checked. The exact-dedup stage outputs are checkpointed at the
    stage boundary, as ``scripts/production_day.py`` does, so its three
    consumers do not each replay it. Every output the check reads is
    materialised here, so ``collect`` runs no Spark job over the lineage. The
    job's result is the kept-doc digest."""
    from cca_spark import chain
    from cca_spark.operators.dedup import (
        connected_min_labels,
        lsh_verified_pairs,
        ngram_containment_over,
    )

    docs = chain.turns_as_docs(t)
    groups = chain.exact_dedup_groups(docs).localCheckpoint(eager=True)
    survivors = chain.exact_dedup_survivors(groups, docs).localCheckpoint(eager=True)
    pairs = lsh_verified_pairs(survivors).localCheckpoint(eager=True)
    labels = connected_min_labels(pairs, max_iters=30)
    kept = digest(chain.apply_keep_list(survivors, labels), ["doc_id"])
    containment = ngram_containment_over(survivors).localCheckpoint(eager=True)
    return {
        "groups": groups,
        "survivors": survivors,
        "pairs": pairs,
        "labels": labels,
        "containment": containment,
        "kept": kept,
    }


def _near_dup_collect(spark: SparkSession, state: dict, work: str) -> dict:
    """Reads back the checkpointed outputs (small: one row per doc or pair)
    and digests them in Python, in the same form as ``digest``."""
    from oracle import rows_digest

    def rows(name: str, cols: list[str]) -> list[tuple]:
        return [tuple(r) for r in state[name].select(*cols).collect()]

    texts = dict(rows("survivors", ["doc_id", "text"]))
    pairs = rows("pairs", ["doc_a", "doc_b", "jaccard"])
    containment = rows(
        "containment", ["doc_a", "doc_b", "containment_a_in_b", "containment_b_in_a"]
    )
    n_groups, groups_digest = rows_digest(rows("groups", ["text_md5", "n_copies"]))
    return {
        "n_groups": n_groups,
        "groups_digest": groups_digest,
        "jaccard_pairs": [(a, b, texts[a], texts[b]) for a, b, *_ in pairs],
        "containment_pairs": [(a, b, texts[a], texts[b]) for a, b, *_ in containment],
        "digests": {
            "kept": state["kept"],
            "labels": rows_digest(rows("labels", ["doc_id", "label"])),
            "pairs": rows_digest(pairs),
            "containment": rows_digest(containment),
        },
        "rows_out": state["kept"][0],
    }


def _nd_docs(spark: SparkSession, t: DataFrame, work: str) -> DataFrame:
    from cca_spark import chain

    return chain.turns_as_docs(t)


def _nd_survivors(spark: SparkSession, t: DataFrame, work: str) -> DataFrame:
    return _near_dup_stages(t)[1]


def _nd_shingles(spark: SparkSession, t: DataFrame, work: str) -> DataFrame:
    from cca_spark.operators.dedup import corpus_shingles

    return corpus_shingles(_nd_survivors(spark, t, work))


def _nd_signatures(spark: SparkSession, t: DataFrame, work: str) -> DataFrame:
    from cca_spark.operators.dedup import minhash_signatures

    return minhash_signatures(_nd_survivors(spark, t, work), with_count=True)


def _nd_band_candidates(spark: SparkSession, t: DataFrame, work: str) -> DataFrame:
    # lsh_verified_pairs' candidate step: band keys, capped buckets, self-join
    from pyspark.sql import Window

    from cca_spark.operators.dedup import LSH_BUCKET_CAP, N_BANDS, N_MINHASHES

    rows = N_MINHASHES // N_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(F.concat_ws("|", *[F.col(f"h{b * rows + r}") for r in range(rows)]))
                .alias("band_key"),
            )
            for b in range(N_BANDS)
        ]
    )
    banded = _nd_signatures(spark, t, work).select("doc_id", F.explode(bands).alias("b"))
    banded = banded.select("doc_id", "b.band_idx", "b.band_key")
    w = Window.partitionBy("band_idx", "band_key")
    lhs = banded.select(
        "doc_id",
        "band_idx",
        "band_key",
        F.count("*").over(w).alias("n"),
        F.min("doc_id").over(w).alias("hub"),
    ).filter((F.col("n") <= LSH_BUCKET_CAP) | (F.col("doc_id") == F.col("hub")))
    a, b = lhs.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _nd_pairs(spark: SparkSession, t: DataFrame, work: str) -> DataFrame:
    from cca_spark.operators.dedup import lsh_verified_pairs

    return lsh_verified_pairs(_nd_survivors(spark, t, work))


def _nd_kept(spark: SparkSession, t: DataFrame, work: str) -> DataFrame:
    from cca_spark import chain

    survivors = _nd_survivors(spark, t, work)
    return chain.apply_keep_list(survivors, chain.near_dup_labels(survivors, max_iters=30))


def _nd_containment(spark: SparkSession, t: DataFrame, work: str) -> DataFrame:
    from cca_spark.operators.dedup import ngram_containment_over

    return ngram_containment_over(_nd_survivors(spark, t, work))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="report",
            n_events=40_000,
            n_days=30,
            scored=True,
            why=(
                "north-star fused parse-enrich-route-aggregate over 40k seeded turns: "
                "Arrow/RE2 counting kernel and its Python boundary, little shuffle; "
                "bypasses dedup"
            ),
            run=_report_run,
            collect=_report_collect,
            layers=(
                Layer("transcripts", None, _scan),
                Layer("parse", "transcripts", _report_partials),
                Layer("enrich", "parse", _report_enriched),
                Layer("route", "enrich", _report_routed),
                Layer("aggregate", "route", None),
            ),
        ),
        Workload(
            name="ingest",
            n_events=10_000,
            n_days=INGEST_DAYS,
            scored=False,
            why=(
                "two-wave resumable ingest of 10k seeded turns: full-fact mapInPandas "
                "kernel, fan-out shuffle, partitioned parquet write, manifest readback"
            ),
            run=_ingest_run,
            collect=_ingest_collect,
            layers=(
                Layer("transcripts", None, _scan),
                Layer("parse", "transcripts", _ingest_facts),
                Layer("enrich", "parse", _ingest_enriched),
                Layer("route", "enrich", _ingest_routed),
                Layer("manifest", "route", None),
            ),
        ),
        Workload(
            name="near_dup",
            n_events=1_000,
            n_days=30,
            scored=True,
            why=(
                "exact + LSH near-dup, components and containment over 1k seeded turns: "
                "shuffle, self-join and disk-persist heavy; bypasses the parse kernel"
            ),
            run=_near_dup_run,
            collect=_near_dup_collect,
            layers=(
                Layer("transcripts", None, _nd_docs),
                Layer("dedup.exact", "transcripts", _nd_survivors),
                Layer("dedup.shingle", "dedup.exact", _nd_shingles),
                Layer("dedup.signature", "dedup.shingle", _nd_signatures),
                Layer("dedup.band_join", "dedup.signature", _nd_band_candidates),
                Layer("dedup.verify", "dedup.band_join", _nd_pairs),
                Layer("dedup.components", "dedup.verify", _nd_kept),
                Layer("dedup.containment", "dedup.exact", _nd_containment),
            ),
        ),
    )
}
