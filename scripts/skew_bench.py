"""Hot-conversation skew evidence at bench scale (VERDICT r02 #7).

Builds a genuinely skewed 19.2M-turn layout by collapsing every replica's
hot conversation back into ONE conv id (~10% of all turns in a single
conversation — the '15x average' generator skew compounded by replication),
then measures the parse stage over (a) conv-partitioned unsalted and
(b) salted layouts:

- deterministic per-partition row histogram (max/p99/median rows) — the
  skew itself, independent of machine noise;
- wall time of the identical Arrow parse over each layout — the straggler
  cost (unsalted: one task owns the hot conv end-to-end).

Prints one JSON line for BENCH.md.

Usage: python scripts/skew_bench.py [replicas=192]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 192
    from pyspark.sql import functions as F

    from cca_spark.bench_corpus import ensure_bench_corpus, read_bench_corpus
    from cca_spark.operators.parse import parse_facts
    from cca_spark.operators.route import salted_repartition
    from cca_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="skew_bench", master=f"local[{cpus}]", shuffle_partitions=2 * cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    path = ensure_bench_corpus(spark, sf_dir, replicas)
    corpus = read_bench_corpus(spark, path).withColumn(
        "conv_id",
        F.when(
            F.col("conv_id").startswith("conv-00000000#"), F.lit("conv-00000000")
        ).otherwise(F.col("conv_id")),
    )
    hot = corpus.filter(F.col("conv_id") == "conv-00000000").count()
    total = corpus.count()

    def histogram(df) -> dict:
        rows = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .agg(
                F.max("count").alias("max"),
                F.expr("percentile(count, 0.99)").alias("p99"),
                F.expr("percentile(count, 0.5)").alias("p50"),
                F.count("*").alias("n_parts"),
            )
            .collect()[0]
        )
        return {
            "max_rows": rows["max"],
            "p99_rows": int(rows["p99"]),
            "p50_rows": int(rows["p50"]),
            "n_partitions": rows["n_parts"],
        }

    def parse_wall(df) -> float:
        t0 = time.time()
        parse_facts(df).count()
        return round(time.time() - t0, 1)

    # explicit width on BOTH layouts: AQE otherwise coalesces the
    # conv-keyed exchange to a handful of fat partitions and the
    # comparison measures coalescing, not the hot-conversation skew
    width = 4 * cpus
    unsalted = corpus.repartition(width, F.col("conv_id"))
    salted = salted_repartition(corpus, n_salts=64, num_partitions=width)

    out = {
        "metric": "hot_conv_skew_salting",
        "n_turns": total,
        "hot_conv_turns": hot,
        "hot_share": round(hot / total, 4),
        "unsalted": histogram(unsalted),
        "salted": histogram(salted),
    }
    # warm-up (JVM/Arrow) on a slice, then measure both layouts
    parse_wall(corpus.limit(200_000))
    out["unsalted"]["parse_sec"] = parse_wall(unsalted)
    out["salted"]["parse_sec"] = parse_wall(salted)
    print(json.dumps(out))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH_skew.json"), "w") as f:
        json.dump(out, f, indent=2)
    spark.stop()


if __name__ == "__main__":
    main()
