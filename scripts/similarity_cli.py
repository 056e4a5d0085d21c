#!/usr/bin/env python3
"""similarity CLI — the Spark-first analog of the reference's `simast`
driver (/root/reference/src/ast/analyzing/bin/simast.ml:1-60: compute
the similarity of TWO inputs and print it, no diff output).

Here the two inputs are conversations: each conv's turns concatenate in
stable (turn_idx) order into one token stream, and the score reports

- ``exact``         — md5 equality of the concatenated text,
- ``jaccard``       — 3-token shingle Jaccard (dedup.ngram_jaccard, the
  battery-oracled verify kernel, on a two-doc corpus),
- ``token_sim``     — difflib ratio over the token streams (the same
  sequential kernel lcs_pair_alignment uses; two docs, driver-side).

Usage:
    python scripts/similarity_cli.py CONV_A CONV_B [SF_DIR]

Prints one JSON line. Composes EXISTING battery operators — the point of
the analog is that a simast user needs no new engine, just a two-row
corpus through the same verified kernels.
"""

from __future__ import annotations

import difflib
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def conv_similarity(spark, sf_dir: str, conv_a: str, conv_b: str) -> dict:
    from pyspark.sql import functions as F

    from cca_spark.operators.dedup import ngram_jaccard
    from cca_spark.session import local_frame
    from cca_spark.transcripts import load_transcripts

    t = load_transcripts(spark, sf_dir).filter(F.col("conv_id").isin(conv_a, conv_b))
    # NO pre-groupBy orderBy: the shuffle destroys it; turn order is
    # established by the (turn_idx, text) struct array_sort below
    docs = (
        t.groupBy("conv_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda s: s["text"],
                ),
            ).alias("text")
        )
    )
    rows = {r["conv_id"]: r["text"] for r in docs.collect()}
    missing = [c for c in (conv_a, conv_b) if c not in rows]
    if missing:
        raise SystemExit(f"conv_id(s) not found: {missing}")
    # two-doc corpus through the battery's exact-Jaccard verify kernel
    corpus = local_frame(
        spark, [(0, rows[conv_a]), (1, rows[conv_b])], "doc_id long, text string"
    )
    pair = local_frame(spark, [(0, 1)], "doc_a long, doc_b long")
    jac_rows = ngram_jaccard(corpus, pair).collect()
    jaccard = float(jac_rows[0]["jaccard"]) if jac_rows else 0.0
    toks_a, toks_b = rows[conv_a].split(), rows[conv_b].split()
    token_sim = round(difflib.SequenceMatcher(None, toks_a, toks_b).ratio(), 6)
    return {
        "conv_a": conv_a,
        "conv_b": conv_b,
        "exact": rows[conv_a] == rows[conv_b],
        "jaccard": jaccard,
        "token_sim": token_sim,
        "n_tokens_a": len(toks_a),
        "n_tokens_b": len(toks_b),
    }


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    conv_a, conv_b = sys.argv[1], sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )
    from cca_spark.session import get_spark

    spark = get_spark(app_name="similarity_cli", master="local[8]")
    try:
        print(json.dumps(conv_similarity(spark, sf_dir, conv_a, conv_b)))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
