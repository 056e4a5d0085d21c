"""Round-4 additions: ASCII character-class parity across the three rule
evaluation paths, fixpoint stress at pathological component diameter, and
the payload-level multimodal decode."""

from __future__ import annotations

import re

import pytest


def test_bank_ascii_class_parity():
    """All three evaluation paths (Python re, Spark/Java regex,
    DuckDB/RE2) must share ASCII character-class semantics (ADVICE r03):
    every compiled bank pattern carries re.ASCII, and a Unicode digit
    must NOT satisfy \\d in the Python kernel (it would match nowhere
    else)."""
    from cca_spark.operators.parse import compile_bank

    bank = compile_bank()
    assert bank, "empty bank"
    for rule, cre, _sfn in bank:
        assert cre.flags & re.ASCII, f"{rule.rule_id} compiled without re.ASCII"

    exit_rules = [(r, cre) for r, cre, _ in bank if r.rule_id == "r_exit_severity"]
    assert exit_rules, "r_exit_severity missing from bank"
    _rule, cre = exit_rules[0]
    assert cre.search("exit code 3"), "ASCII digit must still match"
    # fullwidth '３' (U+FF13) and Arabic-Indic '٣' (U+0663) match \d under
    # default Python re but not under Java regex or RE2 — with re.ASCII the
    # Python kernel agrees with the other engines and rejects both
    assert cre.search("exit code ３") is None
    assert cre.search("exit code ٣") is None


def test_bank_ascii_sig_derivation_not_escalated():
    """A Unicode digit in the significance-deriving capture must not match
    at all (so it cannot escalate significance only in the Python path)."""
    from cca_spark.rules import RULES, sig_fn

    rule = next(r for r in RULES if r.rule_id == "r_exit_severity")
    cre = re.compile(rule.pattern, re.ASCII)
    fn = sig_fn(rule)
    m = cre.search("exit code 9")
    assert fn(m) == rule.derive.sig_true  # ASCII digit >= 2 escalates
    assert cre.search("exit code ９") is None  # fullwidth 9: no match


def test_streaming_dedup_first_seen_matches_batch(spark, sf_dir):
    """The stateful streaming dedup's drained state must equal the batch
    md5-groupBy exactly (keeper = min doc key, n_copies = count)."""
    import __spark_entry__ as entrymod
    from tests.util import assert_matches_oracle

    q = entrymod.queries()["streaming_dedup_first_seen"]
    oracle = entrymod.oracle_sql()["streaming_dedup_first_seen"].replace(
        "/root/testdata/sf0.01", sf_dir
    )
    assert_matches_oracle(q(spark, sf_dir), oracle, min_rows=10, sf_dir=sf_dir)


def test_bm25_plan_has_single_token_explode(spark, sf_dir):
    """Scale regression pin (VERDICT r03 #2): the corpus-sized token
    explode must execute exactly once. The query-term tf aggregate is
    eagerly localCheckpointed at build time, so the RETURNED plan must
    contain ZERO Generate nodes (both tf consumers read the checkpointed
    RDD) — dl is a plain projection, not an explode."""
    from cca_spark.operators.textstats import bm25_retrieval

    df = bm25_retrieval(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, "token explode leaked back into the scoring plan"


def test_tfidf_no_forced_vocabulary_broadcast(spark, sf_dir):
    """The df (vocabulary-sized) join must not carry a user broadcast hint
    (O(1e9) tokens at web scale). AQE may still CHOOSE broadcast from
    runtime stats — the pin is on the logical plan's hints, not the
    physical strategy."""
    from cca_spark.operators.textstats import tfidf_top_terms

    df = tfidf_top_terms(spark, sf_dir)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    # the only legitimate broadcast hint is the 1-row n_docs scalar
    assert logical.lower().count("broadcast") <= 1
    # the corpus token explode computes once: tf is a LAZY disk-only
    # persist (ADVICE r04 — no eager build-time job, lineage-recoverable)
    # and BOTH consumers (dfreq agg + scoring join) must read it via
    # InMemoryTableScan — CacheManager maps plan-equal relations to one
    # cache entry, so the explode executes once when the cache builds.
    # (Dropping the persist → 0 InMemoryTableScans; recomputing dfreq from
    # its own explode → only 1 — both regressions trip the count.)
    fmt = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert fmt.count("InMemoryTableScan") >= 2, "tf cache not shared by both consumers"
    assert "StorageLevel(disk" in fmt, "tf must persist DISK_ONLY, not checkpoint"


def test_ann_ivf_nprobe1_matches_oracle(spark, sf_dir):
    """IVF ANN at nprobe=1 (each query searches only its own cell) is
    oracle-exact; the battery's ``ann_ivf_nprobe`` covers nprobe > 1."""
    from cca_spark.operators.similarity import ivf_ann_nprobe
    from cca_spark.oracles_training import ivf_ann_sql
    from tests.util import assert_matches_oracle

    assert_matches_oracle(
        ivf_ann_nprobe(spark, sf_dir, nprobe=1),
        ivf_ann_sql(nprobe=1),
        min_rows=10,
        sf_dir=sf_dir,
    )


def test_connected_min_labels_rejects_bad_max_iters(spark):
    from cca_spark.operators.dedup import connected_min_labels

    pairs = spark.createDataFrame([(0, 1)], "doc_a long, doc_b long")
    with pytest.raises(ValueError, match="max_iters"):
        connected_min_labels(pairs, max_iters=0)


def _chain_pairs(spark, hops: int):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(hops)], "doc_a long, doc_b long"
    )


def test_connected_min_labels_long_chain_raises(spark):
    """A 30-hop path needs ~5 pointer-doubling rounds (O(log d) after the
    r4 doubling step; ~30 one-hop rounds before): an insufficient bound
    must fail LOUDLY, never return unconverged labels (VERDICT r03
    stretch)."""
    from cca_spark.operators.dedup import connected_min_labels

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_min_labels(_chain_pairs(spark, 30), max_iters=3)


def test_payload_decode_matches_oracle(spark, sf_dir):
    from cca_spark.operators.multimodal import multimodal_payload_decode
    from cca_spark.oracles_training import multimodal_payload_decode_sql
    from tests.util import assert_matches_oracle

    assert_matches_oracle(
        multimodal_payload_decode(spark, sf_dir),
        multimodal_payload_decode_sql(),
        min_rows=10,
        sf_dir=sf_dir,
    )


def test_png_payload_roundtrip_all_filters():
    """The encoder emits filter types 0/1/2 across scanlines (y % 3); the
    decoder must reconstruct the exact formula bytes through inflate +
    unfilter for every color type."""
    from cca_spark.operators.multimodal import (
        _decode_png_payload,
        _encode_png_payload,
        _png_payload_params,
    )

    for doc_id in (0, 2, 4, 6, 38, 122, 334):  # covers all 3 color types, h >= 3
        w, h, _ct, ch = _png_payload_params(doc_id)
        n, s, sq = _decode_png_payload(_encode_png_payload(doc_id))
        want = [
            (doc_id + y + i) % 256 for y in range(h) for i in range(w * ch)
        ]
        assert n == h * w * ch
        assert s == sum(want)
        assert sq == sum(v * v for v in want)


def test_png_payload_corruption_detected():
    """A flipped IDAT byte must fail the CRC walk loudly, never produce
    silently-wrong sample statistics."""
    import pytest as _pytest

    from cca_spark.operators.multimodal import (
        _decode_png_payload,
        _encode_png_payload,
    )

    b = bytearray(_encode_png_payload(40))
    idat_off = b.index(b"IDAT")
    b[idat_off + 10] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC"):
        _decode_png_payload(bytes(b))


def test_wav_payload_roundtrip():
    from cca_spark.operators.multimodal import (
        _decode_wav_payload,
        _encode_wav_payload,
    )

    for doc_id in (1, 3, 77, 199):
        n, s, sq = _decode_wav_payload(_encode_wav_payload(doc_id))
        want = [
            ((doc_id * 131 + i * 17) % 4096) - 2048
            for i in range(doc_id % 200 + 40)
        ]
        assert (n, s, sq) == (len(want), sum(want), sum(v * v for v in want))


def test_connected_min_labels_long_chain_converges(spark):
    """Pointer doubling: the 30-hop chain collapses to label 0 within 8
    rounds (measured: 5) — O(diameter) one-hop propagation needed 30+."""
    from cca_spark.operators.dedup import connected_min_labels

    labels = connected_min_labels(_chain_pairs(spark, 30), max_iters=8)
    rows = {r["doc_id"]: r["label"] for r in labels.collect()}
    assert rows == {i: 0 for i in range(31)}
