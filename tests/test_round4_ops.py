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


def test_connected_min_labels_job_count(spark):
    """Each round is one eager checkpoint whose Observation carries the
    change count. On the 30-hop chain one call ran 82-83 Spark jobs when a
    round also checkpointed its one-hop labels and counted changes in a
    join of its own; measured now: 48 (43 before the root-hooking step
    added a window stage per round). The bound is 60% of the former."""
    from cca_spark.operators.dedup import connected_min_labels

    sc = spark.sparkContext
    pairs = _chain_pairs(spark, 30)
    sc.setJobGroup("connected_min_labels_job_count", "job count")
    try:
        labels = connected_min_labels(pairs, max_iters=8)
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup("connected_min_labels_job_count")
    assert {r["doc_id"]: r["label"] for r in labels.collect()} == {i: 0 for i in range(31)}
    assert 0 < len(jobs) <= 49


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


def test_connected_min_labels_shuffled_chain_converges_in_few_rounds(spark):
    """Root hooking: on a 31-node chain whose ids are not ordered along the
    path, min-label propagation with pointer doubling alone needed 20
    rounds (only the nodes on a tree's border moved); with every node of a
    label adopting the tree's smallest one-hop label it needs 5."""
    from cca_spark.operators.dedup import connected_min_labels

    ids = [3, 22, 17, 15, 0, 25, 4, 7, 14, 16, 20, 24, 12, 18, 10, 13]
    ids += [23, 28, 6, 19, 8, 9, 21, 5, 11, 26, 2, 1, 29, 27, 30]
    pairs = spark.createDataFrame(list(zip(ids, ids[1:])), "doc_a long, doc_b long")
    labels = connected_min_labels(pairs, max_iters=6)
    assert {r["doc_id"]: r["label"] for r in labels.collect()} == {i: 0 for i in range(31)}


def test_connected_min_labels_long_chain_converges(spark):
    """Pointer doubling: the 30-hop chain collapses to label 0 within 8
    rounds (measured: 5) — O(diameter) one-hop propagation needed 30+."""
    from cca_spark.operators.dedup import connected_min_labels

    labels = connected_min_labels(_chain_pairs(spark, 30), max_iters=8)
    rows = {r["doc_id"]: r["label"] for r in labels.collect()}
    assert rows == {i: 0 for i in range(31)}


def test_connected_min_labels_shuffled_chain_converges_in_four_rounds(spark):
    """The initial labels are each node's one-hop minimum, so round one
    starts a hop ahead: the shuffled 31-node chain above converges within 4
    rounds (it needed 5 when every node started from its own id)."""
    from cca_spark.operators.dedup import connected_min_labels

    ids = [3, 22, 17, 15, 0, 25, 4, 7, 14, 16, 20, 24, 12, 18, 10, 13]
    ids += [23, 28, 6, 19, 8, 9, 21, 5, 11, 26, 2, 1, 29, 27, 30]
    pairs = spark.createDataFrame(list(zip(ids, ids[1:])), "doc_a long, doc_b long")
    labels = connected_min_labels(pairs, max_iters=4)
    assert {r["doc_id"]: r["label"] for r in labels.collect()} == {i: 0 for i in range(31)}


def _shuffled_ids(rng, n: int, base: int) -> list[int]:
    ids = list(range(base, base + n))
    rng.shuffle(ids)
    return ids


def _graph_paths(rng) -> list[tuple[int, int]]:
    """Five paths of 2-40 nodes whose ids are not ordered along them."""
    edges, base = [], 0
    for n in (2, 5, 17, 33, 40):
        ids = _shuffled_ids(rng, n, base)
        edges += list(zip(ids, ids[1:]))
        base += n
    return edges


def _graph_star(rng) -> list[tuple[int, int]]:
    """One hub with 60 leaves; the hub is not the smallest id."""
    ids = _shuffled_ids(rng, 61, 100)
    hub = ids.pop(ids.index(130))
    return [(hub, leaf) if i % 2 else (leaf, hub) for i, leaf in enumerate(ids)]


def _graph_hub_chains(rng) -> list[tuple[int, int]]:
    """A hub with six chains of 12 nodes hanging off it."""
    ids = _shuffled_ids(rng, 73, 500)
    hub, rest = ids[0], ids[1:]
    edges = []
    for k in range(6):
        chain = [hub] + rest[12 * k : 12 * (k + 1)]
        edges += list(zip(chain, chain[1:]))
    return edges


def _graph_isolated_pairs(rng) -> list[tuple[int, int]]:
    """40 components of exactly two nodes, either orientation."""
    ids = _shuffled_ids(rng, 80, 1000)
    return [(ids[2 * k], ids[2 * k + 1]) for k in range(40)]


def _graph_random_forest(rng) -> list[tuple[int, int]]:
    """400 nodes in random trees (each node links to an earlier node of its
    tree, or starts a new tree), ids shuffled across the whole forest, plus
    a few duplicate and reversed edges."""
    ids = _shuffled_ids(rng, 400, 2000)
    edges, tree_start = [], 0
    for i in range(1, len(ids)):
        if rng.random() < 0.04:
            tree_start = i
            continue
        edges.append((ids[i], ids[rng.randrange(tree_start, i)]))
    edges += [(b, a) for a, b in rng.sample(edges, 20)] + rng.sample(edges, 10)
    return edges


def _union_find_min_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # the root is the component's min
    return {x: find(x) for x in parent}


@pytest.mark.parametrize(
    "graph",
    [_graph_paths, _graph_star, _graph_hub_chains, _graph_isolated_pairs, _graph_random_forest],
)
def test_connected_min_labels_matches_union_find(spark, graph):
    """Every node gets its component's smallest id, as a Python union-find
    computes it, on seeded graphs whose ids are shuffled."""
    import random

    from cca_spark.operators.dedup import connected_min_labels

    edges = graph(random.Random(graph.__name__))
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["label"] for r in connected_min_labels(pairs).collect()}
    assert got == _union_find_min_labels(edges)
