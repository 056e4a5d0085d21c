"""Deduplication family for training-data pipelines.

Reference analog: CCA's hash-prematch dedupes identical subtrees via
content digests before expensive tree-edit-distance
(/root/reference/src/ast/analyzing/engine/analyzing.ml:1292-1326,
treediff.ml:369-460 ``fast_match_trees``) — exactly the
cheap-hash-first / expensive-verify-second discipline used here:

- exact:        md5 group-by (the digest prematch itself)
- minhash+LSH:  shingle → K min-hashes → band buckets → bucket join →
                exact-Jaccard verify on candidates only
- simhash64:    64-bit bit-majority signature → 4×16-bit Hamming bands →
                band join → exact-Hamming verify on candidates only
- n-gram Jaccard: exact set overlap on candidate pairs
- embedding cosine near-dup lives in similarity.py

Everything is relational (explode/groupBy/join) — no UDFs — so Catalyst
handles partial aggregation and AQE handles the skewed-bucket joins. At
100 TB the shingle explode is the dominant shuffle; it is keyed by doc_id
(partial map-side min per hash already shrinks it) and the band join
broadcasts nothing — it's a self-equi-join on (band_idx, band_key) where
bucket sizes are bounded by LSH design.

The test corpus has no natural near-dups, so a deterministic twin corpus
is derived: every 3rd document gets a suffix-perturbed copy
(doc_id + 1_000_000) — both engines derive it from the same parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TWIN_SUFFIX = " near duplicate twin suffix"
TWIN_SUFFIX2 = " second generation twin"
N_MINHASHES = 8
N_BANDS = 4  # rows per band = N_MINHASHES // N_BANDS = 2
SHINGLE_K = 3


def dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ deterministic near-dup twins of every 3rd doc."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    twins = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(TWIN_SUFFIX)).alias("text"),
        )
    )
    return docs.unionByName(twins)


def chain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_corpus ∪ second-generation twins: every 6th doc also gets a
    twin-of-its-twin (A ~ B ~ C chains), so transitive-closure dedup has
    real multi-hop components to collapse (reference: clone/origin chains
    followed across versions, fragment.py:29-103)."""
    base = dedup_corpus(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    second = docs.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(TWIN_SUFFIX), F.lit(TWIN_SUFFIX2)).alias("text"),
    )
    return base.unionByName(second)


def corpus_shingles(corpus: DataFrame) -> DataFrame:
    """``SHINGLE_K``-token shingles via sequence+slice (no UDF)."""
    toks = corpus.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    return (
        toks.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(F.size("toks") - SHINGLE_K, F.lit(0))),
                    lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, SHINGLE_K)),
                )
            ).alias("shingle"),
        )
        .filter(F.col("shingle") != "")
    )


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5(text) groups; keeper = min(doc_id) (deterministic
    first-win, like the reference's digest cache keying diffts.py:170-207)."""
    corpus = dedup_corpus(spark, sf_dir)
    return (
        corpus.groupBy(F.md5("text").alias("text_md5"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def minhash_signatures(
    corpus: DataFrame,
    shingles: DataFrame | None = None,
    with_count: bool = False,
) -> DataFrame:
    """K min-hash values per doc: h_i = min(md5(i || ':' || shingle)).

    md5-as-hash-family keeps both engines bit-identical (hex-string min
    is a total order both sides); partial min aggregation runs map-side.
    Pass ``shingles`` to reuse an already-materialized shingle stream.
    ``with_count=True`` adds ``n_sh`` = count of the input rows per doc to
    the SAME aggregation — when the input is the distinct shingle stream,
    that is the per-doc set size the Jaccard verify needs, computed in the
    one per-doc pass instead of by a second corpus-scan aggregate (r6).
    """
    sh = corpus_shingles(corpus) if shingles is None else shingles
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
        for i in range(N_MINHASHES)
    ]
    if with_count:
        aggs.append(F.count("*").alias("n_sh"))
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs, verified with exact Jaccard.

    Bands of 2 hashes; candidates = docs sharing any band key; verify
    joins candidate pairs back to shingle sets and computes true Jaccard.
    Only candidates pay the verify cost (LSH prunes the N² space)."""
    return lsh_verified_pairs(dedup_corpus(spark, sf_dir))


# Above this many docs in one bucket, the in-bucket self-join emits only
# hub-star pairs (see _capped_bucket_pairs).
LSH_BUCKET_CAP = 64
LSH_JACCARD_THRESHOLD = 0.5


def _distinct_shingles(corpus: DataFrame) -> DataFrame:
    """The distinct ``(doc_id, shingle)`` rows of ``corpus``, hash-partitioned
    by doc_id and cached lazily on disk: the one shingle stage of every
    near-dup operator.

    - Distinct before caching: min-hash, bottom-k and fingerprint minima
      are invariant under shingle multiplicity, and the exact verify needs
      distinct rows anyway, so one distinct serves every consumer and
      shrinks the cached bytes.
    - ``repartition(doc_id)`` before the distinct: hashpartitioning on
      doc_id satisfies the clustering of both the ``(doc_id, shingle)``
      distinct and any downstream ``groupBy(doc_id)``, so the per-doc
      aggregates read the cache with no further exchange. The tradeoff:
      the one exchange carries the raw (pre-distinct) stream, since no
      map-side partial distinct runs ahead of it; within-doc duplicate
      k-token shingles are rare, so the bytes are about the same while the
      exchange count halves. A giant doc makes one partition hot, as the
      per-doc aggregates would anyway.
    - ``persist(DISK_ONLY)``, not an eager checkpoint: the stream is
      corpus(token)-sized, so it must not compete with execution memory;
      no job runs at DataFrame-build time, and a lost block recomputes from
      lineage instead of failing the query. The doc-sized aggregates built
      on it (one row per doc) are the opposite case: callers checkpoint
      those eagerly, because several consumers read them and would
      otherwise each replay the per-doc aggregation over this stream."""
    from pyspark import StorageLevel

    return (
        corpus_shingles(corpus)
        .repartition(F.col("doc_id"))
        .distinct()
        .persist(StorageLevel.DISK_ONLY)
    )


def _capped_bucket_pairs(rows: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Distinct ``(doc_a, doc_b)`` pairs, ``doc_a < doc_b``, of docs that share
    a bucket, where ``rows`` holds ``(doc_id, *keys)`` bucket memberships.

    A bucket of at most ``cap`` docs emits all its pairs. A larger one (a
    replica family, or a boilerplate key shared by unrelated docs) emits
    only hub-star pairs: each member paired with the bucket's min doc_id,
    O(n) per bucket instead of O(n^2). Bucket size and hub are window
    aggregates over the same partitioning the self-join shuffles by, and
    the hub filter sits on the left side only, so oversized buckets never
    materialize their cross product. A dense bucket makes one window
    partition large, but counting it is the same O(n) the join build pays.

    Recall: in an oversized bucket a non-hub pair (b, c) survives only
    through another, smaller shared bucket. Connected components still
    join b and c through the hub whenever hub~b and hub~c both verify,
    which holds when the bucket is one replica family, the case that makes
    buckets oversized in practice. The DuckDB oracles mirror the cap."""
    from functools import reduce
    from operator import and_

    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    lhs = (
        rows.select(
            "doc_id",
            *keys,
            F.count("*").over(w).alias("bucket_n"),
            F.min("doc_id").over(w).alias("bucket_hub"),
        )
        .filter((F.col("bucket_n") <= cap) | (F.col("doc_id") == F.col("bucket_hub")))
        .select("doc_id", *keys)
    )
    a, b = lhs.alias("a"), rows.alias("b")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    on.append(F.col("a.doc_id") < F.col("b.doc_id"))
    return (
        a.join(b, reduce(and_, on))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def lsh_verified_pairs(corpus: DataFrame, bucket_cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """MinHash+LSH near-dup pairs of a ``(doc_id, text)`` corpus:
    ``(doc_a, doc_b, jaccard)`` with exact shingle Jaccard at least
    ``LSH_JACCARD_THRESHOLD``.

    Cheap prematch, exact verify: docs sharing any band key (``N_BANDS``
    bands of ``N_MINHASHES // N_BANDS`` min-hashes) become candidates, and
    only candidates pay the exact Jaccard join. Buckets above
    ``bucket_cap`` emit hub-star candidates only (see
    ``_capped_bucket_pairs`` for the recall tradeoff), which keeps a
    high-duplicate corpus linear instead of quadratic in bucket size.

    The shingle stream is built once (``_distinct_shingles``) and feeds
    both the signatures and the verify. The doc-sized signature table
    (K hashes plus the set size ``n_sh``) is checkpointed eagerly: the band
    explode reads it on both join sides and the verify reads its set
    sizes, so no consumer replays the K-minhash aggregation."""
    shingles = _distinct_shingles(corpus)
    sigs = minhash_signatures(corpus, shingles=shingles, with_count=True).localCheckpoint(
        eager=True
    )
    rows_per_band = N_MINHASHES // N_BANDS
    band_cols = []
    for b in range(N_BANDS):
        parts = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_idx"), F.md5(F.concat_ws("|", *parts)).alias("band_key"))
        )
    banded = sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("band")).select(
        "doc_id", "band.band_idx", "band.band_key"
    )
    cands = _capped_bucket_pairs(banded, ["band_idx", "band_key"], bucket_cap)
    jac = _pair_shingle_jaccard(shingles, cands, sizes=sigs.select("doc_id", "n_sh"))
    return jac.filter(F.col("jaccard") >= LSH_JACCARD_THRESHOLD)


def _pair_shingle_intersections(
    sh: DataFrame, pairs: DataFrame, sizes: DataFrame | None = None
) -> DataFrame:
    """Exact shingle-set intersection for candidate (doc_a, doc_b) pairs:
    ``(doc_a, doc_b, n_inter, n_a, n_b)``. The ONE verify kernel shared by
    the Jaccard and containment families — a fix to the shared-shingle
    join (semantics, skew handling) lands in both or neither. ``sh`` must
    already be DISTINCT (doc_id, shingle) rows. Callers that already hold
    the per-doc set size in a doc-sized table (the signature/sketch aggs
    carry it) pass it as ``sizes`` = (doc_id, n_sh), skipping the
    corpus-scan ``groupBy(doc_id).count()`` here."""
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.join(sa, "doc_a").join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return inter.join(na, "doc_a").join(nb, "doc_b")


def _pair_shingle_jaccard(
    sh_distinct: DataFrame, pairs: DataFrame, sizes: DataFrame | None = None
) -> DataFrame:
    """Jaccard over an ALREADY-DISTINCT (doc_id, shingle) stream."""
    return _pair_shingle_intersections(sh_distinct, pairs, sizes=sizes).select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
            6,
        ).alias("jaccard"),
    )


def ngram_jaccard(corpus: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for given (doc_a, doc_b) pairs."""
    return _pair_shingle_jaccard(corpus_shingles(corpus).distinct(), pairs)


def repeated_span_fraction_over(corpus: DataFrame) -> DataFrame:
    """Cross-document boilerplate signal: per doc, the fraction of its
    distinct ``SHINGLE_K``-token spans that also appear in at least one OTHER doc —
    the corpus-level complement of decontam.repetition_filter (which
    scores repetition WITHIN a doc). Headers, footers, navigation chrome,
    and licence blocks show up as high repeated_frac long before full-doc
    dedup fires; RefinedWeb-style pipelines threshold exactly this.

    Scale shape: the corpus shingle stream explodes twice (df pass + the
    per-doc join pass) — deliberately NOT checkpointed: the distinct
    shingle table is data-sized, and pinning it in executor block storage
    is the tfidf hazard ADVICE r04 flagged; two streamed explodes beat
    one materialization. The df join keys on shingle with no forced
    broadcast (AQE decides — the tfidf lesson); the shuffle carries
    (shingle, df), never text. df counts DOCS (shd is distinct per doc),
    so df >= 2 means "appears in another doc", not "appears twice"."""
    shd = corpus_shingles(corpus).distinct()
    dfreq = shd.groupBy("shingle").agg(F.count("*").alias("df"))
    rep = F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).cast("bigint")
    return (
        shd.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            rep.alias("n_repeated"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_repeated",
            F.round(
                F.col("n_repeated").cast("double") / F.col("n_shingles"), 6
            ).alias("repeated_frac"),
        )
    )


def repeated_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return repeated_span_fraction_over(docs)


BOTTOM_K_SKETCH = 4  # bottom-k min-hash sketch size for containment blocking
CONTAINMENT_THRESHOLD = 0.9
SKETCH_BUCKET_CAP = 64  # hub-star cap on a sketch-hash bucket (see LSH_BUCKET_CAP)


def ngram_containment_over(
    corpus: DataFrame, bucket_cap: int = SKETCH_BUCKET_CAP
) -> DataFrame:
    """Asymmetric n-gram containment near-dup pairs of a ``(doc_id, text)``
    corpus: ``(doc_a, doc_b, n_inter, containment_a_in_b,
    containment_b_in_a)`` where ``|A∩B| / |A|`` or ``|A∩B| / |B|`` is at
    least ``CONTAINMENT_THRESHOLD``.

    Jaccard misses subset relations: a short doc quoted whole inside a
    long one has low Jaccard but containment 1.0. Candidates share a hash
    of their bottom-k sketches (each doc's ``BOTTOM_K_SKETCH`` smallest
    shingle md5s; for A ⊆ B, B's bottom-k are minima over a superset of
    A's shingles, so sketches overlap at high containment where a single
    min-fingerprint would miss). Exact set intersection verifies them. A
    sketch bucket goes dense for a duplicate cluster or for a boilerplate
    shingle with a globally small md5, so buckets above ``bucket_cap``
    emit hub-star candidates only (``_capped_bucket_pairs``).

    The bottom-k is one per-doc hash aggregation,
    ``slice(sort_array(collect_list(h)), 1, k)``, which skips a
    corpus-wide sort. Tradeoff: ``collect_list`` holds one doc's whole
    hash set in its aggregation buffer (a 1M-shingle doc is tens of MB)
    and does not spill, so bound doc length upstream for corpora without a
    quality gate. The shingle stream comes from ``_distinct_shingles``;
    the doc-sized sketch aggregate (k-array plus ``n_sh``) is checkpointed
    eagerly, since both join sides and the verify's set sizes read it."""
    shd = _distinct_shingles(corpus)
    bk_agg = (
        shd.select("doc_id", F.md5("shingle").alias("h"))
        .groupBy("doc_id")
        .agg(
            F.slice(F.sort_array(F.collect_list("h")), 1, BOTTOM_K_SKETCH).alias("hs"),
            F.count("*").alias("n_sh"),
        )
        .localCheckpoint(eager=True)
    )
    bk = bk_agg.select("doc_id", F.explode("hs").alias("h"))
    cands = _capped_bucket_pairs(bk, ["h"], bucket_cap)
    scored = _pair_shingle_intersections(
        shd, cands, sizes=bk_agg.select("doc_id", "n_sh")
    ).select(
        "doc_a",
        "doc_b",
        "n_inter",
        F.round(F.col("n_inter") / F.col("n_a"), 6).alias("containment_a_in_b"),
        F.round(F.col("n_inter") / F.col("n_b"), 6).alias("containment_b_in_a"),
    )
    return scored.filter(
        F.greatest("containment_a_in_b", "containment_b_in_a")
        >= CONTAINMENT_THRESHOLD
    )


def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_containment_over(dedup_corpus(spark, sf_dir))


def ngram_jaccard_all_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact n-gram Jaccard over ``dedup_corpus``: pairs sharing a
    fingerprint (min shingle md5) block, kept at ``jaccard >= 0.3``.

    One fingerprint per doc blocks far fewer pairs than LSH bands, so
    recall is lower, and the fingerprint self-join has no bucket cap: a
    fingerprint shared by n docs costs n^2 candidates. The shingle stream
    comes from ``_distinct_shingles``; the doc-sized fingerprint table
    (with the verify's set size ``n_sh``) is checkpointed eagerly, since
    both join sides and the verify read it."""
    corpus = dedup_corpus(spark, sf_dir)
    sh = _distinct_shingles(corpus)
    fp = (
        sh.groupBy("doc_id")
        .agg(F.min(F.md5("shingle")).alias("fp"), F.count("*").alias("n_sh"))
        .localCheckpoint(eager=True)
    )
    a = fp.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fp.select(F.col("doc_id").alias("doc_b"), "fp")
    cands = (
        a.join(b, "fp").filter(F.col("doc_a") < F.col("doc_b")).select("doc_a", "doc_b").distinct()
    )
    return _pair_shingle_jaccard(
        sh, cands, sizes=fp.select("doc_id", "n_sh")
    ).filter(F.col("jaccard") >= 0.3)


# 64-bit simhash: bit j of a token = bit (3 - j%4) of hex digit j//4 of
# md5(token). Digit sets shared verbatim with the DuckDB oracle.
SIMHASH64_BITS = 64
SIMHASH64_BANDS = 4  # 4 x 16-bit bands; Hamming <= 3 guarantees a band hit
SIMHASH64_MAX_HAMMING = 6
_HEX_BIT_DIGITS = [
    list("89abcdef"),  # bit value 8
    list("4567cdef"),  # bit value 4
    list("2367abef"),  # bit value 2
    list("13579bdf"),  # bit value 1
]


def simhash64_signatures(corpus: DataFrame) -> DataFrame:
    """64-bit majority-vote simhash over whitespace tokens (classic
    Charikar construction; the reference's digest prematch generalized to
    near-match). Relational: explode -> 64 signed sums -> bit string."""
    toks = corpus.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    hashed = toks.select("doc_id", F.md5("tok").alias("h"))
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.substring("h", j // 4 + 1, 1).isin(*_HEX_BIT_DIGITS[j % 4]), 1
                ).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(SIMHASH64_BITS)
        ]
    )
    bits = F.concat(
        *[
            F.when(F.col(f"v{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(SIMHASH64_BITS)
        ]
    )
    return votes.select("doc_id", bits.alias("simhash64"))


def hamming_expr_sql(a: str, b: str) -> str:
    """Per-position Hamming distance of two ``SIMHASH64_BITS``-char bit
    strings as portable SQL text (identical in Spark SQL and DuckDB;
    generated, never hand-kept)."""
    terms = " + ".join(
        f"(CASE WHEN substr({a}, {i + 1}, 1) <> substr({b}, {i + 1}, 1) "
        "THEN 1 ELSE 0 END)"
        for i in range(SIMHASH64_BITS)
    )
    return f"({terms})"


def simhash64_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at scale: 64-bit signatures banded into
    4 x 16-bit chunks; candidates share any band (pigeonhole: Hamming <= 3
    is guaranteed a hit, higher distances probabilistically); survivors
    verified with exact Hamming <= MAX. Grouping on identical short
    signatures instead would collide at 10^9+ docs and miss every near
    (non-identical) match."""
    sigs = simhash64_signatures(dedup_corpus(spark, sf_dir))
    band_width = SIMHASH64_BITS // SIMHASH64_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.substring("simhash64", b * band_width + 1, band_width).alias("band_key"),
            )
            for b in range(SIMHASH64_BANDS)
        ]
    )
    banded = (
        sigs.select("doc_id", "simhash64", F.explode(bands).alias("b"))
        .select("doc_id", "simhash64", "b.band_idx", "b.band_key")
        # doc-sized (4 rows/doc); both self-join sides consume it — without
        # materialization each side replays the 64-column majority-vote
        # aggregation over the full token explode (r6, ADVICE r05 class)
        .localCheckpoint(eager=True)
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash64").alias("sig_a"),
            F.col("b.simhash64").alias("sig_b"),
        )
        .distinct()
    )
    ham = F.expr(hamming_expr_sql("sig_a", "sig_b")).cast("int")
    return (
        cands.select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH64_MAX_HAMMING)
    )


def connected_min_labels(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over a pair graph by min-label propagation
    WITH pointer doubling: ``(doc_id, label)`` where label = min doc_id
    reachable in the component. Each round does (1) a one-hop neighbor-min
    and (2) a doubling step (label := label of my label), so reach doubles
    per round and convergence is O(log diameter) rounds, not O(diameter)
    — the standard Hash-to-Min style shortcut for Pregel-free connected
    components. Measured on a 30-hop
    chain: 5 doubled rounds vs 30+ one-hop (test_connected_min_labels_
    long_chain_converges). Bounded at ``max_iters`` and loud on
    non-convergence.

    At 10^12 scale each round is two shuffles keyed by doc_id/label over
    the PAIR graph (orders of magnitude smaller than the corpus); the
    label table is checkpointed per round so the plan never grows."""
    if max_iters < 1:
        # with zero iterations the for-else would raise referencing a
        # loop-local `changed` that never existed (ADVICE r03) — reject the
        # degenerate bound explicitly instead
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        neigh = (
            sym.join(labels, sym["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        # checkpointed: hop feeds both sides of the doubling self-join
        # (one materialization beats recomputing the neighbor join twice,
        # and it sidesteps ambiguous-self-join attribute resolution)
        hop = (
            labels.join(neigh, labels["doc_id"] == neigh["src"], "left")
            .select(
                labels["doc_id"],
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        # pointer doubling: adopt my label's own label (labels are ids of
        # in-component nodes, so chasing one link per round doubles the
        # effective reach; min() keeps the lattice monotone/safe)
        ptr = hop.select(
            F.col("doc_id").alias("p_id"), F.col("label").alias("p_label")
        )
        new_labels = (
            hop.join(ptr, hop["label"] == ptr["p_id"], "left")
            .select(
                hop["doc_id"],
                F.least(
                    F.col("label"), F.coalesce(F.col("p_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # A silent exit here would return WRONG (unconverged) labels while
        # the recursive-CTE oracle computes the full closure (ADVICE r02):
        # fail loudly, like every bounded fixpoint in this repo must.
        raise RuntimeError(
            f"connected_min_labels did not converge in {max_iters} iterations "
            f"({changed} labels still changing); raise max_iters for graphs "
            "with component diameter beyond this bound"
        )
    return labels


def dedup_keep_list_transitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup keep-list: keeper = connected-component min over
    verified LSH near-dup pairs, so A~B~C chains collapse to ONE keeper
    (a one-hop min would leave B as C's keeper while B itself is dropped
    as A's dup). Runs on the chain corpus, which has real multi-hop
    components by construction.

    Reference: clone/origin tracking follows chains across versions
    (python/src/cca/ccautil/fragment.py:29-103)."""
    corpus = chain_corpus(spark, sf_dir)
    pairs = lsh_verified_pairs(corpus)
    labels = connected_min_labels(pairs)
    return corpus.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("label"), F.col("doc_id")).alias("keeper_doc_id"),
        (F.col("label").isNotNull() & (F.col("label") != F.col("doc_id"))).alias(
            "is_duplicate"
        ),
    )


def canonical_by_quality_over(corpus: DataFrame) -> DataFrame:
    """Canonical-document selection within near-dup clusters: keep the
    HIGHEST-QUALITY member of each verified-LSH connected component, not
    the arbitrary min-id one. Real corpus pipelines dedupe toward the best
    copy (the mirror without the nav chrome, the paste without the
    truncation), so the keeper policy is a ranking, not an id accident —
    the same keeper-choice step the reference applies when collapsing
    clone chains to an origin (python/src/cca/ccautil/fragment.py:29-103).

    Ranking key, mirrored bit-for-bit in the DuckDB oracle:
    ``passes_quality DESC, stopword_ratio DESC, punct_ratio ASC,
    doc_id ASC``. Both ratios come 6dp-pre-rounded from
    ``quality_score_over`` so cross-engine float agreement is exact, and
    the doc_id tail makes the ranking a total order (no ties, engine-
    independent).

    Scale shape: the cluster labels ride the already-checkpointed CC
    output (pair-graph-sized, far smaller than the corpus); quality
    metrics are scan-local whole-stage codegen; the canonical pick is ONE
    hash-partitioned window per cluster_id (``first_value`` over the
    ranking order — no second join back, no global window). Cluster sizes
    are near-dup family sizes, bounded in practice by the LSH bucket cap's
    hub-star shape, so no window partition goes quadratic."""
    from pyspark.sql import Window

    from cca_spark.operators.textstats import quality_score_over

    pairs = lsh_verified_pairs(corpus)
    labels = connected_min_labels(pairs)
    q = quality_score_over(corpus)
    ranked = q.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"),
        "passes_quality",
        "stopword_ratio",
        "punct_ratio",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("passes_quality").desc(),
        F.col("stopword_ratio").desc(),
        F.col("punct_ratio").asc(),
        F.col("doc_id").asc(),
    )
    # default frame (unboundedPreceding..currentRow) starts at the
    # partition's rank-1 row, so first() IS the canonical pick for every
    # member — one window, no rn=1 self-join
    return ranked.select(
        "doc_id",
        "cluster_id",
        F.first("doc_id").over(w).alias("canonical_doc_id"),
    ).select(
        "doc_id",
        "cluster_id",
        "canonical_doc_id",
        (F.col("doc_id") != F.col("canonical_doc_id")).alias("is_duplicate"),
    )


def dedup_canonical_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: canonical-by-quality keeper over the chain corpus
    (same multi-hop components as ``dedup_keep_list_transitive``, but the
    keeper is the best-quality member instead of the min doc_id)."""
    return canonical_by_quality_over(chain_corpus(spark, sf_dir))
