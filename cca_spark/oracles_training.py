"""DuckDB oracles for the training-data operators (textstats, dedup,
similarity, multimodal). Tables referenced via the driver's pre-registered
views (documents, embeddings)."""

from __future__ import annotations

from cca_spark.operators.dedup import (
    LSH_BUCKET_CAP,
    LSH_JACCARD_THRESHOLD,
    N_BANDS,
    N_MINHASHES,
    SHINGLE_K,
    SKETCH_BUCKET_CAP,
    TWIN_SUFFIX,
    TWIN_SUFFIX2,
)
from cca_spark.operators.similarity import (
    ANN_K,
    ANN_N_QUERIES,
    EMBEDDING_DUP_THRESHOLD,
    IVF_CENTROID_STRIDE,
    IVF_LLOYD_ITERS,
    IVF_NPROBE,
    LSH_TABLE_DIMS,
    N_IVF_CENTROIDS,
)
from cca_spark.operators.textstats import (
    EN_STOPWORDS,
    LENGTH_BUCKET_WIDTH,
    TFIDF_TOP_K,
    TOKEN_RE,
)

STOPWORD_RE = r"\b(" + "|".join(EN_STOPWORDS) + r")\b"

# THE pass/fail quality gate as one SQL fragment — the DuckDB twin of
# textstats.passes_quality_col, shared by quality_score_sql,
# per_source_cap_sql and dedup_canonical_by_quality_sql so the gate cannot
# fork between oracles. It reads an unqualified ``text``.
PASSES_QUALITY_SQL = (
    "(length(text) >= 100"
    "\n   AND len(regexp_extract_all(text, '[^\\w\\s]')) / cast(length(text) AS double) < 0.1"
    f"\n   AND len(regexp_extract_all(text, '{STOPWORD_RE}'))"
    "\n       / cast(len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS double) > 0.05)"
)

CORPUS_CTE = f"""corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || '{TWIN_SUFFIX}' AS text
  FROM documents WHERE doc_id % 3 = 0
)"""

# corpus ∪ second-generation twins (A ~ B ~ C chains) — dedup.chain_corpus
CHAIN_CORPUS_CTE = f"""corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || '{TWIN_SUFFIX}' AS text
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text || '{TWIN_SUFFIX}{TWIN_SUFFIX2}' AS text
  FROM documents WHERE doc_id % 6 = 0
)"""

# k-token shingles: 1-based inclusive list slicing toks[i : i+k-1]
SHINGLES_CTE = f"""shingles AS (
  SELECT doc_id, unnest(list_transform(
    generate_series(1, greatest(len(toks) - {SHINGLE_K - 1}, 1)),
    i -> array_to_string(toks[i : i + {SHINGLE_K - 1}], ' '))) AS shingle
  FROM (SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS toks FROM corpus)
)"""

SHINGLES_NONEMPTY = "shn AS (SELECT doc_id, shingle FROM shingles WHERE shingle <> '')"


def lang_id_sql() -> str:
    return f"""
SELECT doc_id, lang,
  cast(len(regexp_extract_all(text, '{STOPWORD_RE}')) AS int) AS n_stopwords,
  cast(len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS int) AS n_tokens,
  round(len(regexp_extract_all(text, '{STOPWORD_RE}'))
        / cast(len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS double), 6) AS stopword_density,
  CASE WHEN len(regexp_extract_all(text, '{STOPWORD_RE}'))
            / cast(len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS double) >= 0.08
       THEN 'en' ELSE 'other' END AS lang_guess
FROM documents
"""


def quality_score_sql() -> str:
    return f"""
SELECT doc_id,
  cast(length(text) AS int) AS n_chars,
  cast(len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS int) AS n_words,
  round(len(regexp_extract_all(text, '[^\\w\\s]')) / cast(length(text) AS double), 6) AS punct_ratio,
  round(len(regexp_extract_all(text, '{STOPWORD_RE}'))
        / cast(len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS double), 6) AS stopword_ratio,
  round(length(text) / cast(len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS double), 6) AS mean_word_len,
  {PASSES_QUALITY_SQL} AS passes_quality
FROM documents
"""


def token_count_sql() -> str:
    return f"""
SELECT doc_id,
  cast(len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS int) AS ws_tokens,
  cast(len(regexp_extract_all(text, '{TOKEN_RE}')) AS int) AS bpe_ish_tokens
FROM documents
"""


def doc_fingerprint_sql() -> str:
    # fingerprint over plain documents (not the twin corpus)
    return f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
{SHINGLES_CTE},
{SHINGLES_NONEMPTY}
SELECT doc_id, min(md5(shingle)) AS fingerprint,
  count(DISTINCT shingle) AS n_shingles
FROM shn GROUP BY doc_id
"""


def exact_dedup_sql() -> str:
    return f"""
WITH {CORPUS_CTE}
SELECT md5(text) AS text_md5, min(doc_id) AS keeper_doc_id, count(*) AS n_copies
FROM corpus GROUP BY 1
"""


def _sig_cte() -> str:
    hashes = ",\n    ".join(
        f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(N_MINHASHES)
    )
    rows_per_band = N_MINHASHES // N_BANDS
    bands = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band_idx, md5({expr}) AS band_key FROM sig".format(
            b=b,
            expr=" || '|' || ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band)),
        )
        for b in range(N_BANDS)
    )
    return f"""sig AS (
  SELECT doc_id, {hashes}
  FROM shn GROUP BY doc_id
),
banded AS (
{bands}
)"""


JACCARD_TAIL = """
shd AS (SELECT DISTINCT doc_id, shingle FROM shn),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cands c
  JOIN shd sa ON sa.doc_id = c.doc_a
  JOIN shd sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
  round(i.n_inter / cast(na.n_sh + nb.n_sh - i.n_inter AS double), 6) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
"""


def minhash_lsh_pairs_sql(
    corpus_cte: str = CORPUS_CTE, bucket_cap: int = LSH_BUCKET_CAP
) -> str:
    # bucket_stats + the (bucket_n <= cap OR a = hub) predicate mirror the
    # Spark-side dense-bucket bound (dedup.lsh_verified_pairs): oversized
    # buckets contribute hub-star candidates only. hub = bucket min, so
    # hub rows always qualify on the `a` side of a.doc_id < b.doc_id.
    return f"""
WITH {corpus_cte},
{SHINGLES_CTE},
{SHINGLES_NONEMPTY},
{_sig_cte()},
bucket_stats AS (
  SELECT band_idx, band_key, count(*) AS bucket_n, min(doc_id) AS bucket_hub
  FROM banded GROUP BY band_idx, band_key
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a
  JOIN bucket_stats s
    ON s.band_idx = a.band_idx AND s.band_key = a.band_key
  JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  WHERE s.bucket_n <= {bucket_cap} OR a.doc_id = s.bucket_hub
),
{JACCARD_TAIL.strip().rstrip()}
WHERE round(i.n_inter / cast(na.n_sh + nb.n_sh - i.n_inter AS double), 6) >= {LSH_JACCARD_THRESHOLD}
"""


def ngram_jaccard_sql() -> str:
    return f"""
WITH {CORPUS_CTE},
{SHINGLES_CTE},
{SHINGLES_NONEMPTY},
fp AS (SELECT doc_id, min(md5(shingle)) AS fp FROM shn GROUP BY doc_id),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
),
{JACCARD_TAIL.strip()}
WHERE round(i.n_inter / cast(na.n_sh + nb.n_sh - i.n_inter AS double), 6) >= 0.3
"""


_DOT = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> cast({a}[i] AS double) * cast({b}[i] AS double)))"
)
_NORM = "sqrt(list_sum(list_transform({a}, x -> cast(x AS double) * cast(x AS double))))"


def _cosine(a: str, b: str) -> str:
    dot = _DOT.format(a=a, b=b)
    na = _NORM.format(a=a)
    nb = _NORM.format(a=b)
    return f"round({dot} / ({na} * {nb}), 6)"


# the ANN_K best rows per query of a scored(q_id, c_id, cosine) CTE
_ANN_TOP_K_SELECT = f"""
SELECT q_id, c_id, cosine, cast(rank AS int) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= {ANN_K}
"""


def brute_force_topk_sql() -> str:
    return f"""
WITH scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
    {_cosine('q.embedding', 'c.embedding')} AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {ANN_N_QUERIES}
)""" + _ANN_TOP_K_SELECT


def _table_bucket_sql(col: str, dims: list[int]) -> str:
    return " || ".join(
        f"(CASE WHEN cast({col}[{d + 1}] AS double) > 0 THEN '1' ELSE '0' END)"
        for d in dims
    )


def _banded_cte(name: str) -> str:
    """(vec_id, t, bucket) long form of the embeddings, one SELECT per LSH table."""
    parts = [
        f"SELECT vec_id, {t} AS t, {_table_bucket_sql('embedding', dims)} AS bucket "
        "FROM embeddings"
        for t, dims in enumerate(LSH_TABLE_DIMS)
    ]
    body = "\n  UNION ALL\n  ".join(parts)
    return f"{name} AS (\n  {body}\n)"


def lsh_bucketed_ann_sql() -> str:
    return f"""
WITH {_banded_cte('cb')},
qb AS (SELECT * FROM cb WHERE vec_id < {ANN_N_QUERIES}),
cands AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
  FROM qb q JOIN cb c ON q.t = c.t AND q.bucket = c.bucket AND q.vec_id <> c.vec_id
),
scored AS (
  SELECT cd.q_id, cd.c_id, {_cosine('qe.embedding', 'ce.embedding')} AS cosine
  FROM cands cd
  JOIN embeddings qe ON qe.vec_id = cd.q_id
  JOIN embeddings ce ON ce.vec_id = cd.c_id
)""" + _ANN_TOP_K_SELECT


def embedding_near_dup_sql() -> str:
    return f"""
WITH {_banded_cte('banded')},
cands AS (
  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM banded a JOIN banded b
    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT cd.doc_a, cd.doc_b,
  {_cosine('ea.embedding', 'eb.embedding')} AS cosine
FROM cands cd
JOIN embeddings ea ON ea.vec_id = cd.doc_a
JOIN embeddings eb ON eb.vec_id = cd.doc_b
WHERE {_cosine('ea.embedding', 'eb.embedding')} >= {EMBEDDING_DUP_THRESHOLD}
"""


def tfidf_top_terms_sql() -> str:
    """Mirror of textstats.tfidf_top_terms: same tokenization, same 6dp
    round BEFORE ranking, same (score desc, token asc) tie-break, same
    ``TFIDF_TOP_K``."""
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks WHERE token <> ''
  GROUP BY doc_id, token
),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
nd AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
    round(tf.tf * ln(cast(n_docs AS double) / cast(df AS double)), 6) AS tfidf
  FROM tf JOIN dfreq USING (token) CROSS JOIN nd
)
SELECT doc_id, token, tf, tfidf, cast(rank AS int) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rank
  FROM scored
) WHERE rank <= {TFIDF_TOP_K}
"""


def bm25_retrieval_sql() -> str:
    from cca_spark.operators.textstats import BM25_B, BM25_K1, BM25_QUERY_TERMS, BM25_TOP_K

    terms = ", ".join(f"('{t}')" for t in BM25_QUERY_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
toks_ne AS (SELECT doc_id, token FROM toks WHERE token <> ''),
qt(token) AS (VALUES {terms}),
dl AS (SELECT doc_id, count(*) AS dl FROM toks_ne GROUP BY doc_id),
stats AS (SELECT avg(cast(dl AS double)) AS avgdl, count(*) AS n_docs FROM dl),
tf AS (
  SELECT t.doc_id, t.token, count(*) AS tf FROM toks_ne t JOIN qt USING (token)
  GROUP BY t.doc_id, t.token
),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
idf AS (
  SELECT token, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf, avgdl
  FROM dfreq CROSS JOIN stats
),
per_term AS (
  SELECT tf.doc_id,
    round(idf.idf * (tf.tf * ({BM25_K1} + 1))
      / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * cast(dl.dl AS double) / idf.avgdl)),
      6) AS term_score
  FROM tf JOIN idf USING (token) JOIN dl USING (doc_id)
),
scored AS (
  SELECT doc_id, round(sum(term_score), 6) AS bm25, count(*) AS n_matched_terms
  FROM per_term GROUP BY doc_id
)
SELECT doc_id, bm25, n_matched_terms, cast(rank AS int) AS rank FROM (
  SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank FROM scored
) WHERE rank <= {BM25_TOP_K}
"""


def multimodal_real_decode_sql() -> str:
    """Expected features of the synthetic PNG/WAV corpus, stated
    ARITHMETICALLY from the encoder parameterization (multimodal.py
    ``_encode_png``/``_encode_wav``): Spark must recover these by actually
    parsing the container bytes (chunk walks + CRC32 verification)."""
    return """
SELECT doc_id,
  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS fmt,
  CASE WHEN doc_id % 2 = 0 THEN cast(doc_id % 640 + 1 AS int) END AS width,
  CASE WHEN doc_id % 2 = 0 THEN cast((doc_id * 7) % 480 + 1 AS int) END AS height,
  CASE WHEN doc_id % 2 = 0 THEN cast(8 AS int)
       ELSE cast(((doc_id // 2) % 3 + 1) * 8 AS int) END AS bit_depth,
  CASE WHEN doc_id % 2 = 0
       THEN cast(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS int)
       ELSE cast(doc_id % 3 + 1 AS int) END AS n_channels,
  CASE WHEN doc_id % 2 = 1 THEN cast(8000 * (doc_id % 6 + 1) AS int) END AS sample_rate
FROM documents
"""


def multimodal_payload_decode_sql() -> str:
    """Expected payload statistics stated ARITHMETICALLY from the sample
    formulas (multimodal.py ``_encode_png_payload``/``_encode_wav_payload``):
    PNG raw[y][i] = (doc_id + y + i) % 256 over h × (w*channels) bytes,
    WAV v(i) = ((doc_id*131 + i*17) % 4096) - 2048 over n samples. Spark
    must earn these by zlib-inflating and unfiltering real IDAT bytes /
    reading real PCM frames."""
    return """
WITH png AS (
  SELECT doc_id,
    (doc_id % 24 + 1)
      * (CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END) AS stride,
    (doc_id * 7) % 16 + 1 AS h
  FROM documents WHERE doc_id % 2 = 0
),
png_samples AS (
  SELECT doc_id, (doc_id + (j // stride) + (j % stride)) % 256 AS v
  FROM (
    SELECT doc_id, stride, unnest(generate_series(0, h * stride - 1)) AS j
    FROM png
  )
),
png_stats AS (
  SELECT doc_id, count(*) AS n, cast(sum(v) AS bigint) AS s,
    cast(sum(v * v) AS bigint) AS sq
  FROM png_samples GROUP BY doc_id
),
wav AS (
  SELECT doc_id, doc_id % 200 + 40 AS n FROM documents WHERE doc_id % 2 = 1
),
wav_samples AS (
  SELECT doc_id, ((doc_id * 131 + i * 17) % 4096) - 2048 AS v
  FROM (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM wav)
),
wav_stats AS (
  SELECT doc_id, count(*) AS n, cast(sum(v) AS bigint) AS s,
    cast(sum(v * v) AS bigint) AS sq
  FROM wav_samples GROUP BY doc_id
)
SELECT doc_id, 'png' AS fmt, n AS n_samples, s AS sample_sum,
  sq AS sample_sumsq,
  round(s / cast(n AS double), 6) AS mean_sample,
  round(sqrt(sq / cast(n AS double)), 6) AS rms
FROM png_stats
UNION ALL
SELECT doc_id, 'wav', n, s, sq,
  round(s / cast(n AS double), 6),
  round(sqrt(sq / cast(n AS double)), 6)
FROM wav_stats
"""


def frame_sample_sql() -> str:
    from cca_spark.operators.multimodal import FRAME_STRIDE

    return f"""
SELECT doc_id, cast(frame_idx AS int) AS frame_idx,
  md5(substring(text, frame_idx * {FRAME_STRIDE} + 1, {FRAME_STRIDE})) AS frame_md5
FROM (
  SELECT doc_id, text,
    unnest(generate_series(0, cast(floor((length(text) - 1) / {FRAME_STRIDE}) AS int))) AS frame_idx
  FROM documents
)
"""


# the stride-seeded centroid table (similarity._ivf_centroids)
_STRIDE_CENTS = f"""
  SELECT vec_id AS centroid_id, embedding AS cent_emb FROM embeddings
  WHERE vec_id % {IVF_CENTROID_STRIDE} = 0 AND vec_id < {N_IVF_CENTROIDS * IVF_CENTROID_STRIDE})"""


def _ivf_probe_sql(cents: str, nprobe: int) -> str:
    """Cell assignment against centroid table ``cents``, ``nprobe``-cell
    query probes and the cell-local top-``ANN_K`` rerank."""
    return f"""ranks AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
    row_number() OVER (
      PARTITION BY e.vec_id
      ORDER BY {_cosine('e.embedding', 'c.cent_emb')} DESC, c.centroid_id ASC
    ) AS r
  FROM embeddings e CROSS JOIN {cents} c),
assigned AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM ranks WHERE r = 1),
qprobe AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM ranks
  WHERE r <= {nprobe} AND vec_id < {ANN_N_QUERIES}),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
    {_cosine('q.embedding', 'c.embedding')} AS cosine
  FROM qprobe q JOIN assigned c ON q.cell = c.cell AND q.vec_id <> c.vec_id
)""" + _ANN_TOP_K_SELECT


def ivf_ann_sql(nprobe: int) -> str:
    return f"""
WITH cents AS ({_STRIDE_CENTS},
{_ivf_probe_sql('cents', nprobe)}"""


def ivf_ann_trained_sql() -> str:
    """Unrolled-Lloyd oracle for similarity.ivf_ann_trained: ``IVF_LLOYD_ITERS``
    assign/mean rounds from the stride seed, each mean rounded to 6dp
    fixed point (mirroring the Spark loop bit-for-bit), then the standard
    ``IVF_NPROBE`` probe + cell-local exact rerank."""
    ctes = [f"cents0 AS ({_STRIDE_CENTS}"]
    for i in range(IVF_LLOYD_ITERS):
        ctes.append(
            f"""assigned{i} AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
      row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY {_cosine('e.embedding', 'c.cent_emb')} DESC, c.centroid_id ASC
      ) AS r
    FROM embeddings e CROSS JOIN cents{i} c
  ) WHERE r = 1),
pos{i} AS (
  SELECT cell,
    unnest(generate_series(0, len(embedding) - 1)) AS pos,
    unnest(list_transform(embedding, x -> cast(x AS double))) AS val
  FROM assigned{i}),
means{i} AS (
  SELECT cell, pos, round(avg(val), 6) AS m FROM pos{i} GROUP BY cell, pos),
cents{i + 1} AS (
  SELECT cell AS centroid_id, list(m ORDER BY pos) AS cent_emb
  FROM means{i} GROUP BY cell)"""
        )
    ctes.append(_ivf_probe_sql(f"cents{IVF_LLOYD_ITERS}", IVF_NPROBE))
    return "\nWITH " + ",\n".join(ctes)


def simhash64_near_dup_pairs_sql() -> str:
    from cca_spark.operators.dedup import (
        _HEX_BIT_DIGITS,
        SIMHASH64_BANDS,
        SIMHASH64_BITS,
        SIMHASH64_MAX_HAMMING,
        hamming_expr_sql,
    )

    votes = ",\n    ".join(
        (
            f"sum(CASE WHEN substr(h, {j // 4 + 1}, 1) IN "
            f"({', '.join(repr(c) for c in _HEX_BIT_DIGITS[j % 4])}) "
            f"THEN 1 ELSE -1 END) AS v{j}"
        )
        for j in range(SIMHASH64_BITS)
    )
    bits = " || ".join(
        f"(CASE WHEN v{j} > 0 THEN '1' ELSE '0' END)" for j in range(SIMHASH64_BITS)
    )
    bw = SIMHASH64_BITS // SIMHASH64_BANDS
    bands = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, simhash64, {b} AS band_idx, "
        f"substr(simhash64, {b * bw + 1}, {bw}) AS band_key FROM sigs"
        for b in range(SIMHASH64_BANDS)
    )
    ham = hamming_expr_sql("sig_a", "sig_b")
    return f"""
WITH {CORPUS_CTE},
toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS tok FROM corpus
),
hashed AS (SELECT doc_id, md5(tok) AS h FROM toks WHERE tok <> ''),
votes AS (
  SELECT doc_id, {votes}
  FROM hashed GROUP BY doc_id
),
sigs AS (SELECT doc_id, {bits} AS simhash64 FROM votes),
banded AS (
  {bands}
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    a.simhash64 AS sig_a, b.simhash64 AS sig_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, cast({ham} AS int) AS hamming
FROM cands WHERE {ham} <= {SIMHASH64_MAX_HAMMING}
"""


def dedup_keep_list_transitive_sql() -> str:
    """Connected-component keeper via recursive reachability closure over
    the symmetric near-dup pair graph — the exact-SQL oracle for Spark's
    min-label-propagation fixpoint."""
    pairs = minhash_lsh_pairs_sql(CHAIN_CORPUS_CTE).strip()
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
sym AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(doc_id, r) AS (
  SELECT s, s FROM sym
  UNION
  SELECT re.doc_id, sym.d FROM reach re JOIN sym ON sym.s = re.r
),
labels AS (SELECT doc_id, min(r) AS label FROM reach GROUP BY doc_id),
{CHAIN_CORPUS_CTE}
SELECT c.doc_id,
  coalesce(l.label, c.doc_id) AS keeper_doc_id,
  (l.label IS NOT NULL AND l.label <> c.doc_id) AS is_duplicate
FROM corpus c LEFT JOIN labels l ON c.doc_id = l.doc_id
"""


def pii_scrub_sql() -> str:
    """Oracle for redact.pii_scrub: identical derived PII corpus, identical
    replacement order (email → ipv4 → hexkey → longnum; DuckDB needs the
    'g' option for replace-all to match Spark's regexp_replace), counts on
    the original text."""
    from cca_spark.operators.redact import PII_RULES

    scrub_expr = "text"
    for _, pattern, placeholder in PII_RULES:
        scrub_expr = f"regexp_replace({scrub_expr}, '{pattern}', '{placeholder}', 'g')"
    count_cols = ",\n  ".join(
        f"cast(len(regexp_extract_all(text, '{pattern}')) AS int) AS n_{name}"
        for name, pattern, _ in PII_RULES
    )
    return f"""
WITH pii AS (
  SELECT doc_id,
    text
    || (CASE WHEN doc_id % 4 = 0
        THEN ' contact user' || cast(doc_id AS varchar) || '@example.com' ELSE '' END)
    || (CASE WHEN doc_id % 5 = 0
        THEN ' host 10.0.' || cast(doc_id % 256 AS varchar) || '.7' ELSE '' END)
    || (CASE WHEN doc_id % 6 = 0
        THEN ' acct 900000000' || cast(doc_id AS varchar) ELSE '' END)
    || (CASE WHEN doc_id % 7 = 0
        THEN ' key ' || md5(cast(doc_id AS varchar)) ELSE '' END)
    AS text
  FROM documents
)
SELECT doc_id,
  {count_cols},
  {scrub_expr} AS scrubbed,
  ({scrub_expr} <> text) AS was_redacted
FROM pii
"""


def ngram_decontaminate_sql() -> str:
    """Oracle for decontam.ngram_decontaminate: identical derived eval
    set, identical 8-gram window, THE retrieval tokenization
    (single-space split, empties dropped). DuckDB list slicing t[i:i+7]
    is 1-based inclusive == Spark slice(toks, i, 8); range(1, len-6) is
    empty for docs shorter than 8 tokens, matching the Spark guard."""
    from cca_spark.operators.decontam import EVAL_MOD, EVAL_RESIDUE, NGRAM_N

    lo, hi = NGRAM_N - 2, NGRAM_N - 1  # range-stop offset / slice-end offset
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), tk -> tk <> '') AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[cast(i AS int):cast(i AS int)+{hi}], ' ') AS g
  FROM (
    SELECT doc_id, t, unnest(range(1, greatest(len(t) - {lo}, 1))) AS i FROM toks
  )
),
eval_grams AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % {EVAL_MOD} = {EVAL_RESIDUE}
),
hits AS (
  SELECT gr.doc_id, count(*) AS n_shared_ngrams
  FROM grams gr JOIN eval_grams e USING (g)
  GROUP BY gr.doc_id
)
SELECT d.doc_id,
  cast(coalesce(h.n_shared_ngrams, 0) AS bigint) AS n_shared_ngrams,
  (coalesce(h.n_shared_ngrams, 0) > 0) AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


def repetition_filter_sql() -> str:
    """Oracle for decontam.repetition_filter (bigram window == slice
    width 2, so the bigram list is t[i:i+1] over range(1, len(t)));
    retrieval tokenization, same as the decontaminate oracle."""
    from cca_spark.operators.decontam import MAX_DUP_BIGRAM_RATIO, MAX_DUP_TOKEN_RATIO

    return f"""
WITH toks AS (
  SELECT doc_id, text, list_filter(string_split(text, ' '), tk -> tk <> '') AS t
  FROM documents
),
bigs AS (
  SELECT doc_id,
    count(*) AS n_big,
    count(DISTINCT array_to_string(t[cast(i AS int):cast(i AS int)+1], ' ')) AS n_big_distinct
  FROM (
    SELECT doc_id, t, unnest(range(1, greatest(len(t), 1))) AS i FROM toks
  )
  GROUP BY doc_id
),
base AS (
  SELECT k.doc_id,
    cast(len(t) AS int) AS n_tokens,
    CASE WHEN len(t) > 0
      THEN round((len(t) - len(list_distinct(t))) / cast(len(t) AS double), 6)
      ELSE 0.0 END AS dup_token_ratio,
    CASE WHEN coalesce(b.n_big, 0) > 0
      THEN round((b.n_big - b.n_big_distinct) / cast(b.n_big AS double), 6)
      ELSE 0.0 END AS dup_bigram_ratio
  FROM toks k LEFT JOIN bigs b ON k.doc_id = b.doc_id
)
SELECT doc_id, n_tokens, dup_token_ratio, dup_bigram_ratio,
  (dup_token_ratio <= {MAX_DUP_TOKEN_RATIO}
   AND dup_bigram_ratio <= {MAX_DUP_BIGRAM_RATIO}) AS passes_repetition
FROM base
"""


def lm_unigram_logprob_sql() -> str:
    """Oracle for corpus_prep.lm_unigram_logprob: identical tokenization
    (single-space split, empties dropped), per-token logp rounded to 6dp
    then summed as DECIMAL (exact, order-independent), mean/ppl re-derived
    the same way."""
    return """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tok AS (SELECT doc_id, token FROM toks WHERE token <> ''),
freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
tot AS (SELECT sum(cnt) AS total FROM freq),
logp AS (
  SELECT token,
    cast(round(ln(cnt / cast(total AS double)), 6) AS decimal(20,6)) AS logp
  FROM freq CROSS JOIN tot
),
per_doc AS (
  SELECT t.doc_id,
    cast(count(*) AS bigint) AS n_tokens,
    sum(l.logp) AS sum_logp
  FROM tok t JOIN logp l USING (token)
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens,
  round(cast(sum_logp AS double) / n_tokens, 6) AS mean_logp,
  round(exp(-round(cast(sum_logp AS double) / n_tokens, 6)), 6) AS unigram_ppl
FROM per_doc
"""


def pack_token_budget_sql() -> str:
    """Oracle for corpus_prep.pack_token_budget: shard-local cumulative
    token counts, integer-exact bin arithmetic (// and %)."""
    from cca_spark.operators.corpus_prep import PACK_BUDGET, PACK_SHARDS

    return f"""
WITH sized AS (
  SELECT doc_id,
    cast(((doc_id % {PACK_SHARDS}) + {PACK_SHARDS}) % {PACK_SHARDS} AS int) AS shard,
    cast(len(list_filter(string_split(text, ' '), t -> t <> '')) AS bigint)
      AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, shard, n_tokens,
    cast(sum(n_tokens) OVER (
      PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS bigint) - n_tokens AS cum_before
  FROM sized
)
SELECT doc_id, shard, n_tokens,
  cast(cum_before // {PACK_BUDGET} AS int) AS bin_id,
  cast(cum_before % {PACK_BUDGET} AS bigint) AS offset_in_bin,
  (n_tokens > {PACK_BUDGET}) AS oversize
FROM cum
"""


def length_histogram_sql() -> str:
    return f"""
WITH toks AS (
  SELECT len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS n_tokens FROM documents),
b AS (SELECT cast(floor(n_tokens / {LENGTH_BUCKET_WIDTH}.0) AS int) AS bucket FROM toks)
SELECT bucket,
  cast(bucket * {LENGTH_BUCKET_WIDTH} AS bigint) AS bucket_lo,
  cast((bucket + 1) * {LENGTH_BUCKET_WIDTH} - 1 AS bigint) AS bucket_hi,
  count(*) AS n_docs
FROM b GROUP BY bucket
"""

def ngram_containment_sql(
    corpus_cte: str = CORPUS_CTE, bucket_cap: int = SKETCH_BUCKET_CAP
) -> str:
    """Oracle for dedup.ngram_containment_pairs: identical twin corpus,
    identical bottom-k sketch blocking (row_number over md5(shingle) per
    doc — md5 hex strings are a shared total order, so both engines pick
    the same k sketch hashes), identical hub-star bucket cap, exact
    intersection verify."""
    from cca_spark.operators.dedup import BOTTOM_K_SKETCH, CONTAINMENT_THRESHOLD

    return f"""
WITH {corpus_cte},
{SHINGLES_CTE},
{SHINGLES_NONEMPTY},
shd AS (SELECT DISTINCT doc_id, shingle FROM shn),
bk AS (
  SELECT doc_id, h FROM (
    SELECT doc_id, md5(shingle) AS h,
      row_number() OVER (PARTITION BY doc_id ORDER BY md5(shingle)) AS rk
    FROM shd)
  WHERE rk <= {BOTTOM_K_SKETCH}
),
stats AS (
  SELECT h, count(*) AS bucket_n, min(doc_id) AS bucket_hub FROM bk GROUP BY h
),
lhs AS (
  SELECT bk.doc_id, bk.h FROM bk JOIN stats USING (h)
  WHERE stats.bucket_n <= {bucket_cap} OR bk.doc_id = stats.bucket_hub
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM lhs a JOIN bk b ON a.h = b.h AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cands c
  JOIN shd sa ON sa.doc_id = c.doc_a
  JOIN shd sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b, i.n_inter,
  round(i.n_inter / cast(na.n_sh AS double), 6) AS containment_a_in_b,
  round(i.n_inter / cast(nb.n_sh AS double), 6) AS containment_b_in_a
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
WHERE greatest(round(i.n_inter / cast(na.n_sh AS double), 6),
               round(i.n_inter / cast(nb.n_sh AS double), 6))
      >= {CONTAINMENT_THRESHOLD}
"""


def mixture_weighted_sample_sql() -> str:
    """Oracle for corpus_prep.mixture_weighted_sample: the same CASE
    weight table (generated from the same dict), the same md5-prefix keep
    rule — lowercase-hex string comparison is plain ASCII ordering in
    both engines, so the sampled row SET matches bit-for-bit."""
    from cca_spark.operators.corpus_prep import (
        MIXTURE_DEFAULT_WEIGHT,
        MIXTURE_WEIGHTS,
        mixture_threshold_hex,
    )

    thr_cases = " ".join(
        f"WHEN source = '{s}' THEN '{mixture_threshold_hex(w)}'"
        for s, w in sorted(MIXTURE_WEIGHTS.items())
    )
    w_cases = " ".join(
        f"WHEN source = '{s}' THEN {float(w)}"
        for s, w in sorted(MIXTURE_WEIGHTS.items())
    )
    return f"""
WITH keyed AS (
  SELECT doc_id, source,
    cast(CASE {w_cases} ELSE {float(MIXTURE_DEFAULT_WEIGHT)} END AS double) AS weight,
    substr(md5(cast(doc_id AS varchar) || ':' || source), 1, 8) AS sample_key,
    CASE {thr_cases}
      ELSE '{mixture_threshold_hex(MIXTURE_DEFAULT_WEIGHT)}' END AS thr
  FROM documents
)
SELECT doc_id, source, weight, sample_key FROM keyed WHERE sample_key < thr
"""


def dedup_canonical_by_quality_sql() -> str:
    """Oracle for dedup.dedup_canonical_by_quality: the keep-list's
    recursive reachability closure for cluster labels, plus the
    quality_score ranking (6dp-rounded ratios, doc_id tail) picking each
    cluster's canonical member via row_number=1 — mechanically different
    from Spark's first_value window but value-identical because the
    ranking is a total order."""
    pairs = minhash_lsh_pairs_sql(CHAIN_CORPUS_CTE).strip()
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
sym AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(doc_id, r) AS (
  SELECT s, s FROM sym
  UNION
  SELECT re.doc_id, sym.d FROM reach re JOIN sym ON sym.s = re.r
),
labels AS (SELECT doc_id, min(r) AS label FROM reach GROUP BY doc_id),
{CHAIN_CORPUS_CTE},
q AS (
  SELECT c.doc_id,
    coalesce(l.label, c.doc_id) AS cluster_id,
    round(len(regexp_extract_all(c.text, '[^\\w\\s]'))
          / cast(length(c.text) AS double), 6) AS punct_ratio,
    round(len(regexp_extract_all(c.text, '{STOPWORD_RE}'))
          / cast(len(string_split_regex(trim(c.text), '[ \\t\\n\\x0b\\f\\r]+')) AS double), 6)
      AS stopword_ratio,
    {PASSES_QUALITY_SQL} AS passes_quality
  FROM corpus c LEFT JOIN labels l ON c.doc_id = l.doc_id
),
canon AS (
  SELECT cluster_id, doc_id AS canonical_doc_id FROM (
    SELECT cluster_id, doc_id,
      row_number() OVER (PARTITION BY cluster_id
        ORDER BY passes_quality DESC, stopword_ratio DESC,
                 punct_ratio ASC, doc_id ASC) AS rn
    FROM q
  ) WHERE rn = 1
)
SELECT q.doc_id, q.cluster_id, can.canonical_doc_id,
  (q.doc_id <> can.canonical_doc_id) AS is_duplicate
FROM q JOIN canon can ON q.cluster_id = can.cluster_id
"""


def corpus_shard_shuffle_sql() -> str:
    """Oracle for corpus_prep.corpus_shard_shuffle: the same md5-prefix
    60-bit key (DuckDB parses '0x…' string casts; Spark uses conv — both
    yield the identical bigint), the same mod-shard and per-shard rank.
    The key is 60-bit hence non-negative, so plain % equals pmod."""
    from cca_spark.operators.corpus_prep import SHUFFLE_SEED, SHUFFLE_SHARDS

    return f"""
WITH keyed AS (
  SELECT doc_id,
    cast(concat('0x', substr(md5(cast(doc_id AS varchar) || ':{SHUFFLE_SEED}'), 1, 15))
         AS bigint) AS shuffle_key
  FROM documents
)
SELECT doc_id,
  cast(shuffle_key % {SHUFFLE_SHARDS} AS int) AS shard,
  shuffle_key,
  cast(row_number() OVER (
    PARTITION BY shuffle_key % {SHUFFLE_SHARDS} ORDER BY shuffle_key, doc_id
  ) - 1 AS bigint) AS pos
FROM keyed
"""


def per_source_cap_sql() -> str:
    """Oracle for corpus_prep.per_source_cap: the shared quality gate
    (PASSES_QUALITY_SQL — the SQL twin of textstats.passes_quality_col),
    ranked (passes DESC, n_chars DESC, doc_id) per source. Booleans sort
    false<true in both engines, so DESC means passing-first in both."""
    from cca_spark.operators.corpus_prep import PER_SOURCE_CAP

    return f"""
WITH ranked AS (
  SELECT doc_id, source,
    cast(n_chars AS bigint) AS n_chars,
    {PASSES_QUALITY_SQL} AS passes_quality,
    cast(row_number() OVER (
      PARTITION BY source
      ORDER BY {PASSES_QUALITY_SQL} DESC, n_chars DESC, doc_id
    ) AS int) AS src_rank
  FROM documents
)
SELECT doc_id, source, n_chars, passes_quality, src_rank
FROM ranked WHERE src_rank <= {PER_SOURCE_CAP}
"""


def vocab_coverage_sql() -> str:
    """Oracle for corpus_prep.vocab_coverage: same tokenization
    (space-split, empties dropped), same (cnt DESC, token) total order,
    same one-division-then-round coverage arithmetic over bigint cumsums."""
    from cca_spark.operators.corpus_prep import VOCAB_TOP

    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
tok AS (SELECT token FROM toks WHERE token <> ''),
freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
tot AS (SELECT sum(cnt) AS total FROM freq),
topv AS (SELECT token, cnt FROM freq ORDER BY cnt DESC, token LIMIT {VOCAB_TOP})
SELECT token, cast(cnt AS bigint) AS cnt,
  cast(row_number() OVER (ORDER BY cnt DESC, token) AS int) AS vocab_rank,
  round(cast(sum(cnt) OVER (
      ORDER BY cnt DESC, token
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS double) / cast(total AS double), 6) AS cum_coverage
FROM topv CROSS JOIN tot
"""


def hash_split_sql() -> str:
    """Oracle for corpus_prep.hash_split: thresholds are the SAME
    Python-computed hex strings the Spark op embeds (no float re-derive
    in either engine), compared by plain ASCII ordering."""
    from cca_spark.operators.corpus_prep import (
        SPLIT_FRACTIONS,
        SPLIT_SEED,
        mixture_threshold_hex,
    )

    cum = 0.0
    whens = []
    for name, frac in SPLIT_FRACTIONS[:-1]:
        cum += frac
        whens.append(f"WHEN split_key < '{mixture_threshold_hex(cum)}' THEN '{name}'")
    case = " ".join(whens) + f" ELSE '{SPLIT_FRACTIONS[-1][0]}'"
    return f"""
WITH keyed AS (
  SELECT doc_id,
    substr(md5(cast(doc_id AS varchar) || ':{SPLIT_SEED}'), 1, 8) AS split_key
  FROM documents
)
SELECT doc_id, CASE {case} END AS split, split_key FROM keyed
"""


def repeated_span_fraction_sql() -> str:
    """Oracle for dedup.repeated_span_fraction: identical shingling
    (SHINGLES_CTE), distinct per doc, df counts docs, one
    division-then-round."""
    return f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
{SHINGLES_CTE},
{SHINGLES_NONEMPTY},
shd AS (SELECT DISTINCT doc_id, shingle FROM shn),
dfreq AS (SELECT shingle, count(*) AS df FROM shd GROUP BY shingle)
SELECT s.doc_id,
  cast(count(*) AS bigint) AS n_shingles,
  cast(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS bigint) AS n_repeated,
  round(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) / cast(count(*) AS double), 6)
    AS repeated_frac
FROM shd s JOIN dfreq d USING (shingle)
GROUP BY s.doc_id
"""


def pack_assemble_sql() -> str:
    """Oracle for corpus_prep.pack_assemble: the packing CTE is the
    pack_token_budget oracle's arithmetic; assembly is string_agg in
    (offset_in_bin, doc_id) order — the same total order array_sort uses
    on the (offset, doc_id, text) structs Spark-side."""
    from cca_spark.operators.corpus_prep import PACK_BUDGET, PACK_SHARDS

    return f"""
WITH sized AS (
  SELECT doc_id, text,
    cast(((doc_id % {PACK_SHARDS}) + {PACK_SHARDS}) % {PACK_SHARDS} AS int) AS shard,
    cast(len(list_filter(string_split(text, ' '), t -> t <> '')) AS bigint)
      AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, text, shard, n_tokens,
    cast(sum(n_tokens) OVER (
      PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS bigint) - n_tokens AS cum_before
  FROM sized
),
assigned AS (
  SELECT doc_id, text, shard, n_tokens,
    cast(cum_before // {PACK_BUDGET} AS int) AS bin_id,
    cast(cum_before % {PACK_BUDGET} AS bigint) AS offset_in_bin
  FROM cum
)
SELECT shard, bin_id,
  cast(count(*) AS bigint) AS n_docs,
  cast(sum(n_tokens) AS bigint) AS bin_tokens,
  md5(string_agg(text, ' ' ORDER BY offset_in_bin, doc_id)) AS seq_md5
FROM assigned
GROUP BY shard, bin_id
"""


def jsonl_roundtrip_sql() -> str:
    """Oracle for sources.interchange.jsonl_roundtrip_digest: the SAME
    order-independent per-source digest computed over the ORIGINAL
    parquet — if the JSONL round-trip altered one byte of one text, the
    md5-prefix bit_xor digest diverges."""
    return """
SELECT source,
  cast(count(*) AS bigint) AS n_docs,
  cast(sum(n_chars) AS bigint) AS sum_chars,
  cast(bit_xor(cast(concat('0x',
       substr(md5(cast(doc_id AS varchar) || ':' || text), 1, 15))
     AS bigint)) AS bigint) AS content_digest
FROM documents
GROUP BY source
"""
