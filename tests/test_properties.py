"""Property-based tests (hypothesis) for the pure, dialect-shared
helpers the oracle parity rides on — no SparkSession, so hundreds of
examples run in seconds. These pin the ALGEBRAIC contracts the
example-based tests only spot-check:

- mixture thresholding: monotone keep-sets (reweight-superset), the
  keep-all sentinel, and the fraction→threshold arithmetic;
- hash_split thresholds: cumulative CASE arms partition the key space;
- hamming_expr_sql: the generated SQL equals Python's popcount when
  evaluated by DuckDB (the oracle engine itself checks the generator);
- multimodal codec: decode(encode(x)) round-trips for the PNG and WAV
  payload paths (real zlib inflate + unfilter, PCM reads).
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from cca_spark.operators.corpus_prep import mixture_threshold_hex

HEX8 = st.text(alphabet="0123456789abcdef", min_size=8, max_size=8)


@given(
    w1=st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
    w2=st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
    key=HEX8,
)
@settings(max_examples=300, deadline=None)
def test_mixture_threshold_keep_sets_are_monotone(w1, w2, key):
    """w1 <= w2 must imply keep(w1) ⊆ keep(w2): raising a source's weight
    never drops a previously-kept doc (the reweight-superset contract the
    operator docstring promises)."""
    lo, hi = sorted((w1, w2))
    if key < mixture_threshold_hex(lo):
        assert key < mixture_threshold_hex(hi)


@given(key=HEX8)
@settings(max_examples=100, deadline=None)
def test_mixture_threshold_keep_all_sentinel(key):
    """weight >= 1.0 maps to 'g', which every 8-char lowercase-hex key
    sorts below — keep-all without a special-case branch."""
    assert key < mixture_threshold_hex(1.0)
    assert key < mixture_threshold_hex(1.7)


@given(w=st.floats(min_value=0.0, max_value=0.999999, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_mixture_threshold_is_fraction_of_key_space(w):
    """Below 1.0 the threshold is exactly floor(w * 16^8) in 8-hex —
    parseable back, 8 chars, lowercase (ASCII-orderable in both engines)."""
    t = mixture_threshold_hex(w)
    assert len(t) == 8 and t == t.lower()
    assert int(t, 16) == int(w * 16**8)


@given(
    fracs=st.lists(
        st.floats(min_value=0.01, max_value=0.5, allow_nan=False),
        min_size=2,
        max_size=5,
    ).filter(lambda fs: sum(fs) < 1.0),
    key=HEX8,
)
@settings(max_examples=200, deadline=None)
def test_split_thresholds_partition_key_space(fracs, key):
    """hash_split's cumulative CASE arms assign every key to EXACTLY one
    split: arms are evaluated in cumulative-threshold order, so the first
    matching arm wins and the ELSE catches the tail."""
    cum, bounds = 0.0, []
    for f in fracs[:-1]:
        cum += f
        bounds.append(mixture_threshold_hex(cum))
    hits = sum(1 for b in bounds if key < b)
    # a key below k thresholds matches the FIRST of those arms; the CASE
    # semantics need only that thresholds are non-decreasing
    assert bounds == sorted(bounds)
    assert 0 <= hits <= len(bounds)


@given(a=st.integers(min_value=0, max_value=2**64 - 1),
       b=st.integers(min_value=0, max_value=2**64 - 1))
@settings(max_examples=60, deadline=None)
def test_hamming_expr_sql_equals_popcount_in_duckdb(a, b):
    """The generated per-position SQL, run by the ORACLE engine itself,
    must equal Python's popcount of a XOR b on 64-bit strings."""
    import duckdb

    from cca_spark.operators.dedup import hamming_expr_sql

    sa, sb = format(a, "064b"), format(b, "064b")
    expr = hamming_expr_sql("'" + sa + "'", "'" + sb + "'")
    got = duckdb.sql(f"SELECT {expr} AS h").fetchone()[0]
    assert got == bin(a ^ b).count("1")


@given(doc_id=st.integers(min_value=0, max_value=10**9))
@settings(max_examples=60, deadline=None)
def test_multimodal_png_payload_roundtrip(doc_id):
    """decode(encode(doc_id)) must recover the documented raw samples
    raw[y][i] = (doc_id + y + i) % 256 — arithmetically recomputed here,
    so the zlib-inflate + Sub/Up unfilter path is checked end-to-end
    against first principles, not against the encoder's own state."""
    from cca_spark.operators.multimodal import (
        _decode_png_payload,
        _encode_png_payload,
        _png_payload_params,
    )

    w, h, _color, ch = _png_payload_params(doc_id)
    stride = w * ch
    samples = [(doc_id + y + i) % 256 for y in range(h) for i in range(stride)]
    n, s, sq = _decode_png_payload(_encode_png_payload(doc_id))
    assert n == len(samples)
    assert s == sum(samples)
    assert sq == sum(x * x for x in samples)


@given(doc_id=st.integers(min_value=0, max_value=10**9))
@settings(max_examples=60, deadline=None)
def test_multimodal_wav_payload_roundtrip(doc_id):
    """decode(encode(doc_id)) must recover the documented PCM samples
    v(i) = ((doc_id*131 + i*17) % 4096) - 2048 — recomputed from first
    principles, and the decoder must skip the decoy LIST chunk."""
    from cca_spark.operators.multimodal import (
        _WAV_N_BASE,
        _WAV_N_MOD,
        _decode_wav_payload,
        _encode_wav_payload,
    )

    n_expected = doc_id % _WAV_N_MOD + _WAV_N_BASE
    samples = [((doc_id * 131 + i * 17) % 4096) - 2048 for i in range(n_expected)]
    n, s, sq = _decode_wav_payload(_encode_wav_payload(doc_id))
    assert n == n_expected
    assert s == sum(samples)
    assert sq == sum(v * v for v in samples)


@given(
    lhs=st.one_of(
        st.from_regex(r"[0-9]{1,12}", fullmatch=True),
        st.integers(min_value=2**31 - 3, max_value=2**31 + 3).map(str),
    ),
    rhs=st.from_regex(r"[0-9]{1,12}", fullmatch=True),
)
@settings(max_examples=80, deadline=None)
def test_sig_derive_python_matches_duckdb_case(lhs, rhs):
    """Three-way significance parity on the reachable capture domain
    (every deriving rule captures (\\d+)/(\\d) — pure digit strings,
    including ones past int32): the Python kernel's sig_fn must equal the
    generated SQL CASE evaluated by the oracle engine, for EVERY deriving
    rule in the bank. Past-int32 captures are where Python int() and SQL
    try_cast(int) genuinely diverge unless the kernel clamps."""
    import duckdb

    from cca_spark.rules import RULES, sig_case_sql, sig_fn

    class FakeMatch:
        def __init__(self, groups):
            self._g = groups

        def group(self, i):
            return self._g.get(i)

    for rule in RULES:
        if rule.derive is None:
            continue
        d = rule.derive
        groups = {d.lhs_group: lhs}
        if d.rhs_group is not None:
            groups[d.rhs_group] = rhs
        py = sig_fn(rule)(FakeMatch(groups))
        # render extract(g) as the literal capture string the regex
        # would have produced — the CASE sees exactly what SQL's
        # regexp_extract would hand it
        sql = sig_case_sql(rule, lambda g: f"'{groups[g]}'")
        got = duckdb.sql(f"SELECT {sql} AS s").fetchone()[0]
        assert got == py, (rule.rule_id, lhs, rhs, got, py)
