"""Pure-Python rule-bank unit tests (no SparkSession — run instantly).

The anchor prefilter in ``operators/parse.py::_extract_facts_arrow`` skips any
row whose text lacks ``rule.anchor``. That is only sound if EVERY match of
the rule's pattern contains the anchor verbatim; these tests pin that
invariant against representative texts from the transcript templates
(``cca_spark/transcripts.py``) plus adversarial variants.
"""

from __future__ import annotations

import re

from cca_spark.rules import RULES

SAMPLE_TEXTS = [
    # tool turn, error path (template: transcripts.py), with turn header
    'turn 12 [tool]: TOOL_CALL: name=bash args={"q": 3}\n'
    "Traceback (most recent call last):\n"
    '  File "main.py", line 5, in run\n'
    "ValueError: bad value 2\n"
    "exit code 2\n"
    "retry 1/3 scheduled",
    # tool turn, ok path
    'turn 3 [tool]: TOOL_CALL: name=write_file args={"path": "f_3.txt"}\n'
    "OK rows=7\nWROTE bytes=2048",
    'turn 44 [tool]: TOOL_CALL: name=search args={"path": "f_9.txt"}\nOK rows=1',
    'turn 5 [tool]: TOOL_CALL: name=grep args={"q": 88}\n'
    "Traceback (most recent call last):\n"
    '  File "main.py", line 9, in run\n'
    "ValueError: bad value 1",
    # assistant turn with code fence, ERROR line, URL and WARN
    "turn 10 [assistant]: Here is a fix:\n```python\nx = 1\nprint(x)\n```\nDone.\n"
    "ERROR 502: upstream timeout\n"
    "see https://docs.example.com/p7 for details\n"
    "WARN slow render 250ms",
    # user / system turns
    "turn 0 [user]: please check item 123 and report priority=p2",
    "turn 101 [system]: session start for user 42 locale=en-US",
    # multiple fences / multiple errors in one text
    "```py\na\n```\nmid\n```sql\nSELECT 1\n```\nERROR 1: a\nERROR 2: b",
    # near-misses that must NOT match
    "TOOLCALL: name=x args={}",
    "ERROR : no code",
    "`` not a fence ``",
    "turn 7 [user]: single digit turn header must not match deep-turn rule",
    "",
]


def test_every_match_contains_anchor():
    for r in RULES:
        cre = re.compile(r.pattern)
        for text in SAMPLE_TEXTS:
            for m in cre.finditer(text):
                assert r.anchor in m.group(0), (
                    f"{r.rule_id}: match {m.group(0)!r} lacks anchor {r.anchor!r} — "
                    "the literal prefilter would drop this fact"
                )


def test_anchor_is_literal_substring_of_pattern_source():
    """Anchors must appear in the pattern itself (modulo metachar
    escaping), so a pattern edit that invalidates the anchor fails here."""
    for r in RULES:
        unescaped = re.sub(r"\\([(){}\[\].*+?^$|\\])", r"\1", r.pattern)
        assert r.anchor in unescaped, (
            f"{r.rule_id}: anchor {r.anchor!r} not derivable from pattern "
            f"{r.pattern!r} — update the anchor alongside the pattern"
        )


def test_rules_have_distinct_ids_and_valid_sinks():
    from cca_spark.rules import DEAD_LETTER_SINK, SINKS

    ids = [r.rule_id for r in RULES]
    assert len(ids) == len(set(ids))
    for r in RULES:
        assert r.sink in SINKS and r.sink != DEAD_LETTER_SINK
        assert 1 <= r.significance <= 4
        re.compile(r.pattern)  # must compile


def test_derive_specs_are_well_formed():
    """Value-comparing rules (SigDerive): referenced groups must exist in
    the pattern, ops must be known, and both significance outcomes must be
    in the 1-4 range — and the Python evaluator must agree with a hand
    evaluation on the sample corpus."""
    from cca_spark.rules import _OPS, sig_fn

    n_derived = 0
    for r in RULES:
        if r.derive is None:
            assert sig_fn(r) is None
            continue
        n_derived += 1
        d = r.derive
        cre = re.compile(r.pattern)
        assert d.op in _OPS, f"{r.rule_id}: unknown op {d.op!r}"
        assert 1 <= d.sig_true <= 4
        assert 1 <= d.lhs_group <= cre.groups, f"{r.rule_id}: lhs_group out of range"
        assert (d.rhs_const is None) != (d.rhs_group is None), (
            f"{r.rule_id}: exactly one of rhs_const/rhs_group required"
        )
        if d.rhs_group is not None:
            assert 1 <= d.rhs_group <= cre.groups, f"{r.rule_id}: rhs_group out of range"
        fn = sig_fn(r)
        for text in SAMPLE_TEXTS:
            for m in cre.finditer(text):
                lhs = int(m.group(d.lhs_group))
                rhs = d.rhs_const if d.rhs_group is None else int(m.group(d.rhs_group))
                expect = d.sig_true if _OPS[d.op](lhs, rhs) else r.significance
                assert fn(m) == expect, f"{r.rule_id}: sig_fn mismatch on {m.group(0)!r}"
    assert n_derived >= 15, "value-comparing sub-bank unexpectedly shrank"


def test_role_scope_values_valid():
    for r in RULES:
        assert r.role_scope in (None, "tool", "assistant", "user", "system"), r.rule_id


def test_role_scoping_is_lossless_on_generated_corpus():
    """Role sub-banks must be semantic scoping, not silent fact loss: on
    the real derived corpus, every match a rule's pattern finds occurs on
    a turn of the rule's scoped role (so the scoped bank emits exactly the
    facts the unscoped bank would)."""
    import duckdb

    from cca_spark.transcripts import duckdb_transcripts_sql

    rows = duckdb.sql(
        f"SELECT role, tool, text FROM ({duckdb_transcripts_sql('/root/testdata/sf0.001')})"
    ).fetchall()
    for r in RULES:
        if r.role_scope is None:
            continue
        cre = re.compile(r.pattern)
        for role, tool, text in rows:
            if r.tool_scope is not None and tool != r.tool_scope:
                continue
            if role != r.role_scope and r.anchor in text and cre.search(text):
                raise AssertionError(
                    f"{r.rule_id} (scope {r.role_scope}) would lose a match on a "
                    f"{role} turn: {text!r}"
                )


def test_at_most_one_match_per_rule_per_generated_turn():
    """The span-recovery trick in the SQL strategy and the DuckDB oracle
    (first-occurrence strpos + single regexp_extract) is only sound if no
    rule matches twice in one generated turn — pin it against the real
    derived corpus, not just the hand samples."""
    import duckdb

    from cca_spark.transcripts import duckdb_transcripts_sql

    texts = [
        row[0]
        for row in duckdb.sql(
            f"SELECT text FROM ({duckdb_transcripts_sql('/root/testdata/sf0.001')})"
        ).fetchall()
    ]
    for r in RULES:
        cre = re.compile(r.pattern)
        for t in texts:
            if r.anchor not in t:
                continue
            n = sum(1 for _ in cre.finditer(t))
            assert n <= 1, f"{r.rule_id}: {n} matches in generated turn {t!r}"


def test_bank_size_floor():
    """Reference parity target: the Java bank alone has 59 rules
    (java_change.ml:519-782); this bank must not silently shrink below it."""
    assert len(RULES) >= 59, f"bank has {len(RULES)} rules"


def test_patterns_have_no_lookaround_or_backrefs():
    """Patterns must stay in the shared Python-re ∩ RE2 subset so the
    DuckDB oracle evaluates identical semantics."""
    for r in RULES:
        assert "(?=" not in r.pattern and "(?!" not in r.pattern
        assert "(?<" not in r.pattern
        assert not re.search(r"\\[1-9]", r.pattern), "backreference"
