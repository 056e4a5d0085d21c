"""The router rule bank.

Reference analog: ``make_changes_list()`` returns rows of
``(rule_name, significance, matcher, triple_emitter)`` — 59 named Java rules
at /root/reference/src/ast/analyzing/langs/java/java_change.ml:519-782, with
per-language banks (Fortran f_change.ml:146-245, C++ cpp_change.ml:81-103).
The bank is *data*: rules are rows, not code.

Here each rule is ``(rule_id, sink, pattern, significance, anchor,
tool_scope)``; patterns are kept in the common subset of Python ``re`` and
RE2 (no backreferences, no lookaround) so the DuckDB oracle can evaluate the
identical pattern with ``regexp_extract``. ``[\\s\\S]`` is used instead of
DOTALL flags for portability.

``tool_scope`` implements per-tool sub-banks — the analog of the
reference's per-language rule banks (the Java bank only runs on Java pairs;
here the ``bash`` sub-bank only runs on ``tool='bash'`` turns). A scoped
rule is evaluated only on rows whose ``tool`` column equals the scope, in
all three evaluation paths (Python kernel, Spark SQL strategy, DuckDB
oracle).

Unmatched turns route nowhere (only turn-level facts); rows can match
multiple rules and emit one routed fact per match — exactly the reference's
"edit used / unclassified" split
(/root/reference/src/ast/analyzing/common/change_base.ml:951-956).

Invariants every rule must hold (pinned by tests/test_rules_unit.py):
- every match contains ``anchor`` verbatim (the cheap literal prefilter);
- at most ONE match per rule per generated turn (lets the SQL strategy and
  the DuckDB oracle recover spans via first-occurrence ``instr``/``strpos``);
- at least one capture group (group 1 is the routed ``value``);
- a ``derive`` spec may only reference capture groups the pattern has, and
  all its significance outcomes stay within 1-4.
"""

from __future__ import annotations

import operator as _operator
from dataclasses import dataclass


@dataclass(frozen=True)
class SigDerive:
    """VALUE-COMPARING significance (reference: rules whose class is
    derived by comparing captured values through the modifier lattice —
    accessibility increased vs decreased,
    /root/reference/src/ast/analyzing/langs/java/java_change.ml:519-782).

    sig = ``sig_true`` when ``int(group lhs_group) <op> rhs`` else the
    rule's static ``significance`` (the base). ``rhs`` is either a
    constant or ANOTHER captured group (two-capture comparison). The spec
    is declarative so all three evaluation paths — Python kernel, Spark
    SQL strategy, DuckDB oracle — are GENERATED from this one definition
    (``sig_fn`` / ``sig_case_sql`` below) and cannot drift."""

    lhs_group: int
    op: str  # '>=', '>', '=', '<=', '<'
    sig_true: int
    rhs_const: int | None = None
    rhs_group: int | None = None


_OPS = {
    ">=": _operator.ge,
    ">": _operator.gt,
    "=": _operator.eq,
    "<=": _operator.le,
    "<": _operator.lt,
}


@dataclass(frozen=True)
class Rule:
    rule_id: str
    sink: str
    pattern: str  # RE2-and-Python-re compatible
    significance: int  # 1-4, reference change_base.ml:72-78 (base when derived)
    anchor: str  # literal substring every match contains — cheap prefilter
    tool_scope: str | None = None  # per-tool sub-bank (None = any tool)
    derive: SigDerive | None = None  # value-comparing significance
    # per-ROLE sub-bank — the direct analog of the reference's per-language
    # banks (the Java bank parses only Java files, diffastcore.ml:42-48):
    # a rule for tool-output spans (tracebacks, exit codes) runs only on
    # tool turns, assistant-message rules only on assistant turns. This is
    # rule SEMANTICS (applied identically in the Python kernel, the Spark
    # SQL strategy, and the DuckDB oracle), and it is also the bank's main
    # compute prune: each turn is scanned by its role's sub-bank (~14
    # rules avg), not all 62.
    role_scope: str | None = None  # None = any role


def sig_fn(rule: Rule):
    """Python evaluator of a rule's derived significance for the Python
    kernel: ``fn(match) -> int``. None for static rules (callers use the
    constant). Non-numeric captures fall back to the base significance —
    the same NULL-comparison semantics as the SQL CASE below."""
    if rule.derive is None:
        return None
    d, base = rule.derive, rule.significance
    cmp = _OPS[d.op]

    def to_int32(s) -> int | None:
        # match try_cast(... AS int) of BOTH SQL paths on the reachable
        # domain (every deriving capture is (\d+)/(\d), so the string is
        # pure ASCII digits): values past int32 come back NULL in SQL and
        # must fall through to the base here too, or an 11-digit capture
        # (bytes=, user id) silently forks the Python kernel from the
        # Spark-SQL strategy and the DuckDB oracle. Pinned by the
        # tests/test_properties.py three-way fuzz.
        if s is None:
            return None
        v = int(s)
        return v if -(2**31) <= v < 2**31 else None

    def fn(m) -> int:
        try:
            lhs = to_int32(m.group(d.lhs_group))
            rhs = (
                d.rhs_const if d.rhs_group is None else to_int32(m.group(d.rhs_group))
            )
        except (TypeError, ValueError):
            return base
        if lhs is None or rhs is None:
            return base
        return d.sig_true if cmp(lhs, rhs) else base

    return fn


def sig_case_sql(rule: Rule, extract) -> str:
    """Dialect-shared (Spark SQL ∩ DuckDB) significance expression.
    ``extract(g)`` renders SQL extracting capture group ``g`` of the
    rule's pattern as text. NULL comparisons fall through to ELSE,
    matching the Python fallback in ``sig_fn``."""
    if rule.derive is None:
        return str(rule.significance)
    d = rule.derive
    rhs = (
        str(d.rhs_const)
        if d.rhs_group is None
        else f"try_cast({extract(d.rhs_group)} AS int)"
    )
    return (
        f"CASE WHEN try_cast({extract(d.lhs_group)} AS int) {d.op} {rhs} "
        f"THEN {d.sig_true} ELSE {rule.significance} END"
    )


RULES: list[Rule] = [
    # ------------------------------------------------ tool_invocation bank
    Rule(
        "r_tool_call",
        "tool_invocation",
        r"TOOL_CALL: name=(\w+) args=(\{[^\n]*\})",
        3,
        "TOOL_CALL: name=",
    ),
    Rule(
        "r_args_json",
        "tool_invocation",
        r"args=(\{[^\n]*\})",
        1,
        "args=",
    ),
    Rule(
        "r_file_path_arg",
        "tool_invocation",
        r'"path": "([\w./]+)"',
        2,
        '"path": "',
    ),
    Rule(
        "r_q_arg",
        "tool_invocation",
        r'"q": (\d+)',
        1,
        '"q": ',
    ),
    Rule(
        "r_tool_result_ok",
        "tool_invocation",
        r"OK rows=(\d+)",
        1,
        "OK rows=",
    ),
    # ------------------------------------------------------ code_span bank
    Rule(
        "r_code_fence",
        "code_span",
        r"```(\w+)\n([\s\S]*?)\n```",
        2,
        "```",
    ),
    Rule(
        "r_lang_tag",
        "code_span",
        r"```(\w+)",
        1,
        "```",
    ),
    Rule(
        "r_print_stmt",
        "code_span",
        r"print\(([^)\n]*)\)",
        1,
        "print(",
    ),
    Rule(
        "r_assignment",
        "code_span",
        r"x = (\d+)",
        1,
        "x = ",
    ),
    # ------------------------------------------------ error_signature bank
    # \w{1,64}, as in r_exc_class: after the header the lazy [\s\S]*? tries
    # the class run at every later position, so an unbounded \w+ is
    # quadratic in Python re and Java regex on a long word after a header
    Rule(
        "r_traceback",
        "error_signature",
        r"Traceback \(most recent call last\):\n[\s\S]*?(\w{1,64}Error): ([^\n]*)",
        4,
        "Traceback (most recent call last):",
    ),
    Rule(
        "r_error_code",
        "error_signature",
        r"ERROR (\d+): ([^\n]*)",
        3,
        "ERROR ",
    ),
    # \w{1,64}, not \w+: with an unbounded run every start position inside a
    # long word re-scans it, which is quadratic in Python re and Java regex
    # (RE2 is linear either way); the bound keeps all three engines linear
    # and identical on class names of up to 64 word characters
    Rule(
        "r_exc_class",
        "error_signature",
        r"(\w{1,64}Error): [^\n]*",
        3,
        "Error",
    ),
    Rule(
        "r_file_line_ref",
        "error_signature",
        r'File "([\w./]+)", line (\d+)',
        2,
        'File "',
    ),
    Rule(
        "r_http_5xx",
        "error_signature",
        r"ERROR 5(\d\d): upstream",
        3,
        "ERROR 5",
    ),
    Rule(
        "r_timeout_sig",
        "error_signature",
        r"upstream (timeout)",
        2,
        "upstream ",
    ),
    Rule(
        "r_warn_line",
        "error_signature",
        r"WARN ([^\n]*)",
        2,
        "WARN ",
    ),
    # ---------------------------------------------------- user_signal bank
    Rule(
        "r_item_ref",
        "user_signal",
        r"check item (\d+)",
        1,
        "check item ",
    ),
    Rule(
        "r_report_req",
        "user_signal",
        r"and (report)",
        1,
        "and ",
    ),
    Rule(
        "r_url_ref",
        "user_signal",
        r"https://([\w./-]+)",
        2,
        "https://",
    ),
    Rule(
        "r_priority",
        "user_signal",
        r"priority=p(\d)",
        1,
        "priority=p",
    ),
    # --------------------------------------------------- session_meta bank
    Rule(
        "r_session_start",
        "session_meta",
        r"session start for user (\d+)",
        1,
        "session start for user ",
    ),
    Rule(
        "r_deep_turn_header",
        "session_meta",
        r"turn (\d\d+) \[",
        1,
        "turn ",
    ),
    Rule(
        "r_retry_sched",
        "session_meta",
        r"retry (\d)/3 scheduled",
        1,
        "/3 scheduled",
    ),
    Rule(
        "r_render_ms",
        "session_meta",
        r"render (\d+)ms",
        1,
        "render ",
    ),
    Rule(
        "r_locale",
        "session_meta",
        r"locale=([a-z][a-z]-[A-Z][A-Z])",
        1,
        "locale=",
    ),
    # ------------------------------- per-tool sub-banks (tool_scope keyed),
    # the per-language-bank analog: the rule runs ONLY on rows whose tool
    # column equals the scope (java bank <-> java pairs).
    Rule(
        "r_bash_exec",
        "exec_audit",
        r"name=bash args=(\{[^\n]*\})",
        4,
        "name=bash",
        tool_scope="bash",
    ),
    Rule(
        "r_net_fetch",
        "exec_audit",
        r'name=http_get args=\{"q": (\d+)\}',
        2,
        "name=http_get",
        tool_scope="http_get",
    ),
    Rule(
        "r_fs_write",
        "exec_audit",
        r"name=write_file args=(\{[^\n]*\})",
        3,
        "name=write_file",
        tool_scope="write_file",
    ),
    Rule(
        "r_fs_edit",
        "exec_audit",
        r"name=edit args=(\{[^\n]*\})",
        3,
        "name=edit",
        tool_scope="edit",
    ),
    Rule(
        "r_search_q",
        "exec_audit",
        r'name=search args=\{"path": "([\w./]+)"\}',
        2,
        "name=search",
        tool_scope="search",
    ),
    Rule(
        "r_grep_q",
        "exec_audit",
        r'name=grep args=\{"q": (\d+)\}',
        1,
        "name=grep",
        tool_scope="grep",
    ),
    Rule(
        "r_read_file_q",
        "exec_audit",
        r'name=read_file args=\{"q": (\d+)\}',
        1,
        "name=read_file",
        tool_scope="read_file",
    ),
    Rule(
        "r_exit_code",
        "exec_audit",
        r"exit code (\d+)",
        3,
        "exit code ",
        tool_scope="bash",
    ),
    Rule(
        "r_write_bytes",
        "exec_audit",
        r"WROTE bytes=(\d+)",
        2,
        "WROTE bytes=",
        tool_scope=None,  # emitted by both write_file and edit turns
    ),
    # ---------------------------------------------- value-comparing rules
    # (round 3) significance DERIVED from captured values — the reference's
    # modifier-lattice rules compare old/new captured values to decide the
    # change class (java_change.ml:519-782); here the analog compares
    # captured numerics against thresholds or OTHER captured groups.
    Rule(
        "r_exit_severity",
        "exec_audit",
        r"exit code (\d+)",
        2,
        "exit code ",
        tool_scope="bash",
        derive=SigDerive(lhs_group=1, op=">=", rhs_const=2, sig_true=4),
    ),
    Rule(
        # TWO-CAPTURE comparison: final retry (n == budget) escalates
        "r_retry_final",
        "session_meta",
        r"retry (\d)/(\d) scheduled",
        1,
        "retry ",
        derive=SigDerive(lhs_group=1, op=">=", rhs_group=2, sig_true=3),
    ),
    Rule(
        # exit code vs retry count in one span: failing at/after the last
        # scheduled retry is an audit-significant event
        "r_exit_retry_combo",
        "exec_audit",
        r"exit code (\d+)\nretry (\d)/3 scheduled",
        2,
        "exit code ",
        tool_scope="bash",
        derive=SigDerive(lhs_group=1, op=">=", rhs_group=2, sig_true=4),
    ),
    Rule(
        "r_render_slow",
        "session_meta",
        r"render (\d+)ms",
        1,
        "render ",
        derive=SigDerive(lhs_group=1, op=">=", rhs_const=500, sig_true=3),
    ),
    Rule(
        "r_write_large",
        "exec_audit",
        r"WROTE bytes=(\d+)",
        1,
        "WROTE bytes=",
        derive=SigDerive(lhs_group=1, op=">=", rhs_const=2048, sig_true=3),
    ),
    Rule(
        "r_rows_empty",
        "tool_invocation",
        r"OK rows=(\d+)",
        1,
        "OK rows=",
        derive=SigDerive(lhs_group=1, op="=", rhs_const=0, sig_true=2),
    ),
    Rule(
        "r_priority_urgent",
        "user_signal",
        r"priority=p(\d)",
        1,
        "priority=p",
        derive=SigDerive(lhs_group=1, op="<=", rhs_const=1, sig_true=3),
    ),
    Rule(
        "r_http_server_err",
        "error_signature",
        r"ERROR (\d\d\d): upstream",
        2,
        "ERROR ",
        derive=SigDerive(lhs_group=1, op=">=", rhs_const=502, sig_true=3),
    ),
    Rule(
        "r_bad_value_zero",
        "error_signature",
        r"bad value (\d+)",
        2,
        "bad value ",
        derive=SigDerive(lhs_group=1, op="=", rhs_const=0, sig_true=3),
    ),
    Rule(
        "r_deep_line_ref",
        "error_signature",
        r"line (\d+), in",
        1,
        "line ",
        derive=SigDerive(lhs_group=1, op=">=", rhs_const=100, sig_true=2),
    ),
    Rule(
        "r_q_heavy",
        "tool_invocation",
        r'"q": (\d+)\}',
        1,
        '"q": ',
        derive=SigDerive(lhs_group=1, op=">=", rhs_const=50, sig_true=2),
    ),
    Rule(
        "r_item_backlog",
        "user_signal",
        r"check item (\d+) and",
        1,
        "check item ",
        derive=SigDerive(lhs_group=1, op=">=", rhs_const=500, sig_true=2),
    ),
    Rule(
        "r_doc_page_deep",
        "user_signal",
        r"docs\.example\.com/p(\d+)",
        1,
        "docs.example.com/p",
        derive=SigDerive(lhs_group=1, op=">=", rhs_const=30, sig_true=2),
    ),
    Rule(
        "r_x_assign_large",
        "code_span",
        r"x = (\d+)",
        1,
        "x = ",
        derive=SigDerive(lhs_group=1, op=">=", rhs_const=25, sig_true=2),
    ),
    Rule(
        "r_turn_depth",
        "session_meta",
        r"turn (\d+) \[",
        1,
        "turn ",
        derive=SigDerive(lhs_group=1, op=">=", rhs_const=50, sig_true=2),
    ),
    Rule(
        "r_file_index_high",
        "tool_invocation",
        r'"path": "f_(\d+)\.txt"',
        1,
        '"path": "f_',
        derive=SigDerive(lhs_group=1, op=">=", rhs_const=250, sig_true=2),
    ),
    Rule(
        "r_user_id_wide",
        "session_meta",
        r"session start for user (\d+)",
        1,
        "session start for user ",
        derive=SigDerive(lhs_group=1, op=">=", rhs_const=500, sig_true=2),
    ),
    # ------------------------------------------- round-3 static additions
    Rule(
        "r_func_ctx",
        "error_signature",
        r", in (\w+)",
        1,
        ", in ",
    ),
    Rule(
        "r_mystery_tool",
        "exec_audit",
        r"name=(mystery_tool)",
        4,
        "mystery_tool",
        tool_scope="mystery_tool",
    ),
    Rule(
        "r_fix_preamble",
        "code_span",
        r"Here is a (fix):",
        1,
        "Here is a ",
    ),
    Rule(
        "r_done_marker",
        "code_span",
        r"\n(Done)\.",
        1,
        "Done",
    ),
    Rule(
        "r_exc_message",
        "error_signature",
        r"ValueError: (bad value \d+)",
        3,
        "ValueError: ",
    ),
    Rule(
        "r_locale_lang",
        "session_meta",
        r"locale=([a-z][a-z])-",
        1,
        "locale=",
    ),
    Rule(
        "r_see_details",
        "user_signal",
        r"see https://[\w./-]+ for (details)",
        1,
        "see https://",
    ),
    Rule(
        "r_code_lang_python",
        "code_span",
        r"```(python)\n",
        2,
        "```",
    ),
    Rule(
        "r_args_path_obj",
        "tool_invocation",
        r'args=(\{"path": "[\w./]+"\})',
        2,
        '{"path": "',
    ),
    Rule(
        "r_write_file_path",
        "exec_audit",
        r'name=write_file args=\{"path": "([\w./]+)"\}',
        2,
        "name=write_file",
        tool_scope="write_file",
    ),
    Rule(
        "r_traceback_file",
        "error_signature",
        r'File "([\w./]+)", line \d+, in \w+',
        2,
        'File "',
    ),
]

# Role sub-bank assignment (see Rule.role_scope). Kept as one table so
# the mapping is auditable at a glance; rules absent here run on every
# role (currently only the turn-header rules, whose spans occur in all
# four roles' texts).
_ROLE_SCOPES: dict[str, str] = {
    # tool-output spans: TOOL_CALL lines, results, tracebacks, exit codes
    **dict.fromkeys(
        [
            "r_tool_call", "r_args_json", "r_file_path_arg", "r_q_arg",
            "r_tool_result_ok", "r_traceback", "r_exc_class", "r_file_line_ref",
            "r_retry_sched", "r_bash_exec", "r_net_fetch", "r_fs_write",
            "r_fs_edit", "r_search_q", "r_grep_q", "r_read_file_q",
            "r_exit_code", "r_write_bytes", "r_exit_severity", "r_retry_final",
            "r_exit_retry_combo", "r_write_large", "r_rows_empty",
            "r_bad_value_zero", "r_deep_line_ref", "r_q_heavy",
            "r_file_index_high", "r_func_ctx", "r_mystery_tool",
            "r_exc_message", "r_args_path_obj", "r_write_file_path",
            "r_traceback_file",
        ],
        "tool",
    ),
    # assistant-message spans: code fences, service errors, urls, renders
    **dict.fromkeys(
        [
            "r_code_fence", "r_lang_tag", "r_print_stmt", "r_assignment",
            "r_error_code", "r_http_5xx", "r_timeout_sig", "r_warn_line",
            "r_url_ref", "r_render_ms", "r_render_slow", "r_http_server_err",
            "r_x_assign_large", "r_doc_page_deep", "r_fix_preamble",
            "r_done_marker", "r_see_details", "r_code_lang_python",
        ],
        "assistant",
    ),
    # user-request spans
    **dict.fromkeys(
        ["r_item_ref", "r_report_req", "r_priority", "r_item_backlog",
         "r_priority_urgent"],
        "user",
    ),
    # session/system spans
    **dict.fromkeys(
        ["r_session_start", "r_locale", "r_user_id_wide", "r_locale_lang"],
        "system",
    ),
}

import dataclasses as _dataclasses  # noqa: E402

RULES = [
    _dataclasses.replace(r, role_scope=_ROLE_SCOPES.get(r.rule_id)) for r in RULES
]

SINKS = [
    "tool_invocation",
    "code_span",
    "error_signature",
    "user_signal",
    "session_meta",
    "exec_audit",
]
DEAD_LETTER_SINK = "dead_letter"


