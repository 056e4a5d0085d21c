"""Parameter census: a defaulted parameter that no caller sets is a
configuration no test, oracle or benchmark runs, so it belongs in a module
constant. Pure ``ast``, no Spark.

Rule: every defaulted parameter of a ``def`` under ``cca_spark/`` is filled,
by keyword or by position, in at least one direct call to that function
name in ``cca_spark/``, ``scripts/``, ``tests/``, ``perfbench/``,
``bench*.py`` or ``__spark_entry__.py``. ``ALLOWED`` lists the exceptions.

A fill does not count when it only restates the default: a literal equal
to it (module-level literal constants are resolved on both sides) or the
same expression. A fill that forwards a parameter of the enclosing ``def``
counts only if that parameter is itself required or set by some caller.
Calls are matched by function name, so a call through a variable or an
alias is not seen.
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ALLOWED = {
    # deployment settings, set by whoever deploys the service or the zip
    # (the verify recipe passes build_zip a path)
    ("cca_spark/service.py", "serve", "host"),
    ("cca_spark/service.py", "serve", "port"),
    ("cca_spark/dist.py", "build_zip", "path"),
    # perfbench/ (the benchmark harness, kept unchanged) passes
    # max_iters=30, the default, by keyword, so the keyword stays
    ("cca_spark/chain.py", "near_dup_labels", "max_iters"),
    # filled through the class call QueryService(...), which names no def
    ("cca_spark/service.py", "__init__", "queries"),
    # set by tests through a variable: _dedup_vs_duckdb calls the operator
    # and its oracle as spark_op(...) / oracle(...)
    ("cca_spark/operators/dedup.py", "ngram_containment_over", "bucket_cap"),
    ("cca_spark/oracles_training.py", "minhash_lsh_pairs_sql", "bucket_cap"),
    ("cca_spark/oracles_training.py", "ngram_containment_sql", "corpus_cte"),
    ("cca_spark/oracles_training.py", "ngram_containment_sql", "bucket_cap"),
}


def _py_files(*names: str):
    for name in names:
        path = os.path.join(REPO, name)
        if os.path.isfile(path):
            yield path
        for root, _, files in os.walk(path):
            yield from (os.path.join(root, f) for f in sorted(files) if f.endswith(".py"))


def _parse(path: str) -> ast.AST:
    with open(path) as f:
        return ast.parse(f.read(), path)


NOT_LITERAL = object()


def _literal(node: ast.AST, consts: dict):
    """The node's literal value (a ``Name`` resolved through ``consts``),
    or ``NOT_LITERAL``."""
    if isinstance(node, ast.Name) and node.id in consts:
        return consts[node.id]
    try:
        return ast.literal_eval(node)
    except ValueError:
        return NOT_LITERAL


def _module_consts(tree: ast.AST) -> dict:
    """Module-level ``NAME = <literal>`` assignments."""
    out = {}
    for node in tree.body:
        if isinstance(node, ast.Assign) and len(node.targets) == 1:
            target = node.targets[0]
            if isinstance(target, ast.Name):
                value = _literal(node.value, out)
                if value is not NOT_LITERAL:
                    out[target.id] = value
    return out


def _params(fn: ast.AST):
    """(name, positional index or None, default node or None) per parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    for i, arg in enumerate(pos):
        yield arg.arg, i, a.defaults[i - first] if i >= first else None
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        yield arg.arg, None, default


def _is_method(fn: ast.AST) -> bool:
    pos = fn.args.posonlyargs + fn.args.args
    return bool(pos) and pos[0].arg in ("self", "cls")


DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _defaulted_params():
    """(file, def node, param, module constants) per defaulted parameter."""
    for path in _py_files("cca_spark"):
        rel = os.path.relpath(path, REPO)
        tree = _parse(path)
        consts = _module_consts(tree)
        for node in ast.walk(tree):
            if isinstance(node, DEFS):
                for param, _, default in _params(node):
                    if default is not None:
                        yield rel, node, param, consts


def _calls_by_name():
    """function name -> [(call, enclosing def or lambda, module constants)]."""
    bench = sorted(f for f in os.listdir(REPO) if f.startswith("bench") and f.endswith(".py"))
    scanned = ["cca_spark", "scripts", "tests", "perfbench", "__spark_entry__.py", *bench]
    calls = defaultdict(list)

    def visit(node, fn, consts):
        if isinstance(node, ast.Call):
            f = node.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            if name:
                calls[name].append((node, fn, consts))
        if isinstance(node, (*DEFS, ast.Lambda)):
            fn = node
        for child in ast.iter_child_nodes(node):
            visit(child, fn, consts)

    for path in _py_files(*scanned):
        tree = _parse(path)
        visit(tree, None, _module_consts(tree))
    return calls


def _filled_value(call: ast.Call, param: str, index: int | None, method: bool):
    """The expression the call binds to the parameter, or None."""
    for k in call.keywords:
        if k.arg == param or k.arg is None:  # k.arg None: **kwargs
            return k.value
    if index is None:
        return None
    # obj.method(x) binds x to the parameter after self
    bound = 1 if method and isinstance(call.func, ast.Attribute) else 0
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred) or i + bound == index:
            return arg
    return None


def _is_set(fn: ast.AST, param: str, consts: dict, calls, seen=frozenset()) -> bool:
    """Whether some call to ``fn`` binds ``param`` to another value than its
    default; ``consts`` are the constants of ``fn``'s module."""
    _, index, default = next(p for p in _params(fn) if p[0] == param)
    if default is None:
        return True  # required: every call sets it
    if (fn.name, param) in seen:
        return False
    seen = seen | {(fn.name, param)}
    literal = _literal(default, consts)
    for call, outer, call_consts in calls.get(fn.name, []):
        value = _filled_value(call, param, index, _is_method(fn))
        if value is None or ast.dump(value) == ast.dump(default):
            continue
        got = _literal(value, call_consts)
        if got is not NOT_LITERAL and got == literal:
            continue
        forwards = (
            isinstance(value, ast.Name)
            and isinstance(outer, DEFS)
            and any(p[0] == value.id for p in _params(outer))
        )
        if not forwards or _is_set(outer, value.id, call_consts, calls, seen):
            return True
    return False


def test_every_default_is_set_by_some_caller():
    calls = _calls_by_name()
    unset = {
        (rel, fn.name, param)
        for rel, fn, param, consts in _defaulted_params()
        if not _is_set(fn, param, consts, calls)
    }
    extra = sorted(unset - ALLOWED)
    stale = sorted(ALLOWED - unset)
    assert not extra, (
        f"{len(extra)} defaulted parameters that no caller sets to another "
        "value; make each a module constant:\n"
        + "\n".join(f"  {r}:{f}({p})" for r, f, p in extra)
    )
    assert not stale, f"ALLOWED entries that are now set or gone: {stale}"
