"""PARSE — regex/grok bank extraction over turn text.

Reference analog: per-language parsers + fact extractors turn one input
tree into many triple rows (UDTF shape, fact_base.ml:447-507; language
dispatch at diffastcore.ml:42-48). Here one turn's ``text`` becomes 0..n
fact rows, one per rule match.

Entity identity mirrors the reference's ``(encoding, file-id, range)`` URI
scheme (entity.ml:68-92, triple.ml:589-596):
``entity_id = conv_id-turn_idx-span_start-span_end-rule_id`` — a
deterministic key independent of partitioning, which is what makes
routed-row **set equality** hold across cluster sizes.

One kernel per output contract, both behind one ``mapInArrow`` boundary
and one rule-scope decision (``_scope_masks``):

- **facts** (``parse_facts``): one row per match with all of
  FACT_COLUMNS. ``strategy="python"`` (default) runs ``_extract_facts_arrow``:
  Arrow literal-anchor masks pick the candidate rows, and only their
  ``text`` becomes Python strings for the compiled ``re`` bank.
  ``strategy="sql"`` runs the same bank as JVM ``regexp_extract_all`` in
  whole-stage codegen, with no Python boundary, and is the parity check.
  Every column crosses the Arrow boundary because Catalyst cannot prune
  inside the kernel; a consumer that reads few columns still pays for all.
- **per-key counts** (``parse_fact_partials``): ``_extract_partials_arrow``
  counts matches with RE2 on the Arrow batch and combines them per
  (conv_id, tool, day, sink) inside the kernel, so aggregate-only
  consumers ship keys, not facts. It trades Python ``re`` for RE2
  semantics, which the DuckDB oracle shares.

Python-boundary task layout: both kernels reach Spark through
``pyworker.in_worker``, which keeps a reused worker's per-task set-up to
stat calls, and take their input through ``python_stage_input``. Scans
split at 2x task slots so the hot conversation's split cannot hold a whole
wave back (session.py); a small input instead runs as one wave of
``defaultParallelism`` fuller tasks, because every Python task still pays
a fixed cost before its function runs that a small input's kernel work
does not amortise (see ``ONE_WAVE_MAX_BYTES``).
"""

from __future__ import annotations

import re
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cca_spark.pyworker import in_worker
from cca_spark.rules import RULES, Rule, sig_fn

# Bank entry: (rule, compiled pattern, derived-significance fn or None).
# Compiled once per task; the sig fn is generated from the declarative
# SigDerive spec so all evaluation paths share one definition (rules.py).
BankEntry = tuple[Rule, re.Pattern, object]


def compile_bank() -> list[BankEntry]:
    # re.ASCII (ADVICE r03): Python's re evaluates \d/\w/\s/\b over Unicode
    # by default, while the other two evaluation paths — Spark (Java regex,
    # ASCII classes unless UNICODE_CHARACTER_CLASS) and DuckDB (RE2, ASCII
    # classes) — are ASCII-only. Compiling the bank ASCII pins all three
    # paths to identical character-class semantics: a Unicode digit in a
    # turn must not match (nor escalate derived significance) in the Python
    # kernel alone. Pinned by test_bank_ascii_class_parity.
    return [(r, re.compile(r.pattern, re.ASCII), sig_fn(r)) for r in RULES]


def _scope_masks(batch, rules) -> list:
    """Per rule, the rows of ``batch`` its role/tool sub-bank admits
    (rules.Rule.role_scope/tool_scope) as a numpy bool mask; None for a
    rule with no scope. A NULL role or tool is in no scope. Each distinct
    (column, value) pair is compared once per batch. Both kernels mask
    through this one helper, so they cannot disagree on scoping."""
    cache: dict[tuple[str, str], np.ndarray] = {}

    def eq(col: str, value: str) -> np.ndarray:
        m = cache.get((col, value))
        if m is None:
            m = pc.fill_null(pc.equal(batch.column(col), value), False)
            m = cache[(col, value)] = m.to_numpy(zero_copy_only=False)
        return m

    out = []
    for rule in rules:
        mask = None if rule.role_scope is None else eq("role", rule.role_scope)
        if rule.tool_scope is not None:
            tm = eq("tool", rule.tool_scope)
            mask = tm if mask is None else mask & tm
        out.append(mask)
    return out


# One fact row per rule match, in this column order, from either strategy.
FACT_COLUMNS = [
    "entity_id",
    "conv_id",
    "turn_idx",
    "role",
    "tool",
    "ts",
    "rule_id",
    "sink",
    "significance",
    "span_start",
    "span_end",
    "value",
]

# What the full-fact kernel emits through Arrow: FACT_COLUMNS minus the
# derived entity_id, which parse_facts reattaches as a JVM concat_ws
# projection, built in codegen instead of per fact in Python.
KERNEL_FACT_SCHEMA = (
    "conv_id string, turn_idx int, role string, "
    "tool string, ts timestamp_ntz, rule_id string, sink string, "
    "significance int, span_start int, span_end int, value string"
)

KERNEL_FACT_COLUMNS = [c for c in FACT_COLUMNS if c != "entity_id"]

# The same schema as Arrow types, derived here rather than through
# pyspark's DDL parser, which needs a live session and executors have none
# (pinned equal to to_arrow_schema(KERNEL_FACT_SCHEMA) by
# test_kernel_fact_arrow_schema_matches_ddl).
_DDL_ARROW_TYPES = {
    "string": pa.string(),
    "int": pa.int32(),
    "timestamp_ntz": pa.timestamp("us"),
}
KERNEL_FACT_ARROW_SCHEMA = pa.schema(
    [
        (name, _DDL_ARROW_TYPES[ddl_type])
        for name, ddl_type in map(str.split, KERNEL_FACT_SCHEMA.split(", "))
    ]
)

PARTIAL_AGG_SCHEMA = (
    "conv_id string, tool string, date_bucket timestamp_ntz, sink string, n long"
)

# Below this Catalyst size estimate of the kernel input, a Python stage runs
# as one wave of defaultParallelism tasks instead of one task per scan split.
# One wave saves one fixed per-task cost c per slot and gives up the 2x
# split's straggler balance, which costs about 12% of the per-slot kernel
# work. c is the time from job submit to the function's first call: a no-op
# mapInArrow at local[4] on 4 vCPUs measures 0.15 s with the worker set-up
# of pyworker.in_worker (0.48 s without it, when the worker re-reads every
# zip on its sys.path per task). The Arrow/RE2 kernel covers ~1.3 MB of
# estimate per second per slot, so 12% of the per-slot work equals c at
# about 6 MB of estimate. 4 MiB sits below that crossover and 4x above a
# 40k-turn corpus (estimate 1.1 MB), which runs 11% faster as one wave;
# the 1.6M-turn bench corpus (estimate 42 MB) keeps its 2x split.
ONE_WAVE_MAX_BYTES = 4 << 20


def python_stage_input(df: DataFrame) -> DataFrame:
    """The input a Python-UDF stage runs over: ``df`` regrouped into one
    wave of ``defaultParallelism`` tasks when Catalyst estimates it below
    ``ONE_WAVE_MAX_BYTES``; otherwise, or for a streaming DataFrame, ``df``
    itself. ``coalesce`` only merges existing splits without a shuffle and
    never raises the partition count, so no partition count is read here
    (reading one through ``.rdd`` can run AQE query stages)."""
    if df.isStreaming:
        return df
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if size >= ONE_WAVE_MAX_BYTES:
        return df
    return df.coalesce(df.sparkSession.sparkContext.defaultParallelism)


def _extract_partials_arrow(batch):
    """Arrow-native partials kernel: per-rule match COUNTS via
    pyarrow's RE2 (``count_substring_regex``) directly on the incoming
    Arrow batch — the ``text`` column never becomes Python string objects
    (guide §4.2: hand whole batches to vectorized native code).

    Equivalence argument: the DuckDB oracle already evaluates this exact
    rule bank through RE2 (``regexp_extract_all``) and hash-matches the
    Python-re kernels, so RE2-vs-re count parity on this pattern subset is
    oracle-proven; additionally pinned per-rule by
    test_arrow_partials_kernel_parity. Scoped rules mask their counts with
    ``_scope_masks`` BEFORE the per-sink accumulation, like the full-fact
    kernel. The grouping tail stays in pandas over the (small)
    nonzero key rows — pyarrow's TableGroupBy was measured emitting
    duplicate (unmerged) groups on multi-chunk real-data input, and while
    duplicate PARTIALS would still aggregate correctly downstream, the
    kernel output should stay deterministic.
    """
    texts = batch.column("text")
    sink_counts: dict[str, np.ndarray] = {}
    for rule, scope in zip(RULES, _scope_masks(batch, RULES)):
        cnt = (
            pc.fill_null(pc.count_substring_regex(texts, pattern=rule.pattern), 0)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        if scope is not None:
            cnt = np.where(scope, cnt, 0)
        if not cnt.any():
            continue
        acc = sink_counts.get(rule.sink)
        if acc is None:
            sink_counts[rule.sink] = cnt
        else:
            acc += cnt
    if not sink_counts:
        return None
    date = pc.floor_temporal(batch.column("ts"), unit="day")
    base = pd.DataFrame(
        {
            "conv_id": batch.column("conv_id").to_pandas(),
            "tool": batch.column("tool").to_pandas(),
            "date_bucket": date.to_pandas(),
        }
    )
    outs = []
    for sink, arr in sink_counts.items():
        nzm = arr > 0
        if not nzm.any():
            continue
        g = base[nzm].copy()
        g["n"] = arr[nzm]
        g["sink"] = sink
        outs.append(g)
    if not outs:
        return None
    facts = pd.concat(outs, ignore_index=True)
    out = (
        facts.groupby(["conv_id", "tool", "date_bucket", "sink"], dropna=False)["n"]
        .sum()
        .reset_index()
    )
    out["tool"] = out["tool"].where(pd.notna(out["tool"]), None)
    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("tool", pa.string()),
            ("date_bucket", pa.timestamp("us")),
            ("sink", pa.string()),
            ("n", pa.int64()),
        ]
    )
    return pa.RecordBatch.from_pandas(
        out[["conv_id", "tool", "date_bucket", "sink", "n"]],
        schema=schema,
        preserve_index=False,
    )


def parse_fact_partials(transcripts: DataFrame) -> DataFrame:
    """transcripts -> per-batch partial fact counts (PARTIAL_AGG_SCHEMA).

    Contract: summing ``n`` per key over the output equals counting the
    full fact stream per key; how many partial rows carry one key depends
    on the batch layout, so only aggregates over the output are stable.
    The kernel is ``mapInArrow`` + RE2 counting (_extract_partials_arrow):
    ``text`` never becomes Python string objects, at the cost of RE2
    semantics, which the oracle shares. The reference is the full-fact
    kernel's output counted per key; parity is pinned by
    test_arrow_partials_kernel_parity, test_partials_kernel_hostile_input_parity
    and test_fused_pipeline_agg_equivalence.
    Task layout follows ``python_stage_input``: fewer, larger batches on a
    small input combine more keys per batch."""

    def run(batches):
        for batch in batches:
            out = _extract_partials_arrow(batch)
            if out is not None:
                yield out

    return python_stage_input(transcripts).mapInArrow(
        in_worker(run), schema=PARTIAL_AGG_SCHEMA
    )


def _extract_facts_arrow(batch, bank: list[BankEntry]):
    """One Arrow batch of turns -> one Arrow batch of facts
    (KERNEL_FACT_ARROW_SCHEMA), one row per rule match.

    The literal-anchor test (``pc.match_substring``, once per distinct
    anchor) and the scope masks run in C over the whole batch; every match
    contains its rule's anchor (tests/test_rules_unit.py), so a row outside
    a rule's mask cannot match it. Only the candidate rows' ``text`` becomes
    Python strings, and the Python loop visits only (rule, candidate row)
    pairs with the compiled ``re`` bank. The turn columns of the output are
    ``take`` of the input rows, so they keep the input's Arrow types even
    for a batch without matches.
    """
    texts = batch.column("text")
    rules = [e[0] for e in bank]
    anchor_masks: dict[str, np.ndarray] = {}
    cands = []
    for rule, scope in zip(rules, _scope_masks(batch, rules)):
        am = anchor_masks.get(rule.anchor)
        if am is None:
            am = pc.fill_null(pc.match_substring(texts, rule.anchor), False)
            am = anchor_masks[rule.anchor] = am.to_numpy(zero_copy_only=False)
        cands.append(np.flatnonzero(am if scope is None else am & scope))
    rows = np.unique(np.concatenate(cands))
    text_of = dict(zip(rows.tolist(), texts.take(rows).to_pylist()))
    # (row, rule, start, end, value, significance)
    hits: list[tuple] = []
    for j, ((rule, cre, sfn), cand) in enumerate(zip(bank, cands)):
        group = 1 if cre.groups else 0
        for i in cand.tolist():
            for m in cre.finditer(text_of[i]):
                sig = rule.significance if sfn is None else sfn(m)
                hits.append((i, j, m.start(), m.end(), m.group(group), sig))
    row_idx, rule_idx, starts, ends, values, sigs = zip(*hits) if hits else [()] * 6
    turns = batch.select(["conv_id", "turn_idx", "role", "tool", "ts"])
    turns = turns.take(pa.array(row_idx, pa.int64()))
    rule_idx = pa.array(rule_idx, pa.int64())
    return pa.RecordBatch.from_arrays(
        [
            *turns.columns,
            pa.array([r.rule_id for r in rules], pa.string()).take(rule_idx),
            pa.array([r.sink for r in rules], pa.string()).take(rule_idx),
            pa.array(sigs, pa.int32()),
            pa.array(starts, pa.int32()),
            pa.array(ends, pa.int32()),
            pa.array(values, pa.string()),
        ],
        schema=KERNEL_FACT_ARROW_SCHEMA,
    )


def parse_facts(transcripts: DataFrame, strategy: str = "python") -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) -> fact stream.

    Contract: one row per rule match with all of FACT_COLUMNS; the row
    multiset is independent of the task layout and identical for both
    strategies (the Python kernel is authoritative for overlapping
    multi-match spans, see ``_parse_facts_sql``).

    Tradeoff: the ``"python"`` strategy's ``mapInArrow`` kernel is opaque
    to Catalyst, so every fact crosses the Arrow boundary with all its
    columns, ``value`` included, even when the consumer projects them away.
    Consumers that only count facts per key use ``parse_fact_partials``
    instead, which combines counts inside the kernel; consumers of
    individual facts (spans, ids, values) pay for the full row. The kernel
    takes its input through ``python_stage_input``."""
    if strategy == "python":

        def run(batches):
            # compile once per task (reference compiles its rule bank once
            # per language engine instance, java_change.ml:788-793)
            bank = compile_bank()
            for batch in batches:
                yield _extract_facts_arrow(batch, bank)

        facts = python_stage_input(transcripts).mapInArrow(
            in_worker(run), schema=KERNEL_FACT_SCHEMA
        )
        return facts.select(
            F.concat_ws(
                "-", "conv_id", "turn_idx", "span_start", "span_end", "rule_id"
            ).alias("entity_id"),
            *KERNEL_FACT_COLUMNS,
        )

    if strategy == "sql":
        return _parse_facts_sql(transcripts)

    raise ValueError(f"unknown parse strategy: {strategy}")


def _parse_facts_sql(transcripts: DataFrame) -> DataFrame:
    """JVM-only variant: ONE scan, all rules evaluated in a single
    projection, ONE generate (``inline``) emitting only actual matches.

    Each rule's ``regexp_extract_all`` match list is wrapped into
    ``array<struct(rule_id, sink, significance, m0)>`` via ``transform``;
    the per-rule arrays are flattened and ``inline``d, so the generator
    emits exactly one row per (rule, match). The previous shape — explode
    an array of N_rules structs, then explode each struct's match list —
    materialized N_rules rows per TURN (62x the corpus, each carrying the
    full ``text``) before the second explode dropped the empties; the
    single-generate plan goes straight from turns to matches (guide §2.3:
    don't materialize rows you immediately throw away). A per-rule union
    of full scans would read the 10^12-turn table N_rules times; this
    still reads it once.

    Spans are recovered with ``instr`` (valid because each rule matches at
    most one distinct substring per generated turn); the Python strategy is
    authoritative for overlapping/multi-match inputs. The group value and
    derived significance are re-extracted from the short match string
    AFTER the generate (plain projections over (rule_id, m0)), so Catalyst
    prunes them — and ``text`` — away entirely for aggregate-only
    consumers (the pipeline_sql bench path).
    """
    empty = F.array().cast("array<string>")

    def _matches(r: Rule):
        # NOTE: no contains()-anchor prefilter here, deliberately — A/B
        # measured it a pessimization for this strategy (21.2s vs 18.1s at
        # 1.6M turns): java.util.regex already fast-scans for the literal
        # prefix, so the extra CASE+contains only adds work. The anchor
        # prefilter pays off in the Python kernel, where it keeps
        # non-candidate rows out of the interpreter.
        ms = F.regexp_extract_all(F.col("text"), F.lit(r.pattern), 0)
        cond = None
        if r.role_scope is not None:
            # per-role sub-bank (rules.Rule.role_scope)
            cond = F.col("role") == r.role_scope
        if r.tool_scope is not None:
            # per-tool sub-bank: scoped rules emit nothing off-scope
            sc = F.col("tool") == r.tool_scope
            cond = sc if cond is None else (cond & sc)
        if cond is not None:
            ms = F.when(cond, ms).otherwise(empty)
        # coalesce: a NULL match list (null text) must not null the flatten
        return F.coalesce(ms, empty)

    def _rule_match_structs(r: Rule):
        return F.transform(
            _matches(r),
            lambda m: F.struct(
                F.lit(r.rule_id).alias("rule_id"),
                F.lit(r.sink).alias("sink"),
                F.lit(r.significance).cast("int").alias("base_sig"),
                m.alias("m0"),
            ),
        )

    flat = F.flatten(F.array(*[_rule_match_structs(r) for r in RULES]))
    exploded = transcripts.select(
        "conv_id", "turn_idx", "role", "tool", "ts", "text", F.inline(flat)
    )
    value = None
    for r in RULES:
        g = 1 if re.compile(r.pattern).groups else 0
        branch = F.regexp_extract(F.col("m0"), r.pattern, g)
        value = (
            F.when(F.col("rule_id") == r.rule_id, branch)
            if value is None
            else value.when(F.col("rule_id") == r.rule_id, branch)
        )
    # derived significance (rules.SigDerive): re-extract the compared
    # group(s) from the SHORT match string and apply the rule's CASE —
    # generated from the same spec as the Python kernel and the oracle
    sig = None
    for r in RULES:
        if r.derive is None:
            continue
        d = r.derive
        lhs = F.regexp_extract(F.col("m0"), r.pattern, d.lhs_group).try_cast("int")
        rhs = (
            F.lit(d.rhs_const)
            if d.rhs_group is None
            else F.regexp_extract(F.col("m0"), r.pattern, d.rhs_group).try_cast("int")
        )
        cond = {
            ">=": lhs >= rhs,
            ">": lhs > rhs,
            "=": lhs == rhs,
            "<=": lhs <= rhs,
            "<": lhs < rhs,
        }[d.op]
        branch = F.when(cond, F.lit(d.sig_true)).otherwise(F.lit(r.significance))
        sig = (
            F.when(F.col("rule_id") == r.rule_id, branch)
            if sig is None
            else sig.when(F.col("rule_id") == r.rule_id, branch)
        )
    sig = F.col("base_sig") if sig is None else sig.otherwise(F.col("base_sig"))
    start = F.instr(F.col("text"), F.col("m0")) - F.lit(1)
    end = start + F.length("m0")
    return exploded.select(
        F.concat_ws(
            "-", F.col("conv_id"), F.col("turn_idx"), start, end, F.col("rule_id")
        ).alias("entity_id"),
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        "rule_id",
        "sink",
        sig.cast("int").alias("significance"),
        start.cast("int").alias("span_start"),
        end.cast("int").alias("span_end"),
        value.alias("value"),
    )
