"""DuckDB oracles for the relational operator battery.

TPC-H-ish tables are referenced by their driver-pre-registered view names
(region nation customer supplier part orders lineitem events documents
embeddings); transcripts-derived oracles inline the shared derivation SQL.
"""

from __future__ import annotations

from cca_spark import oracles

DEC = "decimal(18,4)"


def pricing_summary_sql() -> str:
    return f"""
SELECT l_returnflag, l_linestatus,
  cast(sum(cast(l_quantity AS {DEC})) AS double) AS sum_qty,
  cast(sum(cast(l_extendedprice AS {DEC})) AS double) AS sum_base_price,
  cast(sum(cast(cast(l_extendedprice AS {DEC}) * (cast(1 AS {DEC}) - cast(l_discount AS {DEC})) AS {DEC})) AS double) AS sum_disc_price,
  count(*) AS count_order,
  cast(sum(cast(l_quantity AS {DEC})) AS double) / count(*) AS avg_qty
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def join_chain_revenue_sql() -> str:
    return f"""
SELECT r_name, n_name,
  cast(sum(cast(cast(l_extendedprice AS {DEC}) * (cast(1 AS {DEC}) - cast(l_discount AS {DEC})) AS {DEC})) AS double) AS revenue,
  count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def broadcast_derived_key_join_sql() -> str:
    return f"""
SELECT p_brand || '#' || p_type AS brand_type,
  count(*) AS n_items,
  cast(sum(cast(l_quantity AS {DEC})) AS double) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


def conditional_predicate_join_sql() -> str:
    return """
SELECT CASE WHEN cast(l_shipdate AS date) = cast(o_orderdate AS date)
            THEN 'sameday' ELSE 'later' END AS mapping,
  o_orderpriority, count(*) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
"""


def anti_join_unmatched_sql() -> str:
    return """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def semi_join_existing_sql() -> str:
    return """
SELECT s_nationkey, count(*) AS n_active_suppliers FROM supplier
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
GROUP BY s_nationkey
"""


def theta_join_next_turn_sql(sf: str) -> str:
    return oracles.with_transcripts(
        sf,
        """
SELECT a.role AS role, b.role AS next_role, count(*) AS n_transitions
FROM t a JOIN t b ON a.conv_id = b.conv_id AND b.turn_idx = a.turn_idx + 1
GROUP BY 1, 2
""",
    )


def range_containment_suppression_sql(sf: str) -> str:
    return oracles.with_routed(
        sf,
        """
SELECT f.entity_id, f.sink, f.rule_id, f.span_start, f.span_end
FROM routed f
WHERE f.sink <> 'code_span'
  AND NOT EXISTS (
    SELECT 1 FROM routed s
    WHERE s.sink = 'code_span'
      AND s.conv_id = f.conv_id AND s.turn_idx = f.turn_idx
      AND f.span_start >= s.span_start AND f.span_end <= s.span_end)
""",
    )


def union_alternative_keys_sql() -> str:
    return """
SELECT via, count(*) AS n_pairs, count(DISTINCT s_suppkey) AS n_suppliers
FROM (
  SELECT s_suppkey, c_custkey, 'nation' AS via
  FROM supplier JOIN customer ON s_nationkey = c_nationkey
  UNION ALL
  SELECT s_suppkey, c_custkey, 'balance' AS via
  FROM supplier JOIN customer
    ON cast(floor(s_acctbal / 1000) AS int) = cast(floor(c_acctbal / 1000) AS int)
)
GROUP BY via
"""


def except_unclassified_turns_sql(sf: str) -> str:
    return oracles.with_facts(
        sf,
        """
SELECT role, count(*) AS n_unclassified_turns
FROM t
WHERE NOT EXISTS (
  SELECT 1 FROM facts f
  WHERE f.conv_id = t.conv_id AND f.turn_idx = t.turn_idx
    AND f.significance >= 2)
GROUP BY role
""",
    )


def running_window_total_sql() -> str:
    return f"""
SELECT o_custkey, o_orderkey,
  cast(row_number() OVER w AS int) AS order_seq,
  cast(sum(cast(o_totalprice AS {DEC})) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS double) AS running_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def sessionize_events_sql() -> str:
    from cca_spark.operators.relational import SESSION_GAP_MINUTES

    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000
    return f"""
SELECT user_id, session_seq, count(*) AS n_events,
  count(DISTINCT event_type) AS n_event_types
FROM (
  SELECT user_id, event_type,
    cast(sum(new_session) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS int) AS session_seq
  FROM (
    SELECT user_id, event_type, ts, event_id,
      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             OR datediff('microsecond',
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > {gap_us}
           THEN 1 ELSE 0 END AS new_session
    FROM events)
)
GROUP BY user_id, session_seq
"""


def scalar_function_battery_sql(sf: str) -> str:
    return oracles.with_transcripts(
        sf,
        r"""
SELECT conv_id, turn_idx,
  conv_id || '/' || cast(turn_idx AS varchar) AS uri,
  split_part(conv_id || '/' || cast(turn_idx AS varchar), '/', 2) AS localname,
  md5(text) AS md5_hash,
  sha256(text) AS sha256_hash,
  cast(date_trunc('month', ts) AS date) AS month_bucket,
  cast(len(string_split(text, chr(10))) AS int) AS sloc,
  cast(length(text) AS int) AS n_chars,
  try_cast(regexp_extract(text, 'item (\d+)', 1) AS int) AS item_id,
  cast(levenshtein(role, 'assistant') AS int) AS role_dist,
  starts_with(text, 'turn') AS starts_turn,
  upper(substr(role, 1, 1)) || substr(role, 2) AS role_title
FROM t
""",
    )


def ancestor_paths_sql() -> str:
    return f"""
WITH closure AS ({oracles.closure_recursive_sql()})
SELECT category, string_agg(ancestor, '|' ORDER BY ancestor) AS ancestor_path
FROM closure GROUP BY category
"""


def token_explode_counts_sql() -> str:
    return """
SELECT token, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
WHERE token <> ''
GROUP BY token
"""

def fragment_sets_sql(sf: str) -> str:
    return oracles.with_routed(
        sf,
        """
SELECT conv_id, turn_idx,
  string_agg(frag, ',' ORDER BY frag) AS fragment_set,
  md5(string_agg(frag, ',' ORDER BY frag)) AS fragment_hash,
  cast(count(*) AS int) AS n_fragments
FROM (
  SELECT conv_id, turn_idx,
    cast(span_start AS varchar) || ':' || cast(span_end AS varchar) || ':' || rule_id AS frag
  FROM routed)
GROUP BY conv_id, turn_idx
""",
    )


def cdc_merge_sql() -> str:
    return """
WITH cust AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
merged AS (
  SELECT c_custkey, c_name, c_acctbal FROM cust WHERE c_custkey % 10 NOT IN (0, 1, 2)
  UNION ALL
  SELECT c_custkey, c_name, c_acctbal + 100 FROM cust WHERE c_custkey % 10 IN (1, 2)
  UNION ALL
  SELECT c_custkey + 1000000, 'new-' || c_name, cast(0.0 AS double) FROM cust WHERE c_custkey % 10 = 3
)
SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal FROM merged
"""


def group_count_having_sql(sf: str) -> str:
    from cca_spark.operators.delta import MIN_FACTS_PER_CONV

    return oracles.with_routed(
        sf,
        f"""
SELECT conv_id, count(*) AS n_facts FROM routed
GROUP BY conv_id HAVING count(*) >= {MIN_FACTS_PER_CONV}
""",
    )


def pivot_role_sink_sql(sf: str) -> str:
    from cca_spark.rules import DEAD_LETTER_SINK, SINKS

    sinks = SINKS + [DEAD_LETTER_SINK]
    cases = ",\n  ".join(
        f"cast(sum(CASE WHEN sink = '{s}' THEN 1 ELSE 0 END) AS bigint) AS {s}" for s in sinks
    )
    return oracles.with_routed(sf, f"SELECT role,\n  {cases}\nFROM routed GROUP BY role")


def patch_hunks_sql(sf: str) -> str:
    from cca_spark.operators.delta import HUNK_RE, PATCH_TEXT_SQL

    patch = PATCH_TEXT_SQL.replace("AS string", "AS varchar")
    return f"""
WITH p AS (SELECT doc_id, {patch} AS patch FROM documents),
h AS (SELECT doc_id, unnest(regexp_extract_all(patch, '{HUNK_RE}')) AS hdr FROM p)
SELECT doc_id, hdr,
  cast(regexp_extract(hdr, '{HUNK_RE}', 1) AS int) AS old_start,
  cast(regexp_extract(hdr, '{HUNK_RE}', 2) AS int) AS old_len,
  cast(regexp_extract(hdr, '{HUNK_RE}', 3) AS int) AS new_start,
  cast(regexp_extract(hdr, '{HUNK_RE}', 4) AS int) AS new_len
FROM h
"""


def conv_diff_stat_sql(sf: str) -> str:
    return oracles.with_routed(
        sf,
        """
, turns AS (
  SELECT conv_id, count(*) AS n_turns FROM t GROUP BY conv_id),
per_sink AS (
  SELECT conv_id, count(*) AS n_facts,
    sum(CASE WHEN sink = 'tool_invocation' THEN 1 ELSE 0 END) AS n_tool,
    sum(CASE WHEN sink = 'code_span' THEN 1 ELSE 0 END) AS n_code,
    sum(CASE WHEN sink = 'error_signature' THEN 1 ELSE 0 END) AS n_err,
    sum(CASE WHEN sink = 'exec_audit' THEN 1 ELSE 0 END) AS n_exec,
    sum(CASE WHEN sink = 'user_signal' THEN 1 ELSE 0 END) AS n_signal,
    sum(CASE WHEN sink = 'session_meta' THEN 1 ELSE 0 END) AS n_meta,
    sum(CASE WHEN sink = 'dead_letter' THEN 1 ELSE 0 END) AS n_dead
  FROM routed GROUP BY conv_id)
SELECT t.conv_id, t.n_turns,
  cast(coalesce(p.n_facts, 0) AS bigint) AS n_facts,
  cast(coalesce(p.n_tool, 0) AS bigint) AS n_tool,
  cast(coalesce(p.n_code, 0) AS bigint) AS n_code,
  cast(coalesce(p.n_err, 0) AS bigint) AS n_err,
  cast(coalesce(p.n_exec, 0) AS bigint) AS n_exec,
  cast(coalesce(p.n_signal, 0) AS bigint) AS n_signal,
  cast(coalesce(p.n_meta, 0) AS bigint) AS n_meta,
  cast(coalesce(p.n_dead, 0) AS bigint) AS n_dead,
  floor(cast(coalesce(p.n_facts, 0) AS double) / cast(t.n_turns AS double) * 1000000.0) / 1000000.0 AS facts_per_turn,
  CASE WHEN coalesce(p.n_facts, 0) > 0 THEN
    floor((1.0 - cast(p.n_dead AS double) / cast(p.n_facts AS double)) * 1000000.0) / 1000000.0
  END AS identified_rate
FROM turns t LEFT JOIN per_sink p ON t.conv_id = p.conv_id
""",
    )


def second_gen_pattern_facts_sql(sf: str) -> str:
    return oracles.with_routed(
        sf,
        """
SELECT md5(conv_id || ':' || rule_id) AS pattern_entity_id,
  'chgpat' AS sink, conv_id, rule_id,
  count(*) AS n_instances,
  min(turn_idx) AS first_turn,
  max(turn_idx) AS last_turn,
  cast(max(significance) AS int) AS significance
FROM routed GROUP BY conv_id, rule_id
""",
    )


def similar_turn_pairs_select() -> str:
    """The similar_turn_pairs oracle over a transcripts relation ``t``."""
    from cca_spark.operators.relational import (
        SIMILAR_TURN_LEN_GATE,
        SIMILAR_TURN_THRESHOLD,
    )

    return f"""
SELECT conv_id, turn_idx, next_turn_idx, role,
  round(1.0 - levenshtein(text, next_text)
        / cast(greatest(length(text), length(next_text)) AS double), 6) AS sim
FROM (
  SELECT conv_id, turn_idx, role, text,
    lead(turn_idx) OVER w AS next_turn_idx,
    lead(role) OVER w AS next_role,
    lead(text) OVER w AS next_text
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
WHERE next_turn_idx IS NOT NULL AND role = next_role
  AND abs(length(text) - length(next_text))
      / cast(greatest(length(text), length(next_text)) AS double) <= {SIMILAR_TURN_LEN_GATE}
  AND round(1.0 - levenshtein(text, next_text)
        / cast(greatest(length(text), length(next_text)) AS double), 6) >= {SIMILAR_TURN_THRESHOLD}
"""


def similar_turn_pairs_sql(sf: str) -> str:
    return oracles.with_transcripts(sf, similar_turn_pairs_select())


def snapshot_mapping_sql() -> str:
    """Mirror of operators/mapping.py: same v1/v2 derivation, same
    path-join + digest-rank-join + anti-join classification."""
    return """
WITH v1 AS (
  SELECT doc_id,
    'dir' || cast(doc_id % 10 AS varchar) || '/f_' || cast(doc_id AS varchar) || '.txt' AS path,
    md5(text) AS digest
  FROM documents),
v2 AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0
           THEN 'dir' || cast(doc_id % 10 AS varchar) || '/g_' || cast(doc_id AS varchar) || '.txt'
         WHEN doc_id % 5 = 0
           THEN 'dir' || cast((doc_id + 1) % 10 AS varchar) || '/f_' || cast(doc_id AS varchar) || '.txt'
         ELSE 'dir' || cast(doc_id % 10 AS varchar) || '/f_' || cast(doc_id AS varchar) || '.txt'
    END AS path,
    CASE WHEN doc_id % 3 = 0 AND doc_id % 7 <> 0 AND doc_id % 5 <> 0
         THEN md5(text || ' v2') ELSE md5(text) END AS digest
  FROM documents WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT -doc_id - 1,
    'incoming/h_' || cast(doc_id AS varchar) || '.txt',
    md5(text || ' added')
  FROM documents WHERE doc_id % 13 = 0),
same_path AS (
  SELECT a.path AS old_path, b.path AS new_path,
    CASE WHEN a.digest = b.digest THEN 'mapped_eq' ELSE 'mapped_neq' END AS mapping
  FROM v1 a JOIN v2 b ON a.path = b.path),
l1 AS (
  SELECT *, row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
  FROM v1 WHERE NOT EXISTS (SELECT 1 FROM v2 WHERE v2.path = v1.path)),
l2 AS (
  SELECT *, row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
  FROM v2 WHERE NOT EXISTS (SELECT 1 FROM v1 WHERE v1.path = v2.path)),
dig AS (
  SELECT a.path AS old_path, b.path AS new_path,
    CASE WHEN split_part(a.path, '/', 1) = split_part(b.path, '/', 1)
         THEN 'renamed' ELSE 'moved' END AS mapping
  FROM l1 a JOIN l2 b ON a.digest = b.digest AND a.rn = b.rn)
SELECT old_path, new_path, mapping FROM same_path
UNION ALL
SELECT old_path, new_path, mapping FROM dig
UNION ALL
SELECT path AS old_path, cast(NULL AS varchar) AS new_path, 'deleted' AS mapping
FROM l1 WHERE NOT EXISTS (SELECT 1 FROM l2 WHERE l2.digest = l1.digest AND l2.rn = l1.rn)
UNION ALL
SELECT cast(NULL AS varchar) AS old_path, path AS new_path, 'added' AS mapping
FROM l2 WHERE NOT EXISTS (SELECT 1 FROM l1 WHERE l1.digest = l2.digest AND l1.rn = l2.rn)
"""


def tree_delta_apply_sql() -> str:
    """Mirror of operators/delta.py tree_nodes/tree_delta/tree_delta_apply:
    same node derivation, same delta table, same delete -> move -> update
    -> insert join semantics."""
    return """
WITH docs AS (SELECT doc_id FROM documents),
nodes AS (
  SELECT doc_id, '/' || cast(b AS varchar) AS path,
         'branch-' || cast(b AS varchar) AS value
  FROM docs, (SELECT unnest(generate_series(0, 3)) AS b)
  UNION ALL
  SELECT doc_id, '/' || cast(i % 4 AS varchar) || '/' || cast(i AS varchar),
         'v' || cast((doc_id + i) % 100 AS varchar)
  FROM docs, (SELECT unnest(generate_series(0, 9)) AS i)
),
delta AS (
  SELECT doc_id, 'delete_subtree' AS op, '/1' AS path, cast(NULL AS varchar) AS arg
  FROM docs WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id, 'move_subtree', '/0', '/9' FROM docs WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id, 'update', '/2/6', 'upd-' || cast(doc_id AS varchar)
  FROM docs WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id, 'insert', '/3/99', 'ins-' || cast(doc_id AS varchar)
  FROM docs WHERE doc_id % 5 = 0
),
survivors AS (
  SELECT n.* FROM nodes n WHERE NOT EXISTS (
    SELECT 1 FROM delta d WHERE d.op = 'delete_subtree' AND d.doc_id = n.doc_id
      AND (n.path = d.path OR starts_with(n.path, d.path || '/')))
),
moved AS (
  SELECT s.doc_id,
    CASE WHEN m.src IS NOT NULL
         THEN m.dst || substr(s.path, length(m.src) + 1) ELSE s.path END AS path,
    s.value
  FROM survivors s LEFT JOIN (
    SELECT doc_id, path AS src, arg AS dst FROM delta WHERE op = 'move_subtree') m
    ON s.doc_id = m.doc_id AND (s.path = m.src OR starts_with(s.path, m.src || '/'))
),
updated AS (
  SELECT mv.doc_id, mv.path, coalesce(u.arg, mv.value) AS value
  FROM moved mv LEFT JOIN (
    SELECT doc_id, path, arg FROM delta WHERE op = 'update') u
    ON mv.doc_id = u.doc_id AND mv.path = u.path
)
SELECT doc_id, path, value FROM updated
UNION ALL
SELECT doc_id, path, arg AS value FROM delta WHERE op = 'insert'
"""


def skew_salt_plan_sql(sf: str) -> str:
    from cca_spark.operators.route import SALT_TARGET_ROWS_PER_TASK

    return oracles.with_transcripts(
        sf,
        f"""
SELECT conv_id, count(*) AS n_turns,
  cast(greatest(1, floor((count(*) - 1) / {SALT_TARGET_ROWS_PER_TASK}.0) + 1) AS int) AS n_salts
FROM t GROUP BY conv_id
""",
    )
