"""The transcripts input table.

Shape per BASELINE.json input_hint:
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)``.

In production this is an Iceberg table partitioned by ``days(ts)`` +
``bucket(conv_id)``. In this sandbox we synthesise it **deterministically**
from the driver-provided ``events`` parquet with a single SQL expression
(`TRANSCRIPTS_SQL`) written in the dialect subset shared by Spark SQL and
DuckDB, so every downstream query can be oracle-checked: both engines derive
byte-identical transcripts from the same parquet bytes. No randomness, no
wall-clock (mirrors the reference's determinism discipline — seeded sampling
at /root/reference/python/src/cca/ccautil/find_change_patterns.py:63).

Skew is built in: every ``user_id % 10 == 0`` collapses into one hot
conversation (``conv-00000000``) with ~15x the average turn count,
exercising the salted-repartition path (the reference's "huge node"
analog, /root/reference/src/ast/analyzing/diffast.ml:294-305).

Text templates deterministically embed extractable spans:
- tool turns: ``TOOL_CALL: name=<tool> args={...}`` (+ a Python traceback
  on error turns) — the reference's "fact triples" analog
- assistant turns: fenced ``` code blocks, and every 7th also an
  ``ERROR <code>: <msg>`` line (multi-rule rows)
- user/system turns: no extractable spans (route nowhere)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Schema of stored transcripts: batch and streaming readers declare it
# instead of inferring it from file footers.
TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp_ntz"
)

# Dialect-shared subset: || concat, CASE, cast(.. as string), lpad, %,
# chr(10) newlines (DuckDB treats '\n' literally, Spark escapes it — chr()
# behaves identically in both), row_number() OVER.
# {events} is replaced with the events relation name (Spark temp view or a
# DuckDB read_parquet()/view).
TRANSCRIPTS_SQL = """
WITH ev AS (
  SELECT
    event_id,
    ts,
    user_id,
    event_type,
    CASE WHEN user_id % 10 = 0 THEN 0 ELSE user_id END AS conv_key
  FROM {events}
),
base AS (
  SELECT
    'conv-' || lpad(cast(conv_key AS string), 8, '0') AS conv_id,
    cast(row_number() OVER (PARTITION BY conv_key ORDER BY ts, event_id) - 1 AS int) AS turn_idx,
    CASE event_type
      WHEN 'click' THEN 'user'
      WHEN 'view' THEN 'assistant'
      WHEN 'signup' THEN 'system'
      ELSE 'tool'
    END AS role,
    CASE
      WHEN event_type = 'error' THEN
        CASE cast(event_id % 5 AS int)
          WHEN 0 THEN 'bash'
          WHEN 1 THEN 'read_file'
          WHEN 2 THEN 'http_get'
          WHEN 3 THEN 'grep'
          ELSE 'mystery_tool'
        END
      WHEN event_type = 'purchase' THEN
        CASE cast(event_id % 4 AS int)
          WHEN 0 THEN 'write_file'
          WHEN 1 THEN 'bash'
          WHEN 2 THEN 'search'
          ELSE 'edit'
        END
      ELSE cast(NULL AS string)
    END AS tool,
    ts,
    event_id,
    user_id,
    event_type
  FROM ev
)
SELECT
  conv_id,
  turn_idx,
  role,
  'turn ' || cast(turn_idx AS string) || ' [' || role || ']: ' ||
  CASE
    WHEN event_type = 'error' THEN
      'TOOL_CALL: name=' || tool || ' args={"q": ' || cast(event_id % 97 AS string) || '}'
      || chr(10) || 'Traceback (most recent call last):'
      || chr(10) || '  File "main.py", line ' || cast(event_id % 200 + 1 AS string) || ', in run'
      || chr(10) || 'ValueError: bad value ' || cast(event_id % 13 AS string)
      || CASE WHEN tool = 'bash'
              THEN chr(10) || 'exit code ' || cast(event_id % 3 + 1 AS string)
              ELSE '' END
      || CASE WHEN event_id % 2 = 0
              THEN chr(10) || 'retry ' || cast(event_id % 3 + 1 AS string) || '/3 scheduled'
              ELSE '' END
    WHEN event_type = 'purchase' THEN
      'TOOL_CALL: name=' || tool || ' args={"path": "f_' || cast(event_id % 500 AS string) || '.txt"}'
      || chr(10) || 'OK rows=' || cast(event_id % 42 AS string)
      || CASE WHEN tool = 'write_file' OR tool = 'edit'
              THEN chr(10) || 'WROTE bytes=' || cast(event_id % 4096 AS string)
              ELSE '' END
    WHEN event_type = 'view' THEN
      'Here is a fix:'
      || chr(10) || '```python'
      || chr(10) || 'x = ' || cast(event_id % 50 AS string)
      || chr(10) || 'print(x)'
      || chr(10) || '```'
      || chr(10) || 'Done.'
      || CASE WHEN event_id % 7 = 0
              THEN chr(10) || 'ERROR ' || cast(500 + event_id % 4 AS string) || ': upstream timeout'
              ELSE '' END
      || CASE WHEN event_id % 3 = 0
              THEN chr(10) || 'see https://docs.example.com/p' || cast(event_id % 60 AS string) || ' for details'
              ELSE '' END
      || CASE WHEN event_id % 5 = 0
              THEN chr(10) || 'WARN slow render ' || cast(event_id % 900 + 100 AS string) || 'ms'
              ELSE '' END
    WHEN event_type = 'click' THEN
      'please check item ' || cast(event_id AS string) || ' and report'
      || ' priority=p' || cast(event_id % 4 AS string)
    ELSE
      'session start for user ' || cast(user_id AS string)
      || ' locale=' || CASE cast(user_id % 3 AS int)
                         WHEN 0 THEN 'en-US' WHEN 1 THEN 'de-DE' ELSE 'ja-JP' END
  END AS text,
  tool,
  ts
FROM base
"""


def transcripts_sql(events_relation: str) -> str:
    """The shared derivation SQL, bound to an events relation name."""
    return TRANSCRIPTS_SQL.replace("{events}", events_relation)


def load_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the transcripts DataFrame for a scale-factor directory.

    The events scan keeps column pruning / predicate pushdown available to
    Catalyst — the derivation is a plain projection + one window, no UDFs.

    The result is explicitly repartitioned (r6): AQE sizes the window
    exchange on the PRE-synthesis event bytes (~60 B/row) and coalesces it
    to ~3 partitions at sf0.1, while the rows LEAVING the projection carry
    the synthesized ~200 B ``text`` — and every downstream opaque kernel
    (the mapInArrow parse, which Catalyst cannot see into) then runs
    3-wide on a 32-core machine (measured: the sf0.1 fact stream took
    3.7 s derived-width vs 2.2 s repartitioned). Width follows
    ``defaultParallelism`` (scale-adaptive, never a local constant); the
    key includes ``turn_idx`` so the built-in hot conversation
    (conv-00000000, ~10%% of all turns) spreads instead of landing in one
    task — per-conv windows downstream re-shuffle on their own keys either
    way. Row-set semantics are unchanged: the hash is deterministic, and
    no consumer depends on physical row order.
    """
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    events.createOrReplaceTempView("cca_events_src")
    t = spark.sql(transcripts_sql("cca_events_src"))
    return t.repartition(
        spark.sparkContext.defaultParallelism * 2, "conv_id", "turn_idx"
    )


def duckdb_transcripts_sql(sf_dir: str) -> str:
    """Same derivation as a DuckDB subquery reading the same parquet."""
    return transcripts_sql(f"read_parquet('{sf_dir}/events.parquet')")
