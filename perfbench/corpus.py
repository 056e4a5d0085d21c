"""Seeded stored transcript corpus for the benchmark.

The corpus is generated outside every timed region and cached on disk under
``.bench_build/perfbench/`` in the checkout. The program under test only ever
sees the generated parquet.

Generation has two steps:

1. A seeded ``events`` table with the shape of the sf0.1 events the program is
   developed against: ``n_events`` rows, 1500 users, ``n_days`` days of
   timestamps from 2024-01-01 (sf0.1 spans 30), five uniformly mixed event
   types. ``user_id % 10 == 0`` still collapses into the built-in hot
   conversation (~10% of all turns).
2. The program's own shared derivation SQL (``cca_spark.transcripts``),
   executed by DuckDB, turns the events into transcripts. The result is
   hash-partitioned by ``conv_id`` into a fixed number of files and sorted by
   ``(conv_id, turn_idx)`` inside each file, the layout
   ``cca_spark.bench_corpus.ensure_bench_corpus`` gives the stored table.

The cache key covers the seed, the size, the day span and a hash of
``TRANSCRIPTS_SQL``, so an edit to the derivation regenerates the corpus
instead of reusing stale text.
"""

from __future__ import annotations

import hashlib
import os
import shutil

N_USERS = 1500
N_FILES = 16
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")


def cache_root(checkout: str) -> str:
    return os.path.join(checkout, ".bench_build", "perfbench")


def corpus_key(seed: int, n_events: int, n_days: int) -> str:
    from cca_spark.transcripts import TRANSCRIPTS_SQL

    dv = hashlib.md5(TRANSCRIPTS_SQL.encode()).hexdigest()[:8]
    return f"s{seed}_n{n_events}_d{n_days}_{dv}"


def write_events(path: str, seed: int, n_events: int, n_days: int) -> None:
    """One seeded events parquet file with the sf0.1 column contract."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    start_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = n_days * 86_400 * 1_000_000
    ts = np.sort(start_us + rng.integers(0, span_us, n_events))
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, N_USERS, n_events, dtype=np.int64)),
            "event_type": pa.array(
                np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n_events)]
            ),
        }
    )
    pq.write_table(table, path)


def ensure_corpus(checkout: str, seed: int, n_events: int, n_days: int) -> str:
    """Return the directory of the stored corpus, generating it if absent.

    Publication is atomic: the corpus is written to a temporary directory
    and renamed into place, so an interrupted run never leaves a half
    corpus behind a valid cache key.
    """
    import duckdb

    from cca_spark.transcripts import duckdb_transcripts_sql

    path = os.path.join(cache_root(checkout), "corpus", corpus_key(seed, n_events, n_days))
    if os.path.isdir(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    events_dir = os.path.join(tmp, "_events")
    os.makedirs(events_dir)
    write_events(os.path.join(events_dir, "events.parquet"), seed, n_events, n_days)
    con = duckdb.connect()
    try:
        derived = duckdb_transcripts_sql(events_dir)
        for f in range(N_FILES):
            out = os.path.join(tmp, f"part-{f:05d}.parquet")
            con.execute(
                f"COPY (SELECT conv_id, turn_idx, role, text, tool, "
                f"CAST(ts AS TIMESTAMP) AS ts FROM ({derived}) "
                f"WHERE hash(conv_id) % {N_FILES} = {f} ORDER BY conv_id, turn_idx) "
                f"TO '{out}' (FORMAT parquet)"
            )
    finally:
        con.close()
    shutil.rmtree(events_dir)
    os.replace(tmp, path)
    return path


def corpus_glob(path: str) -> str:
    return os.path.join(path, "part-*.parquet")
