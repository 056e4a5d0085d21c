"""Independent expected results, computed by DuckDB, and the checks against them.

Expected values come from ``cca_spark.oracles``' routed SQL, pointed at the
generated corpus parquet instead of re-deriving transcripts from an sf
directory, and are cached as JSON next to the corpus. The check functions are
pure: they take a job's collected output and the expected values and return
a list of mismatch messages, empty when the job is correct.
"""

from __future__ import annotations

import hashlib
import json
import os

_SENTINEL = "__perfbench_sf__"
# one exact-dedup group as hashed by both engines: md5(text) ':' n_copies
GROUP_KEY_SQL = "h || ':' || cast(n AS varchar)"


def routed_sql(corpus_glob: str, select: str) -> str:
    """``oracles.with_routed`` with its transcripts CTE read from the corpus."""
    from cca_spark import oracles

    sql = oracles.with_routed(_SENTINEL, select)
    cte = oracles.transcripts_cte(_SENTINEL)
    if sql.count(cte) != 1:
        raise RuntimeError("oracles.with_routed no longer starts from transcripts_cte")
    return sql.replace(cte, f"t AS (SELECT * FROM read_parquet('{corpus_glob}'))")


def md5_prefix60_sql(expr: str) -> str:
    """DuckDB form of ``corpus_prep.md5_prefix60``."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def rows_digest(rows: list[tuple]) -> list[int]:
    """``[rows, bit_xor of md5_prefix60 of each ':'-joined row]`` over
    collected rows: the Python form of ``workloads.digest``."""
    x = 0
    for r in rows:
        x ^= int(hashlib.md5(":".join(map(str, r)).encode()).hexdigest()[:15], 16)
    return [len(rows), x]


def _query(sql: str) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def report_rows(corpus_glob: str) -> list[list]:
    rows = _query(
        routed_sql(
            corpus_glob,
            "SELECT sink, tool, cast(date_bucket AS varchar), count(*), "
            "count(DISTINCT conv_id) FROM routed GROUP BY 1, 2, 3",
        )
    )
    return sorted(([*r] for r in rows), key=repr)


def ingest_counts(corpus_glob: str) -> dict:
    facts = _query(
        routed_sql(
            corpus_glob,
            "SELECT cast(date_bucket AS varchar), sink, count(*) FROM routed GROUP BY 1, 2",
        )
    )
    turns = _query(
        f"SELECT cast(cast(ts AS date) AS varchar), count(*) "
        f"FROM read_parquet('{corpus_glob}') GROUP BY 1"
    )
    return {
        "facts": {f"{d}|{s}": n for d, s, n in facts},
        "turns": {d: n for d, n in turns},
    }


def near_dup_groups(corpus_glob: str) -> dict:
    """Exact-dedup groups: count and order-independent digest of
    ``(md5(text), n_copies)``, as ``md5(text) GROUP BY`` gives them."""
    n, digest = _query(
        f"SELECT count(*), bit_xor({md5_prefix60_sql(GROUP_KEY_SQL)}) "
        f"FROM (SELECT md5(text) AS h, count(*) AS n "
        f"FROM read_parquet('{corpus_glob}') GROUP BY 1)"
    )[0]
    return {"n_groups": n, "digest": digest}


def expected(workload: str, corpus_glob: str, cache_dir: str) -> dict:
    """Expected values for ``workload``, computed once per corpus."""
    path = os.path.join(cache_dir, f"_expected_{workload}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = {
        "report": lambda: {"rows": report_rows(corpus_glob)},
        "ingest": lambda: ingest_counts(corpus_glob),
        "near_dup": lambda: near_dup_groups(corpus_glob),
    }[workload]()
    value["n_turns"] = _query(f"SELECT count(*) FROM read_parquet('{corpus_glob}')")[0][0]
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def _diff(name: str, got: dict, want: dict) -> list[str]:
    bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    return [f"{name}[{k}]: got {got.get(k)}, want {want.get(k)}" for k in bad[:5]]


def check_report(rows: list[list], want: dict) -> list[str]:
    got = sorted(rows, key=repr)
    if got == want["rows"]:
        return []
    extra = [r for r in got if r not in want["rows"]]
    missing = [r for r in want["rows"] if r not in got]
    return [f"report: {len(extra)} unexpected rows {extra[:3]}, {len(missing)} missing {missing[:3]}"]


def check_ingest(out: dict, want: dict) -> list[str]:
    """Readback and manifest against the oracle, and the resume contract."""
    errors = []
    dates = sorted(want["turns"])
    first, second = out["wave1"], out["wave2"]
    if first["processed"] != dates[: len(first["processed"])] or first["skipped"] != 0:
        errors.append(f"ingest: first wave processed {first['processed']}")
    if second["skipped"] != len(first["processed"]):
        errors.append(
            f"ingest: second wave skipped {second['skipped']}, "
            f"first wave committed {len(first['processed'])}"
        )
    if sorted(first["processed"] + second["processed"]) != dates:
        errors.append("ingest: the two waves do not partition the date buckets")
    errors += _diff("readback", out["readback"], want["facts"])
    per_date: dict[str, int] = {}
    dead: dict[str, int] = {}
    for key, n in out["readback"].items():
        d, sink = key.split("|")
        per_date[d] = per_date.get(d, 0) + n
        dead[d] = dead.get(d, 0) + (n if sink == "dead_letter" else 0)
    manifest = out["manifest"]
    errors += _diff("manifest.n_turns", {d: m[0] for d, m in manifest.items()}, want["turns"])
    errors += _diff("manifest.n_facts", {d: m[1] for d, m in manifest.items()}, per_date)
    errors += _diff("manifest.n_dead_letter", {d: m[2] for d, m in manifest.items()}, dead)
    if out["manifest_rows"] != len(dates):
        errors.append(f"ingest: {out['manifest_rows']} manifest rows for {len(dates)} dates")
    return errors


def check_pairs(pairs: list[tuple], measure: str, threshold: float) -> list[str]:
    """Recompute each pair's shingle-set similarity in DuckDB.

    ``pairs`` holds ``(doc_a, doc_b, text_a, text_b)``. Shingles are k=3
    token windows of the whitespace-split trimmed text, as
    ``dedup.corpus_shingles`` builds them. ``measure`` is ``jaccard`` or
    ``containment`` (the larger of the two directions).
    """
    import duckdb
    import pyarrow as pa

    if not pairs:
        return []
    tbl = pa.table({k: list(v) for k, v in zip(("a", "b", "ta", "tb"), zip(*pairs))})

    def shingles(col: str) -> str:
        toks = f"string_split_regex(trim({col}), '\\s+')"
        return (
            f"list_distinct(list_filter(list_transform("
            f"range(0, greatest(len({toks}) - 3, 0) + 1), "
            f"i -> array_to_string({toks}[i + 1:i + 3], ' ')), x -> x <> ''))"
        )

    sim = {
        "jaccard": "len(list_intersect(sa, sb)) / len(list_distinct(list_concat(sa, sb)))",
        "containment": "len(list_intersect(sa, sb)) / least(len(sa), len(sb))",
    }[measure]
    con = duckdb.connect()
    try:
        con.register("pairs", tbl)
        low = con.execute(
            f"SELECT a, b, s FROM (SELECT a, b, {sim} AS s FROM "
            f"(SELECT a, b, {shingles('ta')} AS sa, {shingles('tb')} AS sb FROM pairs)) "
            f"WHERE s < {threshold} - 1e-6"
        ).fetchall()
    finally:
        con.close()
    return [f"{measure} pair {a}-{b} recomputes to {s:.4f} < {threshold}" for a, b, s in low[:5]]


def check_near_dup(out: dict, want: dict, reference: dict | None) -> list[str]:
    """Exact groups against DuckDB, every emitted pair's similarity recomputed,
    and the output digest equal to the first one seen for this corpus."""
    from cca_spark.operators.dedup import CONTAINMENT_THRESHOLD

    errors = []
    got = {"n_groups": out["n_groups"], "digest": out["groups_digest"]}
    errors += _diff("exact_groups", got, {k: want[k] for k in got})
    errors += check_pairs(out["jaccard_pairs"], "jaccard", 0.5)
    errors += check_pairs(out["containment_pairs"], "containment", CONTAINMENT_THRESHOLD)
    if reference is not None:
        errors += _diff("digest", out["digests"], reference)
    return errors
