"""Independent output checks, computed with DuckDB over the generated
parquet — never with the engine under test.

Each ``expected_*`` function states a constraint's meaning in plain SQL
and returns ``{(partition_label, constraint): n_violations}`` for every
partition present in the data (zeros included), which is exactly the
universe of ``RunResult.verdicts``.
"""

from __future__ import annotations

import os
import sys

import duckdb

# importing the development checker puts a fixed checkout path first on
# sys.path; restore it so later imports still resolve to this checkout
_path = list(sys.path)
from tools.check_entry import value_hash  # noqa: E402
sys.path[:] = _path

#: partition label, as the runner renders it for ``(source, bucket)``
PART = "'source=' || source || '/bucket=' || CAST(bucket AS VARCHAR)"


def _connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    # the checks run between timed iterations, so they may use every core
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    return con


def _by_part(rows, names: list[str]) -> dict[tuple[str, str], int]:
    return {(r[0], name): int(n)
            for r in rows for name, n in zip(names, r[1:])}


def expected_sequences(path: str, registry: str, tmp_dir: str,
                       allowed: list[str], vocab_size: int
                       ) -> dict[tuple[str, str], int]:
    """Per-(partition, constraint) violation counts of the sequences
    suite (see ``workloads.sequences_suite``)."""
    names = ["len_consistency", "vocab_bounds", "tokens_not_null",
             "source_allowed", "unique_doc_id", "doc_registered"]
    allowed_sql = ", ".join(f"'{s}'" for s in allowed)
    sql = f"""
        WITH t AS (SELECT doc_id, tokens, n_tok, source, {PART} AS part
                   FROM read_parquet('{path}/**/*.parquet',
                                     hive_partitioning = true)),
             dup AS (SELECT doc_id FROM t GROUP BY doc_id
                     HAVING count(*) > 1),
             reg AS (SELECT DISTINCT doc_id
                     FROM read_parquet('{registry}/*.parquet')
                     WHERE doc_id IS NOT NULL)
        SELECT part,
          count(*) FILTER (WHERE NOT coalesce(
              tokens IS NULL OR len(tokens) = n_tok, false)),
          count(*) FILTER (WHERE NOT coalesce(
              tokens IS NULL OR (list_min(tokens) >= 0
                                 AND list_max(tokens) < {vocab_size}),
              false)),
          count(*) FILTER (WHERE tokens IS NULL),
          count(*) FILTER (WHERE source IS NULL
                           OR source NOT IN ({allowed_sql})),
          count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM dup)),
          count(*) FILTER (WHERE doc_id IS NULL OR NOT EXISTS (
              SELECT 1 FROM reg WHERE reg.doc_id = t.doc_id))
        FROM t GROUP BY part"""
    con = _connect(tmp_dir)
    try:
        return _by_part(con.execute(sql).fetchall(), names)
    finally:
        con.close()


def expected_hotkeys(facts: str, registry: str, tmp_dir: str
                     ) -> dict[tuple[str, str], int]:
    """Counts of the hot-key suite: two uniqueness checks and a
    referential check against the registry."""
    names = ["unique_doc_id", "unique_source_parent", "parent_registered"]
    sql = f"""
        WITH t AS (SELECT doc_id, source, parent_id, {PART} AS part
                   FROM read_parquet('{facts}/*.parquet')),
             reg AS (SELECT DISTINCT parent_id
                     FROM read_parquet('{registry}/*.parquet')
                     WHERE parent_id IS NOT NULL),
             d1 AS (SELECT doc_id FROM t GROUP BY doc_id
                    HAVING count(*) > 1),
             d2 AS (SELECT source, parent_id FROM t
                    GROUP BY source, parent_id HAVING count(*) > 1)
        SELECT part,
          count(*) FILTER (WHERE EXISTS (
              SELECT 1 FROM d1 WHERE d1.doc_id = t.doc_id)),
          count(*) FILTER (WHERE EXISTS (
              SELECT 1 FROM d2 WHERE d2.source = t.source
                               AND d2.parent_id = t.parent_id)),
          count(*) FILTER (WHERE parent_id IS NULL OR NOT EXISTS (
              SELECT 1 FROM reg WHERE reg.parent_id = t.parent_id))
        FROM t GROUP BY part"""
    con = _connect(tmp_dir)
    try:
        return _by_part(con.execute(sql).fetchall(), names)
    finally:
        con.close()


def verdict_problems(verdicts: list[dict],
                     expected: dict[tuple[str, str], int]) -> list[str]:
    """Differences between ``RunResult.verdicts`` and the expected
    counts, as readable lines (empty = they agree)."""
    got = {(v["partition"], v["constraint"]): int(v["n_violations"])
           for v in verdicts}
    problems = []
    if len(got) != len(verdicts):
        problems.append("duplicate (partition, constraint) verdicts")
    for key in sorted(set(got) | set(expected)):
        if got.get(key) != expected.get(key):
            problems.append(f"{key}: engine {got.get(key)} "
                            f"!= expected {expected.get(key)}")
    problems += [f"{v['partition']}/{v['constraint']}: passed flag "
                 f"disagrees with count {v['n_violations']}"
                 for v in verdicts
                 if bool(v["passed"]) != (int(v["n_violations"]) == 0)]
    return problems


def sink_problems(sink_root: str, suite_name: str, tmp_dir: str,
                  expected: dict[tuple[str, str], int]) -> list[str]:
    """Read a run's sink back: violation rows per (partition,
    constraint) must equal the expected non-zero counts, and every
    expected partition must appear in the manifest exactly once."""
    con = _connect(tmp_dir)
    try:
        viol = con.execute(f"""
            SELECT partition, c, count(*) FROM (
              SELECT partition,
                     unnest(CAST(json(errors) AS VARCHAR[])) AS c
              FROM read_parquet('{sink_root}/violations/*.parquet'))
            GROUP BY ALL""").fetchall()
        manifest = con.execute(f"""
            SELECT partition, count(*) FROM
              read_parquet('{sink_root}/manifest/*.parquet')
            WHERE suite = '{suite_name}' AND status = 'complete'
            GROUP BY partition""").fetchall()
    finally:
        con.close()
    problems = []
    got = {(p, c): int(n) for p, c, n in viol}
    want = {k: n for k, n in expected.items() if n}
    for key in sorted(set(got) | set(want)):
        if got.get(key) != want.get(key):
            problems.append(f"sink violations {key}: {got.get(key)} "
                            f"!= expected {want.get(key)}")
    parts = {p for p, _ in expected}
    seen = {p: int(n) for p, n in manifest}
    if set(seen) != parts:
        problems.append(f"manifest partitions {len(seen)} != {len(parts)}")
    problems += [f"manifest lists {p} {n} times"
                 for p, n in sorted(seen.items()) if n != 1]
    return problems


def _oracle_rows(sql: str, tables_dir: str, tmp_dir: str):
    con = _connect(tmp_dir)
    try:
        for t in ("documents", "embeddings", "lineitem", "orders",
                  "customer"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{tables_dir}/{t}.parquet')")
        res = con.sql(sql)
        return res.fetchall(), [d[0] for d in res.description]
    finally:
        con.close()


def digest(rows, cols: list[str]) -> tuple[list[str], int, str]:
    """What a driver query's result is compared on: sorted column names,
    row count and the order-insensitive value hash of
    ``tools/check_entry.py``."""
    return sorted(cols), len(rows), value_hash(rows, cols)


def oracle_digest(sql: str, tables_dir: str, tmp_dir: str
                  ) -> tuple[list[str], int, str]:
    """``digest`` of one driver query's DuckDB oracle."""
    return digest(*_oracle_rows(sql, tables_dir, tmp_dir))


def digest_problems(got: tuple, want: tuple) -> list[str]:
    (gcols, gn, gh), (wcols, wn, wh) = got, want
    if gcols != wcols:
        return [f"columns {gcols} != {wcols}"]
    if gn != wn:
        return [f"rows {gn} != {wn}"]
    return [] if gh == wh else ["value hash differs"]
