"""Output checks: medallion results against the generator's expectations,
and query results against digests of their DuckDB oracles.

Query digests use the canonicalization of ``tools/check_correctness.py``
(columns sorted by name, rows sorted over all columns, cells normalized
by dtype), so a digest match is the same verdict that tool gives.
"""

from __future__ import annotations

import hashlib
import math
import os

from tools.check_correctness import canon


def digest(pdf) -> str:
    """Order-insensitive digest of a pandas result: column names + canonical rows."""
    h = hashlib.sha256()
    h.update("\x1e".join(sorted(pdf.columns)).encode())
    for line in canon(pdf):
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest()


def connect(lake_dir: str):
    """A DuckDB connection with one view per parquet table of the lake."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(lake_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(lake_dir, f).replace("'", "''")
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_digests(lake_dir: str, oracles: dict[str, str]) -> dict[str, str]:
    """Digest of each oracle's DuckDB result over the lake's tables."""
    con = connect(lake_dir)
    try:
        return {name: digest(con.sql(sql).df()) for name, sql in oracles.items()}
    finally:
        con.close()


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def gold_problems(rows, expected: dict[tuple[int, int, str], float]) -> list[str]:
    """Compare gold rows (ano, mes, nome_orgao, total_gasto) with the expected
    totals; return one line per difference (empty when gold is right)."""
    got: dict[tuple[int, int, str], float] = {}
    problems = []
    for r in rows:
        key = (int(r["ano"]), int(r["mes"]), r["nome_orgao"])
        if key in got:
            problems.append(f"gold: duplicate group {key}")
        got[key] = float(r["total_gasto"])
    for key in sorted(set(expected) - set(got)):
        problems.append(f"gold: missing group {key}")
    for key in sorted(set(got) - set(expected)):
        problems.append(f"gold: unexpected group {key}")
    for key in sorted(set(got) & set(expected)):
        if not _close(got[key], expected[key]):
            problems.append(f"gold: {key} total {got[key]!r} != expected {expected[key]!r}")
    return problems


def count_problems(layer: str, got: dict, expected: dict) -> list[str]:
    """Compare per-partition row counts of a layer with the expected counts."""
    return [
        f"{layer}: partition {k} has {got.get(k, 0)} rows, expected {expected.get(k, 0)}"
        for k in sorted(set(got) | set(expected))
        if got.get(k, 0) != expected.get(k, 0)
    ]


def same_rows(before, after) -> list[str]:
    """Compare two gold snapshots (as lists of rows) for equality."""
    return gold_problems(after, {
        (int(r["ano"]), int(r["mes"]), r["nome_orgao"]): float(r["total_gasto"]) for r in before
    })
