"""Correctness gates: a benchmark op that returns a wrong answer is a
failed op, however fast it ran.

Query results are compared with the query's registered DuckDB oracle SQL
over the same Parquet files by ``tests/oracle_harness.py``, the comparison
the repository's oracle tests use. Queries without an oracle must give the
same row count and row hash every time they run; the hash is taken over
that harness's canonical row form.
"""

from __future__ import annotations

import hashlib
import os
import sys
from types import SimpleNamespace

sys.path.append(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from oracle_harness import TABLES, compare, duckdb_connection, normalize  # noqa: E402

__all__ = ["TABLES", "check", "digest", "duckdb_connection"]


def digest(rows: list[tuple], columns: list[str]) -> tuple[int, str]:
    """(row count, hash) of a result, independent of row and column order."""
    cols = [c.lower() for c in columns]
    h = hashlib.sha256("|".join(sorted(cols)).encode())
    for r in normalize(rows, cols):
        h.update("\x1f".join(r).encode() + b"\x1e")
    return len(rows), h.hexdigest()


def check(rows: list[tuple], columns: list[str], con, sql: str) -> str | None:
    """None when a collected result equals the oracle's, else what differs."""
    result = SimpleNamespace(columns=columns, collect=lambda: rows)
    try:
        compare(result, con, sql)
    except AssertionError as e:
        return str(e)
    return None
