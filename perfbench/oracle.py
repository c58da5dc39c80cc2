"""Check gate results against their DuckDB oracles.

The comparison is ``tools/check_oracle.py``'s, imported rather than copied:
row count, sorted column names, then the order-insensitive ``to_rows`` value
compare with ``close_enough`` as the float-noise fallback.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

from check_oracle import close_enough, to_rows  # noqa: E402

PASS, MISMATCH, UNCHECKED = "pass", "mismatch", "unchecked"


class Oracle:
    """DuckDB over one data directory. Expected rows are cached per gate:
    the data directory is read only."""

    def __init__(self, data_dir: str, sql: dict[str, str], tables: tuple[str, ...]):
        self._sql = sql
        self._cache: dict[str, tuple[list, list]] = {}
        self._con = duckdb.connect()
        for t in tables:
            self._con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def close(self) -> None:
        self._con.close()

    def expected(self, gate: str) -> tuple[list, list]:
        if gate not in self._cache:
            rel = self._con.sql(self._sql[gate])
            self._cache[gate] = (rel.columns, rel.fetchall())
        return self._cache[gate]

    def check(self, gate: str, df) -> tuple[str, str]:
        """(status, detail) for a gate's result DataFrame. A comparison of
        two empty results proves nothing, so it is UNCHECKED, not PASS."""
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        ocols, orows = self.expected(gate)
        if sorted(cols) != sorted(ocols):
            return MISMATCH, f"columns {sorted(cols)} vs {sorted(ocols)}"
        if len(rows) != len(orows):
            return MISMATCH, f"rows {len(rows)} vs {len(orows)}"
        if not rows:
            return UNCHECKED, "both results empty"
        a, b = to_rows(cols, rows), to_rows(ocols, orows)
        if a != b:
            ok, why = close_enough(a, b)
            if not ok:
                return MISMATCH, why
        return PASS, f"{len(rows)} rows"
