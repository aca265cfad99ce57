"""DuckDB oracle checks for registry queries.

Normalisation (order-insensitive multiset of stringified rows, columns
sorted by name) is the repository's own, imported from
``tools/check_oracle.py``. Checks run serially in the benchmark's
process, after the timed pass.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import duckdb

from perfbench.inputs import TABLES


def load_check_oracle(root: str):
    """Import tools/check_oracle.py from the checkout at ``root``; the
    module edits sys.path on import, which is undone here."""
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


class Oracle:
    """Expected results of oracle-backed queries over one input copy;
    each oracle runs once and is compared against every pass."""

    def __init__(self, root: str, sf_dir: str, oracle_sql: dict[str, str]):
        self._norm = load_check_oracle(root)
        self._sql = oracle_sql
        self._con = duckdb.connect()
        for t in TABLES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
            )
        self._expected: dict[str, tuple] = {}

    def expected(self, name: str):
        if name not in self._expected:
            res = self._con.execute(self._sql[name])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            self._expected[name] = (
                sorted(cols),
                len(rows),
                self._norm.rows_to_multiset(cols, rows),
            )
        return self._expected[name]

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when the Spark rows match the oracle, else the problem."""
        dcols, dn, dset = self.expected(name)
        if sorted(cols) != dcols:
            return f"columns spark={sorted(cols)} oracle={dcols}"
        if len(rows) != dn:
            return f"rowcount spark={len(rows)} oracle={dn}"
        sset = self._norm.rows_to_multiset(cols, [tuple(r) for r in rows])
        if sset != dset:
            return f"values differ, e.g. spark-only {list((sset - dset).items())[:2]}"
        return None

    def close(self) -> None:
        self._con.close()
