"""Result checks against each query's registered DuckDB oracle.

The comparison is the repository's own correctness gate,
``tests/_compare.py``, loaded from the checkout: exact column-name set,
equal row counts, the same numeric kind per column (int vs float, no
DECIMAL on the engine side), and order-insensitive values after its
normalisation.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

_COMPARE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "_compare.py")


def _load_compare():
    spec = importlib.util.spec_from_file_location("perfbench_compare", _COMPARE)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_compare = _load_compare()


class Oracle:
    """DuckDB over the generated parquet files, one view per table."""

    def __init__(self, data_dir: str, tables: list[str]) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self._expected: dict[str, tuple[list[str], list[tuple]]] = {}

    def expected(self, name: str, sql: str) -> tuple[list[str], list[tuple]]:
        if name not in self._expected:
            cur = self.con.execute(sql)
            cols = [d[0] for d in cur.description]
            self._expected[name] = (cols, _compare._normalize(cols, [tuple(r) for r in cur.fetchall()]))
        return self._expected[name]

    def mismatch(self, name: str, sql: str | None, cols: list[str], rows: list[tuple]) -> str | None:
        """None when the result matches, else a one-line reason. A query
        without an oracle is checked for a non-empty result only."""
        if sql is None:
            return None if rows else "no rows (rows-only check)"
        exp_cols, exp_rows = self.expected(name, sql)
        if sorted(cols) != sorted(exp_cols):
            return f"columns {sorted(cols)} != oracle {sorted(exp_cols)}"
        if len(rows) != len(exp_rows):
            return f"{len(rows)} rows != oracle {len(exp_rows)}"
        try:
            _compare._assert_dtype_kinds_match(name, cols, rows, self.con, sql)
        except AssertionError as e:
            return str(e).splitlines()[0]
        got = _compare._normalize(cols, rows)
        bad = sum(a != b for a, b in zip(got, exp_rows))
        return f"{bad} of {len(got)} rows differ from oracle" if bad else None

    def close(self) -> None:
        self.con.close()
