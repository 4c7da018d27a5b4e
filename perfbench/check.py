"""Correctness gate: compare each key's Spark result with its registered
DuckDB oracle, using the canonical form of the differential tests
(``tests/conftest.py``: columns sorted by name, values normalised, rows
sorted). Keys registered without an oracle (rows-only) are checked by
schema and row count against the run's first pass instead.
"""

from __future__ import annotations

import importlib.util
import os
import time

import duckdb

_CONFTEST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "conftest.py")


def _load_conftest():
    # Loaded by path: a ``tests`` package installed in site-packages
    # would shadow the repository's namespace package.
    spec = importlib.util.spec_from_file_location("jsmr_tests_conftest", _CONFTEST)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


canon_rows = _load_conftest().canon_rows


class Oracle:
    """DuckDB over the input tables, with one view per table."""

    def __init__(self, sf_dir: str, tables: tuple[str, ...], threads: int) -> None:
        self.con = duckdb.connect(config={"threads": threads})
        for name in tables:
            path = os.path.join(sf_dir, f"{name}.parquet")
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def expected(self, specs: dict, keys: list[str]) -> tuple[dict[str, tuple], float]:
        """Canonical oracle result per key that has an oracle, and the
        seconds DuckDB took for all of them."""
        out, busy = {}, 0.0
        for key in keys:
            sql = specs[key].oracle
            if sql is None:
                continue
            t0 = time.perf_counter()
            cur = self.con.execute(sql)
            rows = cur.fetchall()
            busy += time.perf_counter() - t0
            out[key] = canon_rows([d[0] for d in cur.description], rows)
        return out, busy

    def close(self) -> None:
        self.con.close()


def mismatch(columns: list[str], rows: list, expected: tuple) -> str | None:
    """None when the Spark result equals the canonical oracle result,
    else a one-line description of the first difference."""
    cols, canon = canon_rows(columns, [tuple(r) for r in rows])
    exp_cols, exp_rows = expected
    if cols != exp_cols:
        return f"columns {cols} != oracle {exp_cols}"
    if len(canon) != len(exp_rows):
        return f"{len(canon)} rows != oracle {len(exp_rows)}"
    for i, (got, want) in enumerate(zip(canon, exp_rows)):
        if got != want:
            return f"row {i}: {got!r} != oracle {want!r}"
    return None
