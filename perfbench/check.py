"""Output checks, run outside the timed windows.

Query results are compared with the DuckDB oracle SQL of
``__spark_entry__.oracle_sql()``, run on the same parquet, as row multisets
after sorting columns by name and normalising values, by the same rules as
``tests/test_oracle_parity.py`` (floats rounded to 6 places, NaN as a
token, timestamps as ISO text cut to microseconds).
"""

from __future__ import annotations

import math
import os

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def _normalize(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    return v


def multiset(columns: list[str], rows) -> tuple[list, list[str]]:
    """(sorted normalised rows, lower-cased column names sorted by name)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def key(t):
        return tuple((v is None, str(type(v)), 0 if v is None else v) for v in t)

    norm = sorted((tuple(_normalize(r[i]) for i in order) for r in rows), key=key)
    return norm, [columns[i].lower() for i in order]


class DuckOracle:
    """Runs oracle SQL over the parquet tables in ``data_dir``."""

    def __init__(self, data_dir: str, sql: dict[str, str]) -> None:
        import duckdb

        self.sql = sql
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self._memo: dict[str, tuple[list, list[str]]] = {}

    def expected(self, name: str) -> tuple[list, list[str]]:
        if name not in self._memo:
            res = self.con.execute(self.sql[name])
            self._memo[name] = multiset([d[0] for d in res.description],
                                        res.fetchall())
        return self._memo[name]

    def matches(self, name: str, columns: list[str], rows) -> bool:
        return multiset(columns, rows) == self.expected(name)

    def close(self) -> None:
        self.con.close()
