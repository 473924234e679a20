"""Query correctness: the engine's Arrow result against the query's
DuckDB oracle over the same Parquet.

Values are normalized the way the repository's correctness gate does it
(floats to 9 significant digits, NaN as a token, temporal values as ISO
strings, everything else ``str``), columns are compared by sorted name,
and rows order-insensitively. The oracle's canonical digest depends only
on the SQL and the fixture, so it is cached on disk and paid once per
checkout.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        # Arrow carries the session zone (UTC); the oracle's values are naive
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def digest(cols: list[str], rows) -> tuple[int, list[str], str]:
    """(row count, sorted lower-case column names, canonical value hash)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    canon.sort(key=lambda t: tuple("" if x is None else x for x in t))
    h = hashlib.sha256(repr(canon).encode()).hexdigest()
    return len(canon), sorted(c.lower() for c in cols), h


def arrow_digest(table) -> tuple[int, list[str], str]:
    cols = table.column_names
    data = [table.column(i).to_pylist() for i in range(len(cols))]
    return digest(cols, list(zip(*data)) if data else [])


class Oracle:
    """DuckDB oracle over one fixture directory, with an on-disk cache."""

    def __init__(self, sf_dir: str, tables: tuple[str, ...], cache_dir: str):
        self.sf_dir = sf_dir
        self.tables = tables
        self.cache_dir = cache_dir
        self._con = None

    def _connect(self):
        if self._con is None:
            import duckdb
            self._con = duckdb.connect()
            self._con.execute("SET threads TO 2")
            for t in self.tables:
                p = f"{self.sf_dir}/{t}.parquet"
                if os.path.exists(p):
                    self._con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return self._con

    def expected(self, name: str, sql: str) -> tuple[int, list[str], str]:
        key = hashlib.sha256(f"{self.sf_dir}\n{sql}".encode()).hexdigest()[:16]
        path = os.path.join(self.cache_dir, f"{name}-{key}.json")
        try:
            with open(path) as fh:
                n, cols, h = json.load(fh)
            return n, cols, h
        except (OSError, ValueError):
            pass
        res = self._connect().sql(sql)
        rows = res.fetchall()
        out = digest([d[0] for d in res.description], rows)
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(out, fh)
        os.replace(tmp, path)
        return out

    def check(self, name: str, sql: str | None, table) -> str | None:
        """None when the result matches; otherwise what differs. A query
        without an oracle passes when it produced a result."""
        if sql is None:
            return None
        got = arrow_digest(table)
        want = self.expected(name, sql)
        if got[0] != want[0]:
            return f"rowcount engine={got[0]} oracle={want[0]}"
        if got[1] != want[1]:
            return f"columns engine={got[1]} oracle={want[1]}"
        if got[2] != want[2]:
            return "values differ"
        return None

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
