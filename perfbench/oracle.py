"""Independent answers: each definition's and operator row's
``oracle_sql()`` twin run on DuckDB over the same parquet files, and an
order-insensitive, tolerance-aware comparison with what the engine
returned."""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

import duckdb

from datagen import TABLES


class Oracle:
    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")

    def answer(self, sql: str) -> "Answer":
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        numeric = {d[0] for d in cur.description if d[1] == "NUMBER"}
        return Answer(cols, numeric, cur.fetchall())


_NULL_NUM = -math.inf  # sorts NULLs first in a numeric column
_NULL_STR = "\x00NULL"


def _num(v):
    # served avg-as-decimal values arrive as strings
    if v is None:
        return _NULL_NUM
    f = float(v)
    return math.inf if math.isnan(f) else f


def _other(v):
    if v is None:
        return _NULL_STR
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_other(x) for x in v)
    if isinstance(v, (float, Decimal)):
        return _num(v)
    return v


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_close, a, b))
    return a == b


def _rounded(row: tuple) -> tuple:
    return tuple(repr(round(v, 6) if isinstance(v, float) else v)
                 for v in row)


class Answer:
    def __init__(self, cols: list[str], numeric: set[str], rows) -> None:
        self.cols = sorted(cols)
        self.numeric = numeric
        self.rows = self._canon([cols.index(c) for c in self.cols], rows)

    def _canon(self, idx: list[int], rows) -> list[tuple]:
        """Rows with columns in name order, values made comparable across
        engines and transports, sorted."""
        columns = [list(map(_num if c in self.numeric else _other,
                            (r[i] for r in rows)))
                   for i, c in zip(idx, self.cols)]
        out = list(zip(*columns)) if columns else [() for _ in rows]
        try:
            out.sort()
        except TypeError:  # mixed types within a column
            out.sort(key=_rounded)
        return out

    def mismatch(self, cols: list[str], rows) -> str | None:
        """None when ``rows`` (tuples in ``cols`` order) equal this answer
        up to row order and float rounding, else a short reason."""
        if sorted(cols) != self.cols:
            return f"columns {sorted(cols)} != oracle {self.cols}"
        try:
            got = self._canon([cols.index(c) for c in self.cols], rows)
        except (TypeError, ValueError) as exc:
            return f"value: {exc}"[:300]
        if len(got) != len(self.rows):
            return f"{len(got)} rows != oracle {len(self.rows)}"
        if got == self.rows:
            return None
        want = self.rows
        if not all(map(_close, got, want)):
            # float noise can reorder rows: realign on rounded values
            got, want = sorted(got, key=_rounded), sorted(want, key=_rounded)
        for i, (a, b) in enumerate(zip(got, want)):
            if not _close(a, b):
                return f"row {i}: {a!r} != oracle {b!r}"[:300]
        return None

    def mismatch_dicts(self, rows: list[dict]) -> str | None:
        cols = list(rows[0]) if rows else list(self.cols)
        return self.mismatch(cols, [tuple(r[c] for c in cols) for r in rows])
