"""Postgres / ClickHouse / Trino SQL dialect renderers.

Faithful re-creations of the reference's per-dialect SQL generation
(SQL_DIALECTS.md:5-28 dialect table, :30 counted-subquery strategies,
:32-57 type mappings, :203-207 Trino catalog qualification), built on the
shared clause skeleton in :mod:`sqlgen`. Each dialect is a thin subclass —
exactly the structure the reference prescribes ("Each engine gets a
``SqlDialect`` implementation", SQL_DIALECTS.md:59, ~200-300 lines each).

These dialects render **text + params only** (``executeMode: 'sql-only'``);
column masking stays meta-only intent in their text, as in the reference.
Execution always happens in Spark — the engine's honest dialect for executed
queries is ``'spark'`` unless a registered database declares a foreign
``engine``, in which case sql-only text targets that engine's syntax so a
caller can hand the SQL to a real Postgres/ClickHouse/Trino.
"""

from __future__ import annotations

from typing import Any

from .plans import ExistsPlan
from .sqlgen import SqlRenderer, escape_like

# SQL_DIALECTS.md:32-41 — Postgres array-cast type map (only in/notIn-able
# types are listed there; date/timestamp added for scalar `= ANY` casts)
_PG_TYPES = {
    "string": "text",
    "int": "integer",
    "decimal": "numeric",
    "uuid": "uuid",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamptz",
}

# SQL_DIALECTS.md:43-55 — ClickHouse typed-parameter map
_CH_TYPES = {
    "string": "String",
    "int": "Int32",
    "decimal": "Decimal",
    "boolean": "Bool",
    "uuid": "UUID",
    "date": "Date",
    "timestamp": "DateTime",
}


def _ch_infer(value: Any) -> str:
    """Runtime-value fallback when no columnType is available
    (SQL_DIALECTS.md:55)."""
    if isinstance(value, bool):
        return "Bool"
    if isinstance(value, int):
        return "Int32"
    if isinstance(value, float):
        return "Float64"
    return "String"


class _TextOnlyRenderer(SqlRenderer):
    """Base of the foreign dialects: their text is handed to another engine,
    so masked columns render raw and the masking intent travels in
    ``meta.columns[].masked``."""

    def _mask(self, ref: str, fn: str, col_type: str) -> str:
        return ref


class PostgresRenderer(_TextOnlyRenderer):
    """Postgres dialect: ``"ident"`` quoting, ``$N`` placeholders, ILIKE,
    array-operator syntax (``= ANY``/``@>``/``&&``), correlated counted
    subqueries with a LIMIT short-circuit for ``>=``/``>``
    (SQL_DIALECTS.md:30)."""

    dialect = "postgres"

    def quote(self, name: str) -> str:
        return '"' + name.replace('"', '""') + '"'

    def _p(self, value: Any, col_type: str | None = None) -> str:
        self.params.append(value)
        return f"${len(self.params)}"

    def _pg_type(self, col_type: str | None) -> str:
        return _PG_TYPES.get((col_type or "string").removesuffix("[]"),
                             "text")

    def _ilike(self, ref: str, pattern: str, negated: bool) -> str:
        neg = "NOT " if negated else ""
        return f"{ref} {neg}ILIKE {self._p(pattern, 'string')}"

    def _in(self, ref: str, values: list, negated: bool,
            col_type: str | None) -> str:
        # one array-typed parameter, not N placeholders
        # (SQL_DIALECTS.md:9-10, :32-41)
        ph = self._p(list(values), col_type)
        cast = f"{ph}::{self._pg_type(col_type)}[]"
        return (f"{ref} <> ALL({cast})" if negated
                else f"{ref} = ANY({cast})")

    def _levenshtein(self, ref: str, text: str, max_distance: int) -> str:
        # requires the fuzzystrmatch extension (README.md:305)
        return (f"levenshtein({ref}, {self._p(text, 'string')}) <= "
                f"{self._p(max_distance, 'int')}")

    def _array_contains(self, ref: str, value: Any, elem_type: str) -> str:
        # scalar-typed cast (SQL_DIALECTS.md:57)
        return (f"{self._p(value, elem_type)}::{self._pg_type(elem_type)} "
                f"= ANY({ref})")

    def _array_contains_all(self, ref: str, values: list,
                            elem_type: str) -> str:
        ph = self._p(list(values), elem_type)
        return f"{ref} @> {ph}::{self._pg_type(elem_type)}[]"

    def _array_contains_any(self, ref: str, values: list,
                            elem_type: str) -> str:
        ph = self._p(list(values), elem_type)
        return f"{ref} && {ph}::{self._pg_type(elem_type)}[]"

    def _array_empty(self, ref: str, negated: bool) -> str:
        return (f"cardinality({ref}) > 0" if negated
                else f"cardinality({ref}) = 0")

    def _avg(self, col_sql: str) -> str:
        return f"AVG({col_sql})"

    def _counted_exists(self, ep: ExistsPlan) -> str:
        # >=/> short-circuit with an inner LIMIT: stop counting at the
        # threshold (LIMIT N for >=, N+1 for the strict >)
        # (SQL_DIALECTS.md:30, :190-192)
        if ep.count_op in (">=", ">"):
            limit = ep.count_value + (1 if ep.count_op == ">" else 0)
            return (
                f"(SELECT COUNT(*) FROM (SELECT 1 {self._exists_inner(ep)} "
                f"LIMIT {int(limit)}) AS {ep.alias}_lim) "
                f"{ep.count_op} {self._p(ep.count_value, 'int')}"
            )
        op = "<>" if ep.count_op == "!=" else ep.count_op
        return (f"(SELECT COUNT(*) {self._exists_inner(ep)}) "
                f"{op} {self._p(ep.count_value, 'int')}")


class ClickHouseRenderer(_TextOnlyRenderer):
    """ClickHouse dialect: backtick quoting, ``{pN:Type}`` named typed
    parameters, function-style string/array operators
    (``ilike()``/``startsWith()``/``has()``/``empty()``), decorrelated
    counted subqueries (SQL_DIALECTS.md:21-22, CROSS_DB_NORMALIZATION.md)."""

    dialect = "clickhouse"

    def _p(self, value: Any, col_type: str | None = None) -> str:
        base = (col_type or "").removesuffix("[]")
        if base == "timestamp":
            # CH's DateTime param type rejects ISO-8601 strings with a
            # trailing 'Z' ("only 19 of 20 bytes was parsed"); the reference
            # wraps timestamp params in parseDateTimeBestEffort over a
            # String param instead (CROSS_DB_NORMALIZATION.md §2, C133)
            self.params.append(value)
            return f"parseDateTimeBestEffort({{p{len(self.params)}:String}})"
        self.params.append(value)
        ch_type = _CH_TYPES.get(base) or _ch_infer(value)
        return f"{{p{len(self.params)}:{ch_type}}}"

    def _p_typed(self, value: Any, ch_type: str) -> str:
        """Hardcoded-type contexts: UInt64 counted-subquery thresholds
        (via :meth:`_count_p`), UInt32 levenshtein distances
        (SQL_DIALECTS.md:55)."""
        self.params.append(value)
        return f"{{p{len(self.params)}:{ch_type}}}"

    def _count_p(self, value: int) -> str:
        # counted-subquery comparison values are hardcoded UInt64
        # (SQL_DIALECTS.md:20-22, :55)
        return self._p_typed(value, "UInt64")

    def _ne(self, ref: str, value: Any, col_type: str | None) -> str:
        # ClickHouse has no IS DISTINCT FROM; expand the null-inclusive !=
        return (f"({ref} <> {self._p(value, col_type)} "
                f"OR {ref} IS NULL)")

    def _in(self, ref: str, values: list, negated: bool,
            col_type: str | None) -> str:
        ph = ", ".join(self._p(v, col_type) for v in values)
        kw = "NOT IN" if negated else "IN"
        return f"{ref} {kw} tuple({ph})"

    def _ilike(self, ref: str, pattern: str, negated: bool) -> str:
        body = f"ilike({ref}, {self._p(pattern, 'string')})"
        return f"NOT {body}" if negated else body

    def _starts_ends(self, ref: str, text: str, kind: str,
                     insensitive: bool) -> str:
        if insensitive:
            # ilike with an escaped pattern (SQL_DIALECTS.md:15)
            pat = (escape_like(text) + "%") if kind == "starts" else (
                "%" + escape_like(text))
            return self._ilike(ref, pat, False)
        # native startsWith/endsWith take the PLAIN text, no pattern
        # escaping needed (SQL_DIALECTS.md:14)
        fn = "startsWith" if kind == "starts" else "endsWith"
        return f"{fn}({ref}, {self._p(text, 'string')})"

    def _between(self, ref: str, lo: Any, hi: Any, negated: bool,
                 col_type: str | None) -> str:
        body = (f"{ref} BETWEEN {self._p(lo, col_type)} "
                f"AND {self._p(hi, col_type)}")
        return f"NOT ({body})" if negated else body

    def _levenshtein(self, ref: str, text: str, max_distance: int) -> str:
        return (f"editDistance({ref}, {self._p(text, 'string')}) <= "
                f"{self._p_typed(max_distance, 'UInt32')}")

    def _array_contains(self, ref: str, value: Any, elem_type: str) -> str:
        return f"has({ref}, {self._p(value, elem_type)})"

    def _array_contains_all(self, ref: str, values: list,
                            elem_type: str) -> str:
        ph = ", ".join(self._p(v, elem_type) for v in values)
        return f"hasAll({ref}, [{ph}])"

    def _array_contains_any(self, ref: str, values: list,
                            elem_type: str) -> str:
        ph = ", ".join(self._p(v, elem_type) for v in values)
        return f"hasAny({ref}, [{ph}])"

    def _array_empty(self, ref: str, negated: bool) -> str:
        return f"notEmpty({ref})" if negated else f"empty({ref})"

    def _avg(self, col_sql: str) -> str:
        return f"AVG({col_sql})"

    def _counted_exists(self, ep: ExistsPlan) -> str:
        return _decorrelated_counted(self, ep)


class TrinoRenderer(_TextOnlyRenderer):
    """Trino dialect: ``"ident"`` quoting, ``?`` placeholders with inline
    expansion for IN lists, ``lower() LIKE lower()`` case-folding, ARRAY[]
    constructors, decorrelated counted subqueries, and catalog-qualified
    table names for federation (SQL_DIALECTS.md:203-207)."""

    dialect = "trino"

    def quote(self, name: str) -> str:
        return '"' + name.replace('"', '""') + '"'

    def _p(self, value: Any, col_type: str | None = None) -> str:
        self.params.append(value)
        ph = "?"
        if (col_type or "").removesuffix("[]") == "timestamp":
            # the reference's Trino form for timestamp params
            # (CROSS_DB_NORMALIZATION.md §2, C133 note): an untyped ? with
            # a string literal doesn't coerce to TIMESTAMP on Trino
            return f"CAST({ph} AS TIMESTAMP)"
        return ph

    def _table(self, physical: str, database: str) -> str:
        qualified = ".".join(self.quote(p) for p in physical.split("."))
        catalog = self.catalogs.get(database)
        if catalog:
            return f"{self.quote(catalog)}.{qualified}"
        return qualified

    def _ilike(self, ref: str, pattern: str, negated: bool) -> str:
        body = f"lower({ref}) LIKE lower({self._p(pattern, 'string')})"
        return f"NOT ({body})" if negated else body

    def _levenshtein(self, ref: str, text: str, max_distance: int) -> str:
        return (f"levenshtein_distance({ref}, {self._p(text, 'string')}) "
                f"<= {self._p(max_distance, 'int')}")

    def _array_contains(self, ref: str, value: Any, elem_type: str) -> str:
        return f"contains({ref}, {self._p(value, elem_type)})"

    def _array_contains_all(self, ref: str, values: list,
                            elem_type: str) -> str:
        ph = ", ".join(self._p(v, elem_type) for v in values)
        return f"cardinality(array_except(ARRAY[{ph}], {ref})) = 0"

    def _array_contains_any(self, ref: str, values: list,
                            elem_type: str) -> str:
        ph = ", ".join(self._p(v, elem_type) for v in values)
        return f"arrays_overlap({ref}, ARRAY[{ph}])"

    def _array_empty(self, ref: str, negated: bool) -> str:
        return (f"cardinality({ref}) > 0" if negated
                else f"cardinality({ref}) = 0")

    def _avg(self, col_sql: str) -> str:
        return f"AVG({col_sql})"

    def _counted_exists(self, ep: ExistsPlan) -> str:
        return _decorrelated_counted(self, ep)


def _decorrelated_counted(r: SqlRenderer, ep: ExistsPlan) -> str:
    """Shared ClickHouse/Trino counted-subquery strategy
    (SQL_DIALECTS.md:20-22, :30; CROSS_DB_NORMALIZATION.md:14-44):

    - ``>=`` / ``>``  → ``outer IN (SELECT fk ... GROUP BY fk
      HAVING COUNT(*) <op> N)`` — a semi-join, no correlated subselect.
    - ``<`` / ``<=``  → ``outer NOT IN (SELECT fk ... HAVING COUNT(*)
      <flipped-op> N)`` — the inversion keeps parents with ZERO children
      (which a plain inner-join COUNT would drop).
    - ``=`` / ``!=``  → exact count needed; stays correlated on all
      dialects.

    The subquery always filters ``fk IS NOT NULL``: a NULL fk never
    correlates in the COUNT form, but without the guard a NULL entering a
    ``NOT IN`` list makes the whole predicate return zero rows on
    ClickHouse/Trino — semantics-preserving for the ``IN`` form too.
    """
    count_p = getattr(r, "_count_p", None) or (
        lambda v: r._p(v, "int"))
    if ep.count_op in ("=", "!="):
        op = "<>" if ep.count_op == "!=" else "="
        return (f"(SELECT COUNT(*) {r._exists_inner(ep)}) "
                f"{op} {count_p(ep.count_value)}")
    outer_ref = f"{ep.outer_alias}.{r.quote(ep.outer_physical)}"
    child_ref = f"{ep.alias}.{r.quote(ep.child_physical)}"
    # NOT-IN inversion: count < N ⟺ NOT(count >= N); count <= N ⟺
    # NOT(count > N) — same threshold N, flipped HAVING operator
    having_op = {">=": ">=", ">": ">", "<": ">=", "<=": ">"}[ep.count_op]
    negated = ep.count_op in ("<", "<=")
    inner_where = f" WHERE {child_ref} IS NOT NULL"
    if ep.where is not None:
        w = r._tree(ep.where)
        if w:
            inner_where += f" AND ({w})"
    sub = (
        f"SELECT {child_ref} "
        f"FROM {r._table(ep.physical_name, ep.database)} AS {ep.alias}"
        f"{inner_where} GROUP BY {child_ref} "
        f"HAVING COUNT(*) {having_op} {count_p(ep.count_value)}"
    )
    kw = "NOT IN" if negated else "IN"
    return f"{outer_ref} {kw} ({sub})"


DIALECTS: dict[str, type[SqlRenderer]] = {
    "spark": SqlRenderer,
    "postgres": PostgresRenderer,
    "clickhouse": ClickHouseRenderer,
    "trino": TrinoRenderer,
}


def renderer_for(dialect: str | None,
                 catalogs: dict[str, str] | None = None) -> SqlRenderer:
    cls = DIALECTS.get(dialect or "spark", SqlRenderer)
    return cls(catalogs=catalogs)
