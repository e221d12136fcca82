"""SQL text renderers: the engine's query compiler.

The reference generates Postgres/ClickHouse/Trino SQL from one
dialect-agnostic ``SqlParts`` IR (SQL_DIALECTS.md:61-260, ~200-300 lines per
dialect). This module is the same architecture over our ``ResolvedPlan`` IR:
``SqlRenderer`` is both the **spark** dialect and the shared skeleton —
clause assembly is common; every spot where the reference's dialect table
(SQL_DIALECTS.md:5-28) differs is a small hook the pg/ch/trino subclasses in
``dialects.py`` override.

The spark dialect is what the engine executes: ``MultiDb.query`` renders
every ``execute``/``dataframe``/``count`` plan to one statement over the
registry's engine-private views (``relations``) and runs it with
``spark.sql(text, args=named_args(params))``. ``executeMode: 'sql-only'``
returns the same text over physical table names. Masking and count mode are
part of the text, so what a caller reads is what runs.

Spark dialect conventions: values are emitted as named markers ``:p0``,
``:p1``, … with ``params[N]`` the value of ``:pN``; identifiers are
backtick-quoted with embedded backticks doubled (injection layer 2,
SECURITY.md:27-45). Bind the markers by name (``named_args``). Positional
``?`` markers are unsafe on Spark 4.1: after a ``BETWEEN`` they can bind to
the wrong values without an error (``p BETWEEN ? AND ? AND k IN (?, ?) AND
p > ?`` returned no rows where the named form returns the right ones).
"""

from __future__ import annotations

from typing import Any, Callable

from .masking import mask_sql
from .plans import (
    ColumnFilter,
    ExistsPlan,
    FilterTree,
    GroupNode,
    HavingFilter,
    ResolvedPlan,
    SelectItem,
    ValueFilter,
)


def quote_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def named_args(params: list[Any]) -> dict[str, Any]:
    """``spark.sql`` ``args`` for spark-dialect text: ``:pN`` binds
    ``params[N]``."""
    return {f"p{i}": v for i, v in enumerate(params)}


class SqlRenderer:
    """Spark dialect + shared clause skeleton for all dialects."""

    dialect = "spark"

    def __init__(
        self,
        catalogs: dict[str, str] | None = None,
        relations: Callable[[str, str], str] | None = None,
    ) -> None:
        self.params: list[Any] = []
        # database id -> catalog qualifier (used by the Trino dialect for
        # P3 catalog qualification, SQL_DIALECTS.md:203-207)
        self.catalogs = catalogs or {}
        # (database id, physical name) -> the relation name the text reads;
        # unset, the text reads the physical name (sql-only output)
        self.relations = relations

    # ------------------------------------------------------------------
    # dialect hooks (spark defaults; overridden in dialects.py)
    # ------------------------------------------------------------------

    def quote(self, name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    def _p(self, value: Any, col_type: str | None = None) -> str:
        """Register one parameter, return its placeholder."""
        self.params.append(value)
        return f":p{len(self.params) - 1}"

    def _table(self, physical: str, database: str) -> str:
        """Quoted table reference (dotted names quoted per segment; the
        Trino dialect prepends the catalog)."""
        if self.relations is not None:
            return self.quote(self.relations(database, physical))
        return ".".join(self.quote(p) for p in physical.split("."))

    def _mask(self, ref: str, fn: str, col_type: str) -> str:
        return mask_sql(ref, fn, col_type)

    def _ne(self, ref: str, value: Any, col_type: str | None) -> str:
        # null-inclusive != (contract C107, CONTRACT_TESTS.md:465)
        return f"{ref} IS DISTINCT FROM {self._p(value, col_type)}"

    def _in(self, ref: str, values: list, negated: bool,
            col_type: str | None) -> str:
        ph = ", ".join(self._p(v, col_type) for v in values)
        kw = "NOT IN" if negated else "IN"
        return f"{ref} {kw} ({ph})"

    def _like(self, ref: str, pattern: str, negated: bool) -> str:
        neg = "NOT " if negated else ""
        return f"{ref} {neg}LIKE {self._p(pattern, 'string')}"

    def _ilike(self, ref: str, pattern: str, negated: bool) -> str:
        neg = "NOT " if negated else ""
        return f"{ref} {neg}ILIKE {self._p(pattern, 'string')}"

    def _starts_ends(self, ref: str, text: str, kind: str,
                     insensitive: bool) -> str:
        """kind: 'starts' | 'ends'; pattern built from auto-escaped text
        (SECURITY.md:83-88)."""
        pat = (escape_like(text) + "%") if kind == "starts" else (
            "%" + escape_like(text))
        if insensitive:
            return self._ilike(ref, pat, False)
        return self._like(ref, pat, False)

    def _between(self, ref: str, lo: Any, hi: Any, negated: bool,
                 col_type: str | None) -> str:
        kw = "NOT BETWEEN" if negated else "BETWEEN"
        return (f"{ref} {kw} {self._p(lo, col_type)} "
                f"AND {self._p(hi, col_type)}")

    def _levenshtein(self, ref: str, text: str, max_distance: int) -> str:
        return (f"levenshtein({ref}, {self._p(text, 'string')}) <= "
                f"{self._p(max_distance, 'int')}")

    def _array_contains(self, ref: str, value: Any, elem_type: str) -> str:
        return f"array_contains({ref}, {self._p(value, elem_type)})"

    def _array_contains_all(self, ref: str, values: list,
                            elem_type: str) -> str:
        ph = ", ".join(self._p(v, elem_type) for v in values)
        return f"size(array_except(array({ph}), {ref})) = 0"

    def _array_contains_any(self, ref: str, values: list,
                            elem_type: str) -> str:
        ph = ", ".join(self._p(v, elem_type) for v in values)
        return f"arrays_overlap({ref}, array({ph}))"

    def _array_empty(self, ref: str, negated: bool) -> str:
        return f"size({ref}) > 0" if negated else f"size({ref}) = 0"

    def _avg(self, col_sql: str) -> str:
        # decimal partial sums are exact and associative, so the result does
        # not depend on partitioning (QUERY.md:173: avg types as decimal);
        # other dialects emit plain AVG
        return (f"CAST(SUM(CAST({col_sql} AS DECIMAL(28,10))) AS DOUBLE)"
                f" / COUNT({col_sql})")

    def _counted_exists(self, ep: ExistsPlan) -> str:
        """The spark default keeps the correlated COUNT(*) comparison; the
        decorrelating dialects (ch/trino) override with a GROUP BY/HAVING
        semi-join form, pg overrides >=/> with a LIMIT short-circuit
        (SQL_DIALECTS.md:20-22, :30). Overrides build their own inner SQL so
        parameters register exactly once, in placeholder order."""
        op = "<>" if ep.count_op == "!=" else ep.count_op
        return (f"(SELECT COUNT(*) {self._exists_inner(ep)}) "
                f"{op} {self._p(ep.count_value, 'int')}")

    # ------------------------------------------------------------------
    # shared clause assembly
    # ------------------------------------------------------------------

    def render(self, plan: ResolvedPlan) -> tuple[str, list[Any]]:
        parts: list[str] = []
        count_distinct = (plan.mode == "count" and plan.distinct
                          and bool(plan.select_items))
        if count_distinct:
            # contract C1713: distinct + explicit columns counts distinct
            # raw value tuples (masking never applies to a count)
            select = "SELECT DISTINCT " + ", ".join(
                self._col(s.table_alias, s.physical)
                + f" AS {self.quote(s.out_name)}" for s in plan.select_items)
        elif plan.mode == "count":
            select = f"SELECT COUNT(*) AS {self.quote('count')}"
        else:
            cols = [self._select_col(s) for s in plan.select_items]
            for a in plan.aggregations:
                if a.physical is None:
                    cols.append(f"COUNT(*) AS {self.quote(a.alias)}")
                elif a.fn == "avg":
                    c = self._col(a.table_alias, a.physical)
                    cols.append(f"{self._avg(c)} AS {self.quote(a.alias)}")
                else:
                    cols.append(
                        f"{a.fn.upper()}({self._col(a.table_alias, a.physical)})"
                        f" AS {self.quote(a.alias)}"
                    )
            distinct = "DISTINCT " if plan.distinct and not plan.aggregations else ""
            select = f"SELECT {distinct}" + ", ".join(cols)
        parts.append(select)
        parts.append(
            f"FROM {self._table(plan.from_physical, plan.from_database)} "
            f"AS {plan.from_alias}"
        )
        for j in plan.joins:
            kw = "INNER JOIN" if j.join_type == "inner" else "LEFT JOIN"
            parts.append(
                f"{kw} {self._table(j.physical_name, j.database)} "
                f"AS {j.alias} ON "
                f"{self._col(j.left_alias, j.left_physical)} = "
                f"{self._col(j.alias, j.right_physical)}"
            )
        if plan.where is not None:
            w = self._tree(plan.where)
            if w:
                parts.append(f"WHERE {w}")
        if plan.mode != "count":
            # GROUP BY renders whenever grouping keys exist — also with NO
            # aggregations, where it de-duplicates the keys (QUERY.md:40-43)
            if plan.group_by:
                seen: set[str] = set()
                gb = []
                for s in plan.group_by:
                    if s.out_name in seen:
                        continue
                    seen.add(s.out_name)
                    gb.append(self._col(s.table_alias, s.physical))
                if gb:
                    parts.append("GROUP BY " + ", ".join(gb))
            elif plan.aggregations:
                pass  # global aggregate
            if plan.having is not None:
                h = self._tree(plan.having)
                if h:
                    parts.append(f"HAVING {h}")
            if plan.order_by:
                obs = []
                # a grouped query orders by a masked key's raw values, as
                # filters do: masking applies to the output values only
                raw = {s.out_name: self._col(s.table_alias, s.physical)
                       for s in plan.select_items
                       if s.masked and plan.aggregations}
                for o in plan.order_by:
                    if o.agg_alias is None:
                        ref = self._col(*o.column_expr.split(".", 1))
                    else:
                        ref = raw.get(o.agg_alias) or self.quote(o.agg_alias)
                    obs.append(f"{ref} {o.direction.upper()}")
                parts.append("ORDER BY " + ", ".join(obs))
            if plan.limit is not None:
                parts.append(f"LIMIT {int(plan.limit)}")
            if plan.offset:
                parts.append(f"OFFSET {int(plan.offset)}")
        sql = "\n".join(parts)
        if count_distinct:
            sql = (f"SELECT COUNT(*) AS {self.quote('count')} FROM (\n{sql}\n)"
                   " AS d")
        return sql, self.params

    def _col(self, alias: str, physical: str) -> str:
        return f"{alias}.{self.quote(physical)}"

    def _select_col(self, s: SelectItem) -> str:
        ref = self._col(s.table_alias, s.physical)
        if s.masked:
            ref = self._mask(ref, s.masking_fn or "full", s.col_type)
        return f"{ref} AS {self.quote(s.out_name)}"

    def _tree(self, node: FilterTree) -> str:
        if isinstance(node, GroupNode):
            parts = [self._tree(c) for c in node.conditions]
            parts = [p for p in parts if p]
            if not parts:
                return ""
            joiner = " AND " if node.logic == "and" else " OR "
            body = parts[0] if len(parts) == 1 else "(" + joiner.join(parts) + ")"
            if node.negate:
                return f"NOT ({parts[0]})" if len(parts) == 1 else f"NOT {body}"
            return body
        if isinstance(node, ExistsPlan):
            return self._exists(node)
        if isinstance(node, ColumnFilter):
            return (
                f"{self._col(node.left_alias, node.left_physical)} "
                f"{'<>' if node.operator == '!=' else node.operator} "
                f"{self._col(node.right_alias, node.right_physical)}"
            )
        if isinstance(node, HavingFilter):
            return self._value(self.quote(node.alias), node.operator,
                               node.value, node.col_type)
        if isinstance(node, ValueFilter):
            return self._value(
                self._col(node.table_alias, node.physical), node.operator,
                node.value, node.col_type,
            )
        raise TypeError(f"unknown node {node!r}")

    def _exists_inner(self, ep: ExistsPlan) -> str:
        """'FROM child AS sN WHERE <correlation> [AND <inner filters>]' —
        the correlated-subquery body shared by EXISTS and the correlated
        counted forms."""
        inner_where = [
            f"{ep.alias}.{self.quote(ep.child_physical)} = "
            f"{ep.outer_alias}.{self.quote(ep.outer_physical)}"
        ]
        if ep.where is not None:
            w = self._tree(ep.where)
            if w:
                inner_where.append(w)
        return (
            f"FROM {self._table(ep.physical_name, ep.database)} "
            f"AS {ep.alias} WHERE {' AND '.join(inner_where)}"
        )

    def _exists(self, ep: ExistsPlan) -> str:
        if ep.count_op is not None:
            return self._counted_exists(ep)
        kw = "NOT EXISTS" if ep.negated else "EXISTS"
        return f"{kw} (SELECT 1 {self._exists_inner(ep)})"

    def _value(self, ref: str, op: str, value: Any,
               col_type: str | None = None) -> str:
        elem_type = (col_type or "string").removesuffix("[]")
        if op == "=":
            return f"{ref} = {self._p(value, col_type)}"
        if op == "!=":
            return self._ne(ref, value, col_type)
        if op in (">", "<", ">=", "<="):
            return f"{ref} {op} {self._p(value, col_type)}"
        if op in ("in", "notIn"):
            return self._in(ref, value, op == "notIn", col_type)
        if op in ("like", "notLike"):
            return self._like(ref, value, op == "notLike")
        if op in ("ilike", "notIlike"):
            return self._ilike(ref, value, op == "notIlike")
        if op in ("contains", "notContains", "icontains", "notIcontains"):
            pat = f"%{escape_like(value)}%"
            body = (
                self._ilike(ref, pat, False)
                if op in ("icontains", "notIcontains")
                else self._like(ref, pat, False)
            )
            return f"NOT ({body})" if op.startswith("not") else body
        if op in ("startsWith", "istartsWith"):
            return self._starts_ends(ref, value, "starts",
                                     op == "istartsWith")
        if op in ("endsWith", "iendsWith"):
            return self._starts_ends(ref, value, "ends", op == "iendsWith")
        if op in ("between", "notBetween"):
            return self._between(ref, value["from"], value["to"],
                                 op == "notBetween", col_type)
        if op == "isNull":
            return f"{ref} IS NULL"
        if op == "isNotNull":
            return f"{ref} IS NOT NULL"
        if op == "levenshteinLte":
            return self._levenshtein(ref, value["text"],
                                     value["maxDistance"])
        if op == "arrayContains":
            return self._array_contains(ref, value, elem_type)
        if op == "arrayContainsAll":
            return self._array_contains_all(ref, value, elem_type)
        if op == "arrayContainsAny":
            return self._array_contains_any(ref, value, elem_type)
        if op == "arrayIsEmpty":
            return self._array_empty(ref, False)
        if op == "arrayIsNotEmpty":
            return self._array_empty(ref, True)
        raise ValueError(f"unknown operator '{op}'")


def escape_like(text: str) -> str:
    """Escape live LIKE wildcards in user text for contains/startsWith/
    endsWith patterns (SECURITY.md:83-88)."""
    return text.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
