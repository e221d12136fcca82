"""Name resolution: validated QueryDefinition (apiNames) → ResolvedPlan
(physical names, aliases, filter trees).

Mirrors the reference's resolver stage (README.md:684-685): aliases ``t0`` for
the from table, ``t<N>`` for joins, ``s<N>`` for EXISTS subqueries sharing one
counter (SQL_DIALECTS.md:194-196). Assumes the definition already passed
validation — no error handling here.
"""

from __future__ import annotations

from typing import Any

from . import coltypes
from .access import EffectiveAccess
from .metadata import MetadataIndex, TableMeta
from .plans import (
    AggItem,
    ColumnFilter,
    ExistsPlan,
    FilterTree,
    GroupNode,
    HavingFilter,
    JoinItem,
    OrderItem,
    ResolvedPlan,
    SelectItem,
    ValueFilter,
)
from .query_validation import agg_result_type


class TableRoute:
    """Where a table's rows actually live for this query — original source or
    a replica substituted by the planner (README.md:253-255)."""

    def __init__(self, database: str, physical_name: str, source: str = "original"):
        self.database = database
        self.physical_name = physical_name
        self.source = source


class Resolver:
    def __init__(
        self,
        index: MetadataIndex,
        access: EffectiveAccess,
        routes: dict[str, TableRoute] | None = None,
    ):
        self.index = index
        self.access = access
        self.routes = routes or {}
        self._counter = 0

    def _route(self, table: TableMeta) -> TableRoute:
        r = self.routes.get(table.id)
        if r is None:
            return TableRoute(table.database, table.physical_name)
        return r

    def _next_alias(self, prefix: str) -> str:
        alias = f"{prefix}{self._counter}"
        self._counter += 1
        return alias

    # -- entry ----------------------------------------------------------------

    def resolve(self, defn: dict[str, Any]) -> ResolvedPlan:
        from_table = self.index.table(defn["from"])
        assert from_table is not None
        route = self._route(from_table)
        plan = ResolvedPlan(
            from_table_id=from_table.id,
            from_api_name=from_table.api_name,
            from_database=route.database,
            from_physical=route.physical_name,
            from_alias=self._next_alias("t"),
            mode=defn.get("executeMode", "execute"),
            distinct=bool(defn.get("distinct", False)),
            limit=defn.get("limit"),
            offset=defn.get("offset"),
        )

        # alias map: table apiName → (alias, TableMeta)
        aliases: dict[str, tuple[str, TableMeta]] = {
            from_table.api_name: (plan.from_alias, from_table)
        }

        # joins (relation-driven ON, transitive resolution — QUERY.md:50-53)
        for join in defn.get("joins") or []:
            jt = self.index.table(join["table"])
            assert jt is not None
            found = self.index.find_relation_to_any(
                jt.id, [t.id for _, t in aliases.values()]
            )
            assert found is not None
            edge = found[0]
            # which side of the edge is the new table?
            if edge.fk_table == jt.id:
                right_col = self.index.column(jt.id, edge.fk_column)
                other_id, other_col_name = edge.pk_table, edge.pk_column
            else:
                right_col = self.index.column(jt.id, edge.pk_column)
                other_id, other_col_name = edge.fk_table, edge.fk_column
            other_alias = next(
                a for a, t in aliases.values() if t.id == other_id
            )
            other_col = self.index.column(other_id, other_col_name)
            assert right_col is not None and other_col is not None
            jroute = self._route(jt)
            alias = self._next_alias("t")
            plan.joins.append(
                JoinItem(
                    alias=alias,
                    table_id=jt.id,
                    api_name=jt.api_name,
                    database=jroute.database,
                    physical_name=jroute.physical_name,
                    join_type=join.get("type", "left"),
                    left_alias=other_alias,
                    left_physical=other_col.physical_name,
                    right_physical=right_col.physical_name,
                )
            )
            aliases[jt.api_name] = (alias, jt)

        # WHERE: top-level filters (implicit AND) + join-scoped filters
        # (placed in WHERE, not ON — QUERY.md:57-60) + byIds shortcut
        conditions: list[FilterTree] = []
        by_ids = defn.get("byIds")
        if by_ids:
            pk = self.index.column(from_table.id, from_table.primary_key[0])
            assert pk is not None
            conditions.append(
                ValueFilter(
                    table_alias=plan.from_alias,
                    physical=pk.physical_name,
                    col_type=pk.type,
                    operator="in",
                    value=list(by_ids),
                )
            )
        for f in defn.get("filters") or []:
            conditions.append(self._condition(f, from_table, aliases))
        for join in defn.get("joins") or []:
            jt = self.index.table(join["table"])
            assert jt is not None
            for f in join.get("filters") or []:
                conditions.append(self._condition(f, jt, aliases))
        if conditions:
            plan.where = GroupNode("and", conditions)

        # aggregations
        aggregations = defn.get("aggregations") or []
        group_by = defn.get("groupBy") or []

        # selected regular columns + grouping keys (grouping may use
        # unselected columns — rule 7 only requires selected ⊆ grouped)
        select_items, group_items = self._select_and_group(
            defn, from_table, aliases, aggregations, group_by
        )
        plan.select_items = select_items

        if aggregations or group_by:
            plan.group_by = group_items
            for agg in aggregations:
                fn = agg["fn"]
                if agg.get("column") == "*":
                    plan.aggregations.append(
                        AggItem(
                            fn="count", table_alias=None, physical=None,
                            alias=agg["alias"], result_type="int",
                            nullable=False, from_table_api=from_table.api_name,
                        )
                    )
                    continue
                at = from_table
                if agg.get("table") is not None:
                    at = self.index.table(agg["table"])  # type: ignore[assignment]
                alias_name, _ = aliases[at.api_name]
                col = self.index.column(at.id, agg["column"])
                assert col is not None
                plan.aggregations.append(
                    AggItem(
                        fn=fn,
                        table_alias=alias_name,
                        physical=col.physical_name,
                        alias=agg["alias"],
                        result_type=agg_result_type(fn, col.type),
                        nullable=fn != "count",
                        from_table_api=at.api_name,
                    )
                )

        # having
        having = defn.get("having") or []
        if having:
            agg_types = {a.alias: a.result_type for a in plan.aggregations}
            plan.having = GroupNode(
                "and", [self._having(h, agg_types) for h in having]
            )

        # orderBy
        out_by_col = {
            (s.table_alias, s.api_name): s.out_name
            for s in select_items + group_items
        }
        agg_aliases = {a.alias for a in plan.aggregations}
        for o in defn.get("orderBy") or []:
            col_name = o["column"]
            direction = o.get("direction", "asc")
            if o.get("table") is None and col_name in agg_aliases:
                plan.order_by.append(
                    OrderItem(column_expr=None, agg_alias=col_name,
                              direction=direction)
                )
                continue
            ot = from_table
            if o.get("table") is not None:
                ot = self.index.table(o["table"])  # type: ignore[assignment]
            alias_name, _ = aliases[ot.api_name]
            col = self.index.column(ot.id, col_name)
            assert col is not None
            out = out_by_col.get((alias_name, col.api_name))
            if out is not None and (aggregations or plan.distinct):
                # aggregated/distinct frames only expose output columns
                plan.order_by.append(
                    OrderItem(column_expr=None, agg_alias=out, direction=direction)
                )
            else:
                plan.order_by.append(
                    OrderItem(
                        column_expr=f"{alias_name}.{col.physical_name}",
                        agg_alias=None,
                        direction=direction,
                    )
                )
        return plan

    # -- select list ---------------------------------------------------------

    def _select_and_group(
        self,
        defn: dict[str, Any],
        from_table: TableMeta,
        aliases: dict[str, tuple[str, TableMeta]],
        aggregations: list[dict[str, Any]],
        group_by: list[dict[str, Any]],
    ) -> tuple[list[SelectItem], list[SelectItem]]:
        """Ordered select list + grouping keys, with collision-qualified output
        names shared between them (README.md:522, C206: BOTH colliding sides
        get qualified).

        Per-table selection semantics (QUERY.md:10, README.md:272): an explicit
        ``columns`` list wins; ``undefined`` means all role-allowed columns,
        narrowed to that table's groupBy columns when aggregations are present.
        """
        group_picked: list[tuple[str, TableMeta, str]] = []
        for g in group_by:
            gt = from_table
            if g.get("table") is not None:
                gt = self.index.table(g["table"])  # type: ignore[assignment]
            group_picked.append((aliases[gt.api_name][0], gt, g["column"]))

        def default_cols(t: TableMeta, alias: str) -> list[str]:
            if aggregations or group_by:
                return [c for a, gt, c in group_picked if a == alias]
            return self.access.allowed_columns(
                t.id, [c.api_name for c in t.columns]
            )

        picked: list[tuple[str, TableMeta, str]] = []
        from_alias = aliases[from_table.api_name][0]
        explicit = defn.get("columns")
        for c in explicit if explicit is not None else default_cols(
            from_table, from_alias
        ):
            picked.append((from_alias, from_table, c))
        for j in defn.get("joins") or []:
            jt = self.index.table(j["table"])
            assert jt is not None
            jalias = aliases[jt.api_name][0]
            jcols = j.get("columns")
            for c in jcols if jcols is not None else default_cols(jt, jalias):
                picked.append((jalias, jt, c))

        # collision qualification over the union of selected + grouped names:
        # a col apiName used by more than one table gets table-qualified
        tables_per_name: dict[str, set[str]] = {}
        for _, t, c in picked + group_picked:
            tables_per_name.setdefault(c, set()).add(t.api_name)

        def item(alias: str, t: TableMeta, c: str) -> SelectItem:
            col = self.index.column(t.id, c)
            assert col is not None
            out = f"{t.api_name}.{c}" if len(tables_per_name[c]) > 1 else c
            masked = self.access.is_masked(t.id, c)
            return SelectItem(
                out_name=out,
                table_alias=alias,
                physical=col.physical_name,
                api_name=c,
                from_table_api=t.api_name,
                col_type=col.type,
                nullable=col.nullable,
                masked=masked,
                masking_fn=(col.masking_fn or "full") if masked else None,
            )

        return (
            [item(*p) for p in picked],
            [item(*p) for p in group_picked],
        )

    # -- filter trees ----------------------------------------------------------

    def _condition(
        self,
        f: dict[str, Any],
        default_table: TableMeta,
        aliases: dict[str, tuple[str, TableMeta]],
    ) -> FilterTree:
        if "logic" in f:
            return GroupNode(
                f["logic"],
                [
                    self._condition(c, default_table, aliases)
                    for c in f["conditions"]
                ],
                negate=bool(f.get("not", False)),
            )
        if "exists" in f or ("table" in f and "column" not in f):
            return self._exists(f, default_table, aliases)
        if "refColumn" in f:
            lt = default_table
            if f.get("table") is not None:
                lt = self.index.table(f["table"])  # type: ignore[assignment]
            rt = default_table
            if f.get("refTable") is not None:
                rt = self.index.table(f["refTable"])  # type: ignore[assignment]
            lcol = self.index.column(lt.id, f["column"])
            rcol = self.index.column(rt.id, f["refColumn"])
            assert lcol is not None and rcol is not None
            return ColumnFilter(
                left_alias=aliases[lt.api_name][0],
                left_physical=lcol.physical_name,
                operator=f["operator"],
                right_alias=aliases[rt.api_name][0],
                right_physical=rcol.physical_name,
            )
        ft = default_table
        if f.get("table") is not None:
            ft = self.index.table(f["table"])  # type: ignore[assignment]
        col = self.index.column(ft.id, f["column"])
        assert col is not None
        value = f.get("value")
        # canonicalize typed literals (ISO strings → date/datetime, etc.)
        op = f["operator"]
        etype = coltypes.elem_type(col.type)
        if op in ("in", "notIn", "arrayContainsAll", "arrayContainsAny"):
            value = [coltypes.to_python(v, etype) for v in value]
        elif op in ("between", "notBetween"):
            value = {
                "from": coltypes.to_python(value["from"], col.type),
                "to": coltypes.to_python(value["to"], col.type),
            }
        elif op == "arrayContains":
            value = coltypes.to_python(value, etype)
        elif op not in ("isNull", "isNotNull", "arrayIsEmpty", "arrayIsNotEmpty",
                        "levenshteinLte"):
            value = coltypes.to_python(value, col.type)
        return ValueFilter(
            table_alias=aliases[ft.api_name][0],
            physical=col.physical_name,
            col_type=col.type,
            operator=op,
            value=value,
        )

    def _exists(
        self,
        f: dict[str, Any],
        default_table: TableMeta,
        aliases: dict[str, tuple[str, TableMeta]],
    ) -> ExistsPlan:
        et = self.index.table(f["table"])
        assert et is not None
        found = self.index.find_relation_to_any(
            et.id, [t.id for _, t in aliases.values()]
        )
        assert found is not None
        edge = found[0]
        # locate the outer side of the correlation
        if edge.fk_table == et.id:
            child_col_name, outer_table_id, outer_col_name = (
                edge.fk_column, edge.pk_table, edge.pk_column,
            )
            child_is_fk_side = True
        else:
            child_col_name, outer_table_id, outer_col_name = (
                edge.pk_column, edge.fk_table, edge.fk_column,
            )
            child_is_fk_side = False
        outer_alias = next(a for a, t in aliases.values() if t.id == outer_table_id)
        outer_col = self.index.column(outer_table_id, outer_col_name)
        child_col = self.index.column(et.id, child_col_name)
        assert outer_col is not None and child_col is not None

        alias = self._next_alias("s")
        route = self._route(et)
        # inner filters: default table = the EXISTS table; nested EXISTS
        # resolve against it too
        inner_aliases = {et.api_name: (alias, et)}
        inner_conditions = [
            self._condition(c, et, inner_aliases) for c in f.get("filters") or []
        ]
        count = f.get("count")
        return ExistsPlan(
            alias=alias,
            table_id=et.id,
            database=route.database,
            physical_name=route.physical_name,
            outer_alias=outer_alias,
            outer_physical=outer_col.physical_name,
            child_physical=child_col.physical_name,
            child_is_fk_side=child_is_fk_side,
            where=GroupNode("and", inner_conditions) if inner_conditions else None,
            negated=not f.get("exists", True) and count is None,
            count_op=count["operator"] if count else None,
            count_value=count["value"] if count else None,
        )

    # -- having -----------------------------------------------------------------

    def _having(
        self, h: dict[str, Any], agg_types: dict[str, str]
    ) -> FilterTree:
        if "logic" in h:
            return GroupNode(
                h["logic"],
                [self._having(c, agg_types) for c in h["conditions"]],
                negate=bool(h.get("not", False)),
            )
        alias = h["column"]
        rtype = agg_types[alias]
        value = h.get("value")
        op = h["operator"]
        if op in ("in", "notIn"):
            value = [coltypes.to_python(v, rtype) for v in value]
        elif op in ("between", "notBetween"):
            value = {
                "from": coltypes.to_python(value["from"], rtype),
                "to": coltypes.to_python(value["to"], rtype),
            }
        elif op not in ("isNull", "isNotNull"):
            value = coltypes.to_python(value, rtype)
        return HavingFilter(alias=alias, col_type=rtype, operator=op, value=value)
