"""Resolved-plan IR — the analog of the reference's ``SqlParts``
(SQL_DIALECTS.md:93-247): physical names only, dialect-agnostic filter trees.

``sqlgen``/``dialects`` render it to SQL text: the spark dialect is what the
engine executes, the others are ``sql-only`` output for foreign engines.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Literal, Union


@dataclass
class ValueFilter:
    """column <op> literal (QUERY.md:63-80)."""

    table_alias: str
    physical: str
    col_type: str
    operator: str
    value: Any = None


@dataclass
class ColumnFilter:
    """column <op> other column (QUERY.md:85-91)."""

    left_alias: str
    left_physical: str
    operator: str
    right_alias: str
    right_physical: str


@dataclass
class HavingFilter:
    """Filter on an aggregation alias (QUERY.md:16-17)."""

    alias: str
    col_type: str
    operator: str
    value: Any = None


@dataclass
class GroupNode:
    """and/or/not combinator (QUERY.md:93-97), arbitrary nesting."""

    logic: Literal["and", "or"]
    conditions: list["FilterTree"]
    negate: bool = False


@dataclass
class ExistsPlan:
    """One (possibly nested) EXISTS/counted-EXISTS subquery (QUERY.md:99-112).

    Correlation: ``outer_alias.outer_physical`` ↔ ``alias.child_physical``.
    ``child_is_fk_side`` is True when the child holds the FK (classic
    one-to-many EXISTS — counting groups child rows by the FK).
    """

    alias: str  # s1, s2, ... (SQL_DIALECTS.md:194-196)
    table_id: str
    database: str
    physical_name: str
    outer_alias: str
    outer_physical: str
    child_physical: str
    child_is_fk_side: bool
    where: Union["GroupNode", None] = None
    negated: bool = False  # exists: false
    count_op: str | None = None  # when set, counted variant
    count_value: int | None = None


FilterTree = Union[ValueFilter, ColumnFilter, HavingFilter, GroupNode, ExistsPlan]


@dataclass
class JoinItem:
    """Relation-driven join (QUERY.md:45-61): ON comes from FK metadata, never
    from the user; join filters live in WHERE (intentionally INNER-like)."""

    alias: str
    table_id: str
    api_name: str
    database: str
    physical_name: str
    join_type: Literal["inner", "left"]
    left_alias: str  # intermediary table's alias (transitive joins)
    left_physical: str
    right_physical: str


@dataclass
class SelectItem:
    """One result column. ``out_name`` is the result key — the column apiName,
    collision-qualified ``table.column`` (README.md:522), or an agg alias."""

    out_name: str
    table_alias: str
    physical: str
    api_name: str
    from_table_api: str
    col_type: str
    nullable: bool
    masked: bool = False
    masking_fn: str | None = None


@dataclass
class AggItem:
    """One aggregation (QUERY.md:27-32)."""

    fn: Literal["count", "sum", "avg", "min", "max"]
    table_alias: str | None  # None for count(*)
    physical: str | None
    alias: str
    result_type: str
    nullable: bool
    from_table_api: str


@dataclass
class OrderItem:
    column_expr: str | None  # "alias.physical" when a table column
    agg_alias: str | None  # set when referencing an aggregation alias / out name
    direction: Literal["asc", "desc"]


@dataclass
class TableUsed:
    """meta.tablesUsed entry (QUERY.md:165-170)."""

    table_id: str
    source: Literal["original", "replica", "cache"]
    database: str
    physical_name: str


@dataclass
class ResolvedPlan:
    from_table_id: str
    from_api_name: str
    from_database: str
    from_physical: str
    from_alias: str
    joins: list[JoinItem] = field(default_factory=list)
    where: GroupNode | None = None
    group_by: list[SelectItem] = field(default_factory=list)
    aggregations: list[AggItem] = field(default_factory=list)
    having: GroupNode | None = None
    select_items: list[SelectItem] = field(default_factory=list)
    order_by: list[OrderItem] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None
    distinct: bool = False
    mode: Literal["execute", "sql-only", "count", "dataframe"] = "execute"
    tables_used: list[TableUsed] = field(default_factory=list)
