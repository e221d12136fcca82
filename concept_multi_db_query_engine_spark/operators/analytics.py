"""TPC-H-style analytic queries + window operators over the driver testdata.

These are the bench headliners. Money math is computed over
``DECIMAL(18,4)``-cast columns — decimal addition is exact and associative,
so Spark's parallel partial aggregation and DuckDB's sequential oracle agree
bit-for-bit; the final cast back to DOUBLE is deterministic. (Summing raw
doubles would make the result depend on partition order.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame

# decimal(12,4) for money columns; the (1±x) unit factors are cast to the
# narrower decimal(6,4) (lossless — discount/tax carry 4 decimals) so the
# three-factor product (price × (1-disc) × (1+tax)) peaks at precision 28
# — within 38 EXACTLY on both Spark and DuckDB. With (12,4) factors the
# product precision hit 40 and each engine rounded intermediates by its
# own rule, producing ULP drift in sum_charge at some data sizes.
DEC = "decimal(12,4)"
ONE = "decimal(6,4)"


def _d(col: str):
    return F.col(col).cast(DEC)


def tpch_q1(lineitem: DataFrame, ship_cutoff: str = "1998-09-02") -> DataFrame:
    """Pricing summary report (TPC-H Q1 shape): group lineitems shipped on or
    before the cutoff by returnflag/linestatus; 8 aggregates."""
    disc_price = _d("l_extendedprice") * (
        F.lit(1).cast(ONE) - F.col("l_discount").cast(ONE)
    )
    charge = disc_price * (F.lit(1).cast(ONE) + F.col("l_tax").cast(ONE))
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit(ship_cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_d("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_d("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_d("l_quantity")).cast("double")
             / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(_d("l_extendedprice")).cast("double")
             / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(_d("l_discount")).cast("double")
             / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def tpch_q3(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
    segment: str = "BUILDING", cutoff: str = "1998-03-15", k: int = 10,
) -> DataFrame:
    """Shipping-priority top-k (TPC-H Q3 shape): revenue of unshipped orders
    for one market segment. Customer and orders are dimension-sized relative
    to lineitem → broadcast them; lineitem never shuffles."""
    revenue = _d("l_extendedprice") * (F.lit(1).cast(DEC) - _d("l_discount"))
    cust = customer.where(F.col("c_mktsegment") == segment).select("c_custkey")
    ords = (
        orders.where(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    return (
        lineitem.where(F.col("l_shipdate") > F.lit(cutoff).cast("timestamp"))
        .join(F.broadcast(ords), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(k)
    )


def tpch_q5(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
    supplier: DataFrame, nation: DataFrame, region: DataFrame,
    region_name: str = "ASIA",
    date_from: str = "1996-01-01", date_to: str = "1998-01-01",
) -> DataFrame:
    """Local-supplier volume (TPC-H Q5 shape): revenue per nation where
    customer and supplier share the nation. The dimension chain
    region→nation→customer/supplier is broadcast; only lineitem⋈orders is a
    real shuffle join."""
    revenue = _d("l_extendedprice") * (F.lit(1).cast(DEC) - _d("l_discount"))
    nat = (
        nation.join(
            F.broadcast(region.where(F.col("r_name") == region_name)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    cust = customer.join(
        F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_nationkey").alias("c_nat"), "n_name")
    supp = supplier.join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_nationkey").alias("s_nat"))
    ords = (
        orders.where(
            (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_nat", "n_name")
    )
    return (
        lineitem.join(F.broadcast(ords), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("c_nat") == F.col("s_nat"))
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


def top_orders_per_priority(orders: DataFrame, k: int = 3) -> DataFrame:
    """Top-k orders by total price within each priority class — the standard
    window/top-k-per-group operator (Catalyst handles it with a partial
    top-k per partition before the shuffle)."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rnk")
    )


def tpch_q6(
    lineitem: DataFrame,
    date_from: str = "1996-01-01", date_to: str = "1997-01-01",
    disc_lo: float = 0.05, disc_hi: float = 0.07, qty_lt: float = 24.0,
) -> DataFrame:
    """Forecasting-revenue-change (TPC-H Q6 shape): single filtered scan +
    one global aggregate — the canonical predicate-pushdown / map-side
    partial-agg query. No shuffle of data rows at all: each partition emits
    one partial sum."""
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
            & (F.col("l_discount") >= disc_lo)
            & (F.col("l_discount") <= disc_hi)
            & (F.col("l_quantity") < qty_lt)
        )
        .agg(
            F.sum(_d("l_extendedprice") * _d("l_discount"))
            .cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def tpch_q4(
    orders: DataFrame, lineitem: DataFrame,
    date_from: str = "1996-01-01", date_to: str = "1997-01-01",
    qty_gt: float = 49.0,
) -> DataFrame:
    """Order-priority checking (TPC-H Q4 shape): count orders in a date range
    having at least one qualifying lineitem — EXISTS folded into a left-semi
    join (the decorrelated form), then a small aggregate."""
    qualifying = (
        lineitem.where(F.col("l_quantity") > qty_gt)
        .select("l_orderkey").distinct()
    )
    return (
        orders.where(
            (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
        )
        .join(qualifying, F.col("o_orderkey") == F.col("l_orderkey"),
              "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def tpch_q12(
    orders: DataFrame, lineitem: DataFrame,
    date_from: str = "1996-01-01", date_to: str = "1997-01-01",
) -> DataFrame:
    """Shipping-mode priority classes (TPC-H Q12 shape): one pass with
    CONDITIONAL aggregation — SUM(CASE WHEN ...) pivots the priority split
    without a second scan or join. The high/low split keys on urgent
    priorities; grouping keys on the lineitem's return flag."""
    high = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("l_returnflag")
    )


def asof_join(
    left: DataFrame, right: DataFrame,
    partition_col: str, ts_col: str,
    right_value_cols: list[str],
) -> DataFrame:
    """As-of join: each left row picks the latest right row with
    ``right.ts <= left.ts`` within its partition key (NULLs when no prior
    right row exists).

    Spark-first formulation: tag the two sides, union them, and carry the
    right side's values forward with ``last(..., ignorenulls=True)`` over a
    (partition, ts)-ordered running window. ONE shuffle on the partition key
    — no range explosion, no per-key collect, skew-safe under AQE. This is
    the scalable shape for 100 TB event streams; a range-join would shuffle
    |left| x |right matches in window|.

    Ties: right rows sort before left rows at equal ts (inclusive as-of);
    among right rows with identical ts the highest ``_asof_seq`` (row id)
    wins deterministically.
    """
    l_types = dict(left.dtypes)
    r_types = dict(right.dtypes)
    r = right.select(
        F.col(partition_col).alias("__pk"), F.col(ts_col).alias("__ts"),
        F.lit(0).alias("__side"),
        F.monotonically_increasing_id().alias("__seq"),
        *[F.col(c).alias(f"__r_{c}") for c in right_value_cols],
        *[F.lit(None).cast(l_types[c]).alias(c) for c in left.columns],
    )
    l = left.select(
        F.col(partition_col).alias("__pk"), F.col(ts_col).alias("__ts"),
        F.lit(1).alias("__side"), F.lit(None).cast("long").alias("__seq"),
        *[F.lit(None).cast(r_types[c]).alias(f"__r_{c}")
          for c in right_value_cols],
        *left.columns,
    )
    unioned = l.unionByName(r)
    w = (
        Window.partitionBy("__pk")
        .orderBy(F.col("__ts").asc(), F.col("__side").asc(),
                 F.col("__seq").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        *[F.col(c) for c in left.columns],
        F.col("__side"),
        *[
            F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w)
            .alias(f"asof_{c}")
            for c in right_value_cols
        ],
    )
    return carried.where(F.col("__side") == 1).drop("__side")


def purchases_with_last_view(events: DataFrame) -> DataFrame:
    """Attribution as-of join over the events table: each purchase event
    picks the user's most recent view event at-or-before the purchase.
    Returns (event_id, user_id, ts, view_event_id, view_ts,
    micros_since_view nullable)."""
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_event_id"),
        F.col("ts").alias("view_ts"),
    )
    joined = asof_join(
        purchases, views, "user_id", "ts",
        ["view_event_id", "view_ts"],
    )
    return joined.select(
        "event_id", "user_id", "ts",
        F.col("asof_view_event_id").alias("view_event_id"),
        F.col("asof_view_ts").alias("view_ts"),
        F.timestamp_diff(
            "MICROSECOND", F.col("asof_view_ts"), F.col("ts")
        ).alias("micros_since_view"),
    )


def sessionize(
    events: DataFrame, gap_minutes: int = 30,
    user_col: str = "user_id", ts_col: str = "ts",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the user's
    inter-event gap exceeds ``gap_minutes``. Returns one row per session:
    (user_id, session_id, session_start, session_end, n_events, n_types,
    sum_value).

    Classic two-window formulation — lag to flag boundaries, running sum to
    number sessions — then a groupBy rollup. Both windows and the rollup
    share ONE shuffle on user_id (same partitioning), so the whole operator
    is a single exchange; at scale that is the floor for this semantics.
    """
    gap_us = gap_minutes * 60 * 1_000_000
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col("event_id").asc()
    )
    flagged = events.withColumn(
        "__new_session",
        F.when(
            F.timestamp_diff(
                "MICROSECOND", F.lag(ts_col).over(w), F.col(ts_col)
            ) > gap_us, 1
        ).otherwise(
            F.when(F.lag(ts_col).over(w).isNull(), 1).otherwise(0)
        ),
    ).withColumn(
        "session_seq",
        F.sum("__new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        flagged.groupBy(
            F.col(user_col).alias("user_id"), F.col("session_seq")
        )
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
    )


def props_rollup(events: DataFrame) -> DataFrame:
    """JSON-string property extraction + rollup: parse ``props`` (JSON kept
    as a string column, per the reference's data model) with
    ``get_json_object`` and aggregate per event_type. JSON parsing stays
    JVM-side (no Python UDF)."""
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
        )
    )


def hourly_anomaly(
    events: DataFrame, trail: int = 24, min_hours: int = 8,
    ts_col: str = "ts",
) -> DataFrame:
    """Trailing-window anomaly scores over hourly event volumes — the
    classic monitoring query: for each (hour, event_type), the z-score of
    that hour's count against the previous ``trail`` hours' counts.

    Every statistic derives from EXACT integer window sums (Σn, Σn², count
    — BIGINT, associative), with one fixed double expression on top:
    mean = Σn/c, var = (Σn² − Σn·Σn/c)/(c−1), z = (n − mean)/√var. Both
    engines evaluate the identical IEEE expression over identical integers,
    so the operator is hash-checkable against a SQL oracle — unlike a
    built-in ``stddev`` aggregate, whose internal accumulation order is
    engine-specific. Rows with fewer than ``min_hours`` trailing points or
    zero variance get a NULL z (cold start / constant traffic).

    The trailing window runs over the ZERO-FILLED clock-hour grid of each
    event_type (``sequence`` from the type's first to last observed hour,
    left-joined with the observed counts): hours with no events count as
    n = 0 in the baseline instead of being skipped, so bursty types don't
    get an inflated trailing mean, and an hour of total silence is itself
    scored (a negative-z anomaly) — "previous ``trail`` hours" means
    clock-hours, as a monitoring user expects.

    Plan shape: one aggregation on (hour, type), a tiny per-type bounds
    aggregate exploded into the hour grid (|types| × |hours| rows — far
    smaller than the event input), a left join back on (type, hour), then
    windows partitioned by event_type — per-type series are independent,
    so the window stage parallelizes across types and the state per task
    is ``trail`` rows.
    """
    # PIN the hourly counts (referenced by the grid derivation AND the
    # densify join — tiny: hours x types rows; un-pinned, each
    # reference re-scanned the events table)
    observed = (
        events.groupBy(
            F.date_trunc("hour", F.col(ts_col)).alias("hour"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    ).localCheckpoint(eager=False)
    grid = (
        observed.groupBy("event_type")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("hour"),
        )
    )
    hourly = (
        grid.join(observed, ["event_type", "hour"], "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)).cast("long"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("hour").asc())
        .rowsBetween(-trail, -1)
    )
    s = F.sum("n").over(w).cast("long")
    sq = F.sum(F.col("n") * F.col("n")).over(w).cast("long")
    c = F.count("n").over(w).cast("long")
    scored = hourly.select(
        "hour", "event_type", "n",
        s.alias("s"), sq.alias("sq"), c.alias("c"),
    )
    mean = F.col("s").cast("double") / F.col("c")
    var = (
        (F.col("sq").cast("double")
         - F.col("s").cast("double") * F.col("s") / F.col("c"))
        / (F.col("c") - 1)
    )
    z = (F.col("n").cast("double") - mean) / F.sqrt(var)
    ok = (F.col("c") >= min_hours) & (var > 0)
    return scored.select(
        "hour", "event_type", "n",
        F.col("c").alias("trail_hours"),
        F.round(F.when(F.col("c") > 0, mean), 6).alias("trail_mean"),
        F.round(F.when(ok, z), 6).alias("z"),
    )


# Small-frame fast path ceiling for distributed_group_quantiles: when a
# caller PROVES its input is at most this many rows, the exact quantile
# is one `percentile` aggregation (a single partial-aggregated exchange)
# instead of the 5-stage rank-routing machinery.  4M doubles is ~32 MB
# in one aggregation buffer — comfortably single-task territory; the
# threshold compares against a caller-supplied bound, so the corpus-
# scale plan is untouched wherever no bound exists (or it is larger).
SMALL_FRAME_MAX_ROWS = 4_000_000


def distributed_group_quantiles(
    df: DataFrame, group_col: str, value_col: str, probs: list[float],
    round_to: int | None = 4,
    max_rows: int | None = None,
) -> DataFrame:
    """EXACT per-group linear-interpolation quantiles (SQL
    ``percentile_cont`` semantics) without ever sorting a whole group in
    one task — and, since round 6, without ANY driver-side offset state:
    range-repartition on (group, value), sort within partitions, then

    1. per-(partition, group) counts — one distributed aggregation over
       the pinned frame (tiny: ≤ partitions × groups rows);
    2. per-(partition, group) START ranks — a window over those counts
       (``sum(count) OVER (PARTITION BY group ORDER BY pid)``), the
       executor-side twin of the old driver loop;
    3. needed ranks per group — from the per-group totals, each quantile's
       ``pos = p·(n−1)`` and its floor/ceil neighbours, computed in SQL
       (IEEE doubles, identical arithmetic to the old Python loop);
    4. rank→(partition, local offset) routing — a join of the needed
       ranks against the start/count ranges (tiny × tiny);
    5. a narrow ``mapInPandas`` pass that tags every row with its local
       rank inside (partition, group) — running cumcount per partition,
       no shuffle — joined against the routed targets. AQE broadcasts the
       target side at runtime (it is ≤ 2·|probs| rows per group), so the
       corpus-sized side never shuffles; with millions of groups AQE
       falls back to a sort-merge join and the operator still works —
       that is the point of keeping every stage executor-side.

    One final aggregation interpolates ``lo + (hi − lo)·frac`` — the same
    formula Spark's ``percentile`` and DuckDB's ``quantile_cont`` use, so
    values are bit-compatible with both. Every stage is parallel;
    per-task memory is one partition; driver state is ZERO (the old
    O(partitions × groups) collect and its ``max_groups`` ceiling are
    gone). Returns one row per group: (group, q_<i> …).

    Determinism: the tagged frame is pinned with
    ``localCheckpoint(eager=True)`` before the counts job.
    ``repartitionByRange`` samples range boundaries with a per-execution
    seed, so WITHOUT the checkpoint a recompute between the counts job and
    the rank-tag job could land rows in different partitions than the
    counts measured — silently wrong quantiles. The checkpoint stores the
    partitions once (MEMORY_AND_DISK on executors) and both jobs read the
    same physical data. Trade-off: a lost executor fails the query loudly
    (no lineage to rebuild from) instead of risking silent re-bucketing.

    ``max_rows`` — small-frame fast path.  When the caller PROVES an
    upper bound on the input row count (a count probe it already ran, or
    an arithmetic consequence of one — e.g. Theil–Sen's n·(n−1)/2 pair
    bound from its counted point frame) AND the bound is at most
    :data:`SMALL_FRAME_MAX_ROWS`, the quantiles come from ONE
    ``sort_array(collect_list(...))`` aggregation: a single partial-
    aggregated exchange instead of checkpoint + counts + routing + rank
    tag + pick (≈8 AQE stages).  The interpolation applies the
    IDENTICAL ``lo + (coalesce(hi, lo) − lo)·frac`` expression tree as
    the slow path (NOT Spark's ``percentile`` aggregate, whose
    ``(1−frac)·lo + frac·hi`` form differs by an ULP on some inputs),
    so values are bit-identical for the null-free inputs the bound
    contract requires (the rank-routing path ranks NULLs first as NaN
    while ``collect_list`` drops them — callers passing ``max_rows``
    must have null-filtered ``value_col``, which every wired call site
    does; a group holding a NULL fails the query).  With
    ``max_rows=None`` (default) or a bound above the ceiling the
    corpus-scale plan is byte-for-byte unchanged.
    """
    from pyspark.sql import types as T

    if max_rows is not None and max_rows <= SMALL_FRAME_MAX_ROWS:
        # NOT Spark's `percentile` aggregate: its interpolation is
        # (1-frac)*lo + frac*hi, which differs from the machinery's
        # lo + (hi-lo)*frac by an ULP on some inputs (measured).  Sort
        # the group's values into one array and apply the IDENTICAL
        # expression tree the slow path aggregates, so both paths are
        # bit-exact for any input.
        picked = df.groupBy(group_col).agg(
            F.sort_array(
                F.collect_list(F.col(value_col).cast("double"))
            ).alias("__arr"),
            F.count(F.lit(1)).alias("__n"),
            F.count(value_col).alias("__n_value"),
        )
        # every output reads n_d, so a NULL value fails the query loudly
        # instead of being dropped by collect_list
        n_d = F.when(
            F.col("__n") == F.col("__n_value"), F.size("__arr")
        ).otherwise(F.raise_error(F.lit(
            f"distributed_group_quantiles: max_rows needs a NULL-free "
            f"{value_col!r}"
        ))).cast("double")
        outs = []
        for i, p in enumerate(probs):
            pos = F.lit(float(p)) * (n_d - 1)
            lo_i = F.floor(pos).cast("long")
            frac = pos - F.floor(pos)
            lo = F.element_at("__arr", (lo_i + 1).cast("int"))
            hi = F.when(
                frac > 0, F.element_at("__arr", (lo_i + 2).cast("int"))
            )
            raw = lo + (F.coalesce(hi, lo) - lo) * frac
            outs.append(
                (raw if round_to is None else F.round(raw, round_to))
                .alias(f"q{i}")
            )
        return picked.select(group_col, *outs)

    sort_exprs = [F.col(group_col).asc(), F.col(value_col).asc()]
    tagged = (
        df.select(group_col, value_col)
        .repartitionByRange(*sort_exprs)
        .sortWithinPartitions(*sort_exprs)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = tagged.groupBy("__pid", group_col).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    # start rank of each (partition, group) chunk: total count of the same
    # group in all LOWER partitions (range partitioning keeps a group's
    # rows in pid order, so this is exactly the old driver-side prefix sum)
    wg = (
        Window.partitionBy(group_col)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    starts = counts.select(
        group_col, "__pid", "__cnt",
        F.coalesce(F.sum("__cnt").over(wg), F.lit(0)).alias("__start"),
    )
    # needed ranks: side 0 = the floor neighbour, side 1 = the ceil
    # neighbour of pos = p·(n−1); all arithmetic in doubles, matching the
    # `percentile` / `quantile_cont` definition exactly
    probs_arr = F.array(*[
        F.struct(
            F.lit(i).cast("int").alias("qi"),
            F.lit(float(p)).cast("double").alias("p"),
        )
        for i, p in enumerate(probs)
    ])
    base = (
        counts.groupBy(group_col).agg(F.sum("__cnt").alias("__n"))
        .select(group_col, "__n", F.explode(probs_arr).alias("pp"))
        .select(
            group_col,
            F.col("pp.qi").alias("__q"),
            (F.col("pp.p") * (F.col("__n").cast("double") - 1))
            .alias("__pos"),
        )
        .select(
            group_col, "__q",
            F.floor("__pos").cast("long").alias("__lo"),
            (F.col("__pos") - F.floor("__pos")).alias("__frac"),
        )
    )
    side0 = F.struct(F.col("__lo").alias("r"), F.lit(0).alias("s"))
    side1 = F.struct((F.col("__lo") + 1).alias("r"), F.lit(1).alias("s"))
    needed = base.select(
        group_col, "__q", "__frac",
        F.explode(
            F.when(F.col("__frac") > 0, F.array(side0, side1))
            .otherwise(F.array(side0))
        ).alias("t"),
    ).select(
        group_col, "__q", "__frac",
        F.col("t.r").alias("__rank"),
        F.col("t.s").alias("__side"),
    )
    # route each needed rank to the (partition, local offset) holding it
    targets = (
        needed.alias("n")
        .join(
            starts.alias("s"),
            on=[
                F.col(f"n.{group_col}") == F.col(f"s.{group_col}"),
                F.col("n.__rank") >= F.col("s.__start"),
                F.col("n.__rank") < F.col("s.__start") + F.col("s.__cnt"),
            ],
        )
        .select(
            F.col(f"n.{group_col}").alias(group_col),
            F.col("s.__pid").alias("__pid"),
            (F.col("n.__rank") - F.col("s.__start")).alias("__lr"),
            F.col("n.__q").alias("__q"),
            F.col("n.__side").alias("__side"),
            F.col("n.__frac").alias("__frac"),
        )
    )
    rank_schema = T.StructType([
        df.schema[group_col],
        T.StructField("__pid", T.IntegerType()),
        T.StructField("__lr", T.LongType()),
        T.StructField("__v", T.DoubleType()),
    ])

    def tag_ranks(batches):
        import pandas as pd

        local: dict = {}  # group -> rows already seen in this partition
        for pdf in batches:
            if not len(pdf):
                continue
            cum = pdf.groupby(group_col, sort=False).cumcount().to_numpy()
            bases = (
                pdf[group_col].map(lambda g: local.get(g, 0)).to_numpy()
            )
            for g, sz in pdf.groupby(group_col, sort=False).size().items():
                local[g] = local.get(g, 0) + int(sz)
            yield pd.DataFrame({
                group_col: pdf[group_col],
                "__pid": pdf["__pid"].astype("int32"),
                "__lr": cum + bases,
                "__v": pdf[value_col].astype("float64"),
            })

    ranked = tagged.mapInPandas(tag_ranks, schema=rank_schema)
    picked = ranked.join(targets, on=[group_col, "__pid", "__lr"])
    lo = F.max(F.when(F.col("__side") == 0, F.col("__v")))
    hi = F.max(F.when(F.col("__side") == 1, F.col("__v")))
    frac = F.max("__frac")
    # round_to=None returns the raw interpolated double (callers that
    # feed the quantiles into FURTHER arithmetic — quantile_normalize's
    # grid — need the unrounded value to stay quantile_cont-exact)
    raw = lo + (F.coalesce(hi, lo) - lo) * frac
    value = raw if round_to is None else F.round(raw, round_to)
    per_q = (
        picked.groupBy(group_col, "__q")
        .agg(value.alias("__val"))
    )
    aggs = [
        F.max(F.when(F.col("__q") == i, F.col("__val"))).alias(f"q{i}")
        for i in range(len(probs))
    ]
    return per_q.groupBy(group_col).agg(*aggs)


def order_value_quantiles(orders: DataFrame) -> DataFrame:
    """Exact p50/p90/p99 of order value per priority class (linear
    interpolation — SQL-standard quantile_cont), computed with
    :func:`distributed_group_quantiles` — no group is ever sorted in a
    single task, so the exact form survives arbitrarily large groups (the
    long-standing 'weak at 100×' finding on the plain `percentile`
    aggregate). `order_value_quantiles_approx` remains the cheaper
    sketch-based alternative."""
    q = distributed_group_quantiles(
        orders, "o_orderpriority", "o_totalprice", [0.5, 0.9, 0.99]
    ).withColumnsRenamed({"q0": "p50", "q1": "p90", "q2": "p99"})
    n = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    return q.join(n, "o_orderpriority")


def order_value_quantiles_approx(
    orders: DataFrame, accuracy: int = 10000,
) -> DataFrame:
    """The 100 TB path for `order_value_quantiles`: `percentile_approx`
    (Greenwald-Khanna sketch) instead of exact `percentile`. The sketch is
    mergeable map-side with bounded memory (O(accuracy) per group), so no
    group ever needs its full value set sorted in one task — the property
    that makes this shape survive arbitrarily large groups. Returns discrete
    quantiles (an actual element of the group, no interpolation), exact
    whenever the group has <= `accuracy` rows."""
    qa = "percentile_approx(o_totalprice, {p}, " + str(accuracy) + ")"
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.expr(qa.format(p=0.5)).cast("double").alias("p50"),
            F.expr(qa.format(p=0.9)).cast("double").alias("p90"),
            F.expr(qa.format(p=0.99)).cast("double").alias("p99"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def signup_purchase_funnel(events: DataFrame) -> DataFrame:
    """Per-user funnel: first signup → first view after signup → first
    purchase after that view. One aggregation pass with conditional min
    aggregates, then step flags — no self-joins, one shuffle on user_id.
    Returns (user_id, signup_ts, view_ts, purchase_ts, reached_step)."""
    firsts = (
        events.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
            .alias("signup_ts"),
            *[
                F.min(
                    F.when(F.col("event_type") == t, F.col("ts"))
                ).alias(f"_first_{t}")
                for t in ("view", "purchase")
            ],
        )
    )
    # step semantics: each stage must strictly follow the previous one;
    # re-find "first view AFTER signup" via a second conditional pass
    with_signup = events.join(
        firsts.select("user_id", "signup_ts"), "user_id"
    )
    staged = (
        with_signup.groupBy("user_id")
        .agg(
            F.first("signup_ts").alias("signup_ts"),
            F.min(
                F.when(
                    (F.col("event_type") == "view")
                    & (F.col("ts") >= F.col("signup_ts")),
                    F.col("ts"),
                )
            ).alias("view_ts"),
        )
    )
    with_view = events.join(
        staged.select("user_id", "signup_ts", "view_ts"), "user_id"
    )
    final = (
        with_view.groupBy("user_id")
        .agg(
            F.first("signup_ts").alias("signup_ts"),
            F.first("view_ts").alias("view_ts"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("view_ts")),
                    F.col("ts"),
                )
            ).alias("purchase_ts"),
        )
    )
    return final.select(
        "user_id", "signup_ts", "view_ts", "purchase_ts",
        (
            F.when(F.col("purchase_ts").isNotNull(), 3)
            .when(F.col("view_ts").isNotNull(), 2)
            .when(F.col("signup_ts").isNotNull(), 1)
            .otherwise(0)
        ).alias("reached_step"),
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week; for each
    (cohort_week, weeks_since) cell, how many of the cohort were active.
    Two aggregations sharing the user_id exchange, then a small rollup —
    the standard retention-matrix shape. Returns (cohort_week, weeks_since,
    n_active, cohort_size)."""
    first_seen = events.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    activity = events.select(
        "user_id",
        F.to_date(F.date_trunc("week", F.col("ts"))).alias("activity_week"),
    ).distinct()
    joined = activity.join(first_seen, "user_id").withColumn(
        "weeks_since",
        (
            (F.unix_date(F.col("activity_week"))
             - F.unix_date(F.col("cohort_week"))) / 7
        ).cast("long"),
    )
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        joined.groupBy("cohort_week", "weeks_since")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .join(sizes, "cohort_week")
        .select("cohort_week", "weeks_since", "n_active", "cohort_size")
    )


def events_hourly(events: DataFrame) -> DataFrame:
    """Tumbling-hour event rollup: the batch twin of the streaming windowed
    aggregation in streaming/windows.py (same grouping, same aggregates)."""
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def grouped_rollup(orders: DataFrame, mode: str = "rollup") -> DataFrame:
    """Hierarchical subtotals over (priority, status): ``GROUP BY ROLLUP``
    (``mode="rollup"``) or the full ``CUBE`` lattice (``mode="cube"``).
    Emits every grouping-set row with explicit ``grouping()`` flags and the
    key columns coalesced to the sentinel ``'ALL'`` so the output is a
    plain, stably-hashable relation (no NULL-vs-subtotal ambiguity).

    Scale shape: Catalyst expands grouping sets by replicating each input
    row once per grouping set *after* partial aggregation planning — the
    shuffle carries one pre-aggregated row per (grouping-set, group), not
    |input| × |sets|, and every aggregate is map-side combined. Revenue is
    summed as exact decimal (associative under any partitioning) and cast
    to double only at the end.
    """
    if mode not in ("rollup", "cube"):
        raise ValueError("mode must be 'rollup' or 'cube'")
    grouped = (
        orders.rollup("o_orderpriority", "o_orderstatus")
        if mode == "rollup"
        else orders.cube("o_orderpriority", "o_orderstatus")
    )
    return (
        grouped.agg(
            F.grouping("o_orderpriority").cast("int").alias("g_pri"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_d("o_totalprice")).cast("double").alias("revenue"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "g_pri", "g_status", "n_orders", "revenue",
        )
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order event-type transition matrix: for each user's
    time-ordered event stream, count (previous type -> next type) steps and
    the share each target takes of its source state's outgoing edges — the
    standard Markov-chain view of product flows ("after a click, 34% of
    next actions are purchases").

    One exchange on ``user_id`` for the lag window (ties broken by
    ``event_id`` so the order is a total order on any engine), then an
    aggregation whose output is at most |event_types|^2 rows — the
    per-transition rollup is map-side combined, and the share window runs
    over that tiny aggregate, not the event stream. Scale cost ~= one
    shuffle of the events, same as sessionize.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .where(F.col("prev_type").isNotNull())
    )
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.countDistinct("user_id").alias("n_users"),
    )
    out_total = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type", "next_type", "n_transitions", "n_users",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(out_total).cast("double")
        ).alias("share_of_source"),
    )


def rolling_active_users(events: DataFrame, window_days: int = 7) -> DataFrame:
    """Rolling N-day active users: for every observed activity day ``d``,
    the count of distinct users with at least one event in
    ``[d - (N-1), d]`` — the DAU/WAU-style metric every product-analytics
    stack reports.

    Scale shape: reduce the event stream to distinct (day, user) pairs
    (one map-side-combined shuffle), then EXPLODE each pair into the N
    window days it contributes to and count distinct users per window day —
    the exchange carries N·|daily| rows, all narrow. This deliberately
    avoids the tempting range join (days × daily with a BETWEEN condition),
    which Spark can only plan as a broadcast nested loop; the explode form
    is a plain hash aggregation that survives any corpus size. Window days
    beyond the last observed activity day are clipped by the inner join
    with the observed-day set (a tiny frame AQE broadcasts).
    """
    if window_days < 1:
        raise ValueError("window_days must be >= 1")
    daily = events.select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).distinct()
    days = daily.select("day").distinct()
    contrib = daily.select(
        F.explode(
            F.expr(
                f"sequence(day, day + interval {window_days - 1} days, "
                "interval 1 day)"
            )
        ).alias("wday"),
        "user_id",
    )
    return (
        contrib.join(days, contrib["wday"] == days["day"], "inner")
        .groupBy("wday")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .select(F.col("wday").alias("day"), "active_users")
    )


def event_cooccurrence(events: DataFrame) -> DataFrame:
    """Association mining over per-user event-type baskets: for every
    unordered type pair (a < b), the users exhibiting both, plus the
    classic market-basket measures — support (share of all users),
    confidence a->b (P(b|a)), and lift (observed co-occurrence over the
    independence expectation).

    Scale shape: the event stream reduces to distinct (user, type) baskets
    (one map-side-combined shuffle keyed by user — basket width is bounded
    by |event_types|, so the self-join per user emits at most
    |types|·(|types|-1)/2 pairs), the pair/type rollups are tiny, and the
    one-row user-count frame joins in as a broadcast. Every measure is one
    fixed-order double expression over exact longs, so both engines
    compute identical values.
    """
    # users x |event_types| rows, referenced four times (user count +
    # both self-join sides + per-type counts) — pin once
    baskets = events.select("user_id", "event_type").distinct() \
        .localCheckpoint(eager=False)
    n_users = baskets.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("n_users")
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    pair_counts = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    type_counts = baskets.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_type")
    )
    ca = type_counts.select(
        F.col("event_type").alias("type_a"), F.col("n_type").alias("n_a")
    )
    cb = type_counts.select(
        F.col("event_type").alias("type_b"), F.col("n_type").alias("n_b")
    )
    d = F.col  # shorthand
    return (
        pair_counts.join(ca, "type_a").join(cb, "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a", "type_b", "n_both", "n_a", "n_b",
            (d("n_both").cast("double") / d("n_users").cast("double"))
            .alias("support"),
            (d("n_both").cast("double") / d("n_a").cast("double"))
            .alias("confidence_a_to_b"),
            (
                (d("n_both").cast("double") * d("n_users").cast("double"))
                / (d("n_a").cast("double") * d("n_b").cast("double"))
            ).alias("lift"),
        )
    )


def winsorize(
    df: DataFrame, value_col: str,
    lower: float = 0.01, upper: float = 0.99,
    accuracy: int = 100_000,
) -> DataFrame:
    """Winsorization — clamp a numeric column to its [lower, upper]
    percentile band, the standard outlier treatment before fitting
    anything on heavy-tailed money/latency columns. Adds
    ``<col>_winsorized`` plus an ``is_clipped`` flag.

    The two cutpoints come from one ``percentile_approx`` aggregate
    (mergeable sketch, exact while distinct values <= ``accuracy`` — the
    same discrete-percentile convention as the ``*_approx`` quantile
    operators, so a DuckDB ``quantile_disc`` replays it exactly at test
    scale) broadcast back as a 1-row frame; the clamp itself is a narrow
    map. One tiny aggregation plus a scan — no full-column sort at any
    scale.
    """
    cuts = df.agg(
        F.expr(
            f"percentile_approx({value_col}, array({lower}, {upper}), "
            f"{accuracy})"
        ).alias("__cuts")
    ).select(
        F.col("__cuts")[0].alias("__lo"), F.col("__cuts")[1].alias("__hi")
    )
    clamped = F.least(F.greatest(F.col(value_col), F.col("__lo")),
                      F.col("__hi"))
    return (
        df.crossJoin(F.broadcast(cuts))
        .select(
            "*",
            clamped.alias(f"{value_col}_winsorized"),
            (F.col(value_col) != clamped).alias("is_clipped"),
        )
        .drop("__lo", "__hi")
    )


def funnel_steps(events: DataFrame, steps: list[str]) -> DataFrame:
    """Generalized N-step funnel: for an ordered list of event types,
    count the users whose events complete each prefix IN ORDER (each
    step's first occurrence strictly after the previous step's time).
    Returns one row per step: (step_idx, step, n_users, pct_of_first,
    pct_of_prev) — the standard conversion table for arbitrary product
    flows, generalizing the fixed signup→view→purchase operator.

    Plan shape: step 1 is one conditional-min aggregation on user_id;
    each later step joins the running per-user frame to that step's
    events and takes the min ts after the previous step — every stage is
    keyed by user_id, so Catalyst reuses one hash partitioning across the
    whole chain (k steps ≈ one event-stream shuffle plus k-1 co-located
    joins on an already-reduced per-user frame). Percentages divide exact
    longs, so every engine computes identical doubles.
    """
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    cur = (
        events.where(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_0"))
    )
    running = cur
    for i, st in enumerate(steps[1:], start=1):
        nxt = (
            events.where(F.col("event_type") == st)
            .join(running.select("user_id", f"t_{i - 1}"), "user_id")
            .where(F.col("ts") > F.col(f"t_{i - 1}"))
            .groupBy("user_id")
            .agg(F.min("ts").alias(f"t_{i}"))
        )
        # PIN each level: running is referenced twice per step (the
        # step join + the carry left-join), so un-pinned the chain
        # re-expands 2^k-fold — 22 event scans for a 4-step funnel
        running = running.join(nxt, "user_id", "left") \
            .localCheckpoint(eager=False)
    counts = running.agg(
        *[
            F.count(F.col(f"t_{i}")).alias(f"n_{i}")
            for i in range(len(steps))
        ]
    ).localCheckpoint(eager=False)  # one row, read by every union arm
    rows = None
    for i, st in enumerate(steps):
        base = counts.select(
            F.lit(i).alias("step_idx"),
            F.lit(st).alias("step"),
            F.col(f"n_{i}").alias("n_users"),
            (F.col(f"n_{i}").cast("double") / F.col("n_0").cast("double"))
            .alias("pct_of_first"),
            (
                F.col(f"n_{i}").cast("double")
                / F.col(f"n_{max(i - 1, 0)}").cast("double")
            ).alias("pct_of_prev"),
        )
        rows = base if rows is None else rows.unionByName(base)
    return rows


def session_stats(
    events: DataFrame, gap_minutes: int = 30,
    user_col: str = "user_id", ts_col: str = "ts",
) -> DataFrame:
    """Corpus-level session summary over :func:`sessionize` — the
    product-analytics headline row (how many sessions, how long, how
    deep, how many bounces).  All accumulations are exact integers
    (event counts, microsecond durations), so the averages are
    partitioning-independent fixed-shape doubles; adds ONE constant-size
    aggregation to sessionize's single exchange.

    Returns one row: (n_sessions, n_users, avg_events_per_session,
    bounce_rate, avg_duration_s, max_duration_s).
    """
    s = sessionize(events, gap_minutes, user_col, ts_col).select(
        "user_id",
        "n_events",
        F.timestamp_diff(
            "MICROSECOND", F.col("session_start"), F.col("session_end")
        ).alias("dur_us"),
    )
    agg = s.agg(
        F.count(F.lit(1)).alias("ns"),
        F.countDistinct("user_id").alias("nu"),
        F.sum("n_events").alias("se"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long").alias("nb"),
        F.sum("dur_us").alias("sd"),
        F.max("dur_us").alias("maxd"),
    )
    return agg.select(
        F.col("ns").alias("n_sessions"),
        F.col("nu").alias("n_users"),
        F.expr(
            "round(CAST(se AS DOUBLE) / CAST(ns AS DOUBLE), 4)"
        ).alias("avg_events_per_session"),
        F.expr(
            "round(CAST(nb AS DOUBLE) / CAST(ns AS DOUBLE), 4)"
        ).alias("bounce_rate"),
        F.expr(
            "round(CAST(sd AS DOUBLE) / CAST(ns AS DOUBLE) / 1000000.0d, 4)"
        ).alias("avg_duration_s"),
        F.expr(
            "round(CAST(maxd AS DOUBLE) / 1000000.0d, 4)"
        ).alias("max_duration_s"),
    )


def windowed_funnel(
    events: DataFrame,
    window_hours: int = 168,
    steps: tuple = ("signup", "view", "purchase"),
) -> DataFrame:
    """Time-constrained funnel: first ``steps[0]``, then the first
    ``steps[1]`` within ``window_hours`` of it, then the first
    ``steps[2]`` within ``window_hours`` of THAT — the conversion-window
    semantics every product funnel actually uses (an unbounded funnel
    counts a purchase two years after signup as converted;
    :func:`signup_purchase_funnel` is that unbounded baseline).

    Each step is one conditional-min aggregation keyed by user joined
    back to the event stream — two join+agg rounds on the same key, so
    after the first shuffle the frames are co-partitioned and AQE keeps
    the subsequent exchanges cheap; no windows, no per-user sorting, hot
    users cost O(their events) in a map-side combine.  Returns
    (user_id, step1_ts, step2_ts, step3_ts, reached_step).
    """
    s1, s2, s3 = steps
    w = F.expr(f"INTERVAL {int(window_hours)} HOURS")
    ev = events.select("user_id", "event_type", "ts")
    first1 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == s1, F.col("ts")))
        .alias("step1_ts")
    )
    first2 = (
        ev.join(first1, "user_id")
        .groupBy("user_id", "step1_ts")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == s2)
                    & (F.col("ts") > F.col("step1_ts"))
                    & (F.col("ts") <= F.col("step1_ts") + w),
                    F.col("ts"),
                )
            ).alias("step2_ts")
        )
    )
    first3 = (
        ev.join(first2, "user_id")
        .groupBy("user_id", "step1_ts", "step2_ts")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == s3)
                    & (F.col("ts") > F.col("step2_ts"))
                    & (F.col("ts") <= F.col("step2_ts") + w),
                    F.col("ts"),
                )
            ).alias("step3_ts")
        )
    )
    return first3.select(
        "user_id", "step1_ts", "step2_ts", "step3_ts",
        (
            F.when(F.col("step3_ts").isNotNull(), 3)
            .when(F.col("step2_ts").isNotNull(), 2)
            .when(F.col("step1_ts").isNotNull(), 1)
            .otherwise(0)
        ).cast("int").alias("reached_step"),
    )


def session_paths(
    events: DataFrame,
    gap_minutes: int = 30,
    top_k: int = 20,
    max_path_events: int = 50,
) -> DataFrame:
    """Top-k session paths: the most frequent ordered event-type
    sequences users take within a session (the "signup>view>purchase vs
    signup>error>..." product-flow report that per-edge transition
    matrices can't show).

    Session boundaries are :func:`sessionize`'s gap rule on the SAME
    single user-keyed exchange (lag flag + running sum + rollup share
    one partitioning); the path string is built deterministically with
    ``array_sort(collect_list(struct(ts, event_id, type)))`` — the
    event-id tiebreak makes equal-timestamp orders total — truncated to
    ``max_path_events`` events so a runaway session bounds the row (the
    collect is per SESSION, which the gap rule already bounds in time).
    The final count is a tiny path-keyed aggregate with a
    TakeOrdered top-k.  Returns (path, n_sessions, rank).
    """
    gap_us = gap_minutes * 60 * 1_000_000
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    flagged = events.withColumn(
        "__new_session",
        F.when(
            F.timestamp_diff(
                "MICROSECOND", F.lag("ts").over(w), F.col("ts")
            ) > gap_us, 1
        ).otherwise(
            F.when(F.lag("ts").over(w).isNull(), 1).otherwise(0)
        ),
    ).withColumn(
        "session_seq",
        F.sum("__new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    paths = (
        flagged.groupBy("user_id", "session_seq")
        .agg(
            F.expr(
                "array_join(slice(transform(array_sort("
                "collect_list(struct(ts, event_id, event_type))), "
                f"t -> t.event_type), 1, {int(max_path_events)}), '>')"
            ).alias("path")
        )
    )
    counted = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    top = counted.orderBy(
        F.col("n_sessions").desc(), F.col("path").asc()
    ).limit(top_k)
    w_rank = Window.orderBy(F.col("n_sessions").desc(), F.col("path").asc())
    return top.withColumn("rank", F.row_number().over(w_rank))


def reservoir_sample_per_group(
    df: DataFrame,
    group_col: str,
    n_per_group: int = 5,
    id_col: str = "event_id",
    salt: str = "rsv",
) -> DataFrame:
    """Deterministic fixed-size per-group sample: the ``n_per_group``
    rows with the smallest md5(id:salt) hash in each group — equivalent
    in distribution to a uniform reservoir sample but reproducible on
    any engine, any day (the :func:`text.hash_split` discipline), and
    re-salting re-rolls the sample.  The rank window partitions by
    group, so Spark inserts a partial WindowGroupLimit before the
    shuffle — each partition forwards at most ``n_per_group`` candidate
    rows per group, never the full group.  Returns the sampled rows
    plus (sample_bucket, sample_rank).
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"),
                           F.lit(":" + salt))),
            1, 15,
        ), 16, 10,
    ).cast("long")
    w = Window.partitionBy(group_col).orderBy(
        F.col("__bucket").asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__bucket", h)
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= n_per_group)
        .withColumnRenamed("__bucket", "sample_bucket")
    )


def ewma_weights(alpha: float = 0.3, window_days: int = 30) -> list:
    """The trailing EWMA weight table (1−α)^i for i = 0..window−1,
    computed ONCE driver-side and baked as identical double literals
    into both the Spark expression and the oracle — no cross-engine
    pow() in the data path."""
    return [(1.0 - alpha) ** i for i in range(window_days)]


def daily_ewma(
    events: DataFrame,
    alpha: float = 0.3,
    window_days: int = 30,
    round_to: int = 6,
) -> DataFrame:
    """Exponentially-weighted daily event counts per type — the
    smoothed-trend line ops dashboards overlay on raw dailies, computed
    over a ZERO-FILLED calendar grid (the hourly-anomaly lesson: silent
    days must weigh in as zeros, or quiet periods inflate the trend).

    The trailing window's (day, n) pairs are collected per row,
    array-sorted, and folded oldest-to-newest against the driver-baked
    weight table (:func:`ewma_weights`) — a deterministic sequential
    sum of identical doubles on any engine; the normalizer is the fold
    of the same weights over the days actually inside the window, so
    the first ``window_days`` days are correctly renormalized rather
    than biased toward zero.  One shuffle keyed by event_type; the
    per-type day grid is an in-frame ``sequence()`` explode.  Returns
    (event_type, day, n, ewma).
    """
    ws = ewma_weights(alpha, window_days)
    warr = "array(" + ", ".join(f"{w!r}d" for w in ws) + ")"
    observed = (
        events.groupBy(
            "event_type", F.to_date("ts").alias("day")
        ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    grid = (
        observed.groupBy("event_type")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "event_type",
            F.explode(F.sequence("d0", "d1")).alias("day"),
        )
    )
    daily = (
        grid.join(observed, ["event_type", "day"], "left")
        .withColumn("n", F.coalesce("n", F.lit(0)).cast("long"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("day").asc())
        .rowsBetween(-(window_days - 1), 0)
    )
    collected = daily.withColumn(
        "__win_raw", F.collect_list(F.struct("day", "n")).over(w)
    ).withColumn(
        "__win", F.array_sort("__win_raw")
    ).withColumn("__day_i", F.expr("datediff(day, DATE '1970-01-01')"))
    num = (
        f"aggregate(__win, CAST(0.0 AS DOUBLE), (acc, t) -> acc + "
        f"CAST(t.n AS DOUBLE) * element_at({warr}, "
        f"__day_i - datediff(t.day, DATE '1970-01-01') + 1))"
    )
    den = (
        f"aggregate(__win, CAST(0.0 AS DOUBLE), (acc, t) -> acc + "
        f"element_at({warr}, "
        f"__day_i - datediff(t.day, DATE '1970-01-01') + 1))"
    )
    return collected.select(
        "event_type", "day", "n",
        F.expr(f"round(({num}) / ({den}), {round_to})").alias("ewma"),
    )


def equidepth_histogram(
    df: DataFrame,
    value_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Equi-DEPTH histogram: bin edges are the exact
    (1/n .. (n−1)/n)-quantiles of the column (via
    :func:`distributed_group_quantiles` on a constant group — parallel
    exact ranking, no single-task sort), so bins hold ~equal row counts
    — the histogram shape optimizers and drift monitors prefer over
    fixed width when the distribution is skewed.  The one-row edge
    frame broadcasts back and binning is a narrow strict-inequality
    count (``bin = #edges < ... >= value``), deterministic at edge ties
    on any engine.  Returns (bin, lo, hi, n) with NULL open ends.

    NULL values are excluded up front: they would otherwise land in
    bin 0 (every CASE comparison yields false for NULL) and skew the
    quantile edges — a misleading histogram on nullable columns.
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    df = df.where(F.col(value_col).isNotNull())
    probs = [i / n_bins for i in range(1, n_bins)]
    vals = df.select(
        F.lit(0).alias("__g"),
        F.col(value_col).cast("double").alias("__v"),
    )
    edges = distributed_group_quantiles(vals, "__g", "__v", probs).select(
        *[F.col(f"q{i}").alias(f"e{i}") for i in range(n_bins - 1)]
    )
    bin_expr = " + ".join(
        f"(CASE WHEN CAST({value_col} AS DOUBLE) > e{i} THEN 1 ELSE 0 "
        "END)"
        for i in range(n_bins - 1)
    )
    binned = df.crossJoin(F.broadcast(edges)).select(
        F.expr(f"CAST({bin_expr} AS INT)").alias("bin"),
        *[F.col(f"e{i}") for i in range(n_bins - 1)],
    )
    lo = "CASE WHEN bin = 0 THEN CAST(NULL AS DOUBLE) " + " ".join(
        f"WHEN bin = {i + 1} THEN e{i}" for i in range(n_bins - 1)
    ) + " END"
    hi = f"CASE WHEN bin = {n_bins - 1} THEN CAST(NULL AS DOUBLE) " + \
        " ".join(f"WHEN bin = {i} THEN e{i}" for i in range(n_bins - 1)) + \
        " END"
    return (
        binned.groupBy("bin", *[f"e{i}" for i in range(n_bins - 1)])
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            "bin",
            F.expr(lo).alias("lo"),
            F.expr(hi).alias("hi"),
            "n",
        )
    )


def frequent_values(
    df: DataFrame,
    cols: list[str],
    k: int = 5,
) -> DataFrame:
    """Per-column categorical profile: the ``k`` most frequent values of
    each listed column with exact integer ppm shares — the companion to
    the min/max/null table profile for enum-ish columns (priority
    classes, statuses, country codes).  One pruned groupBy per column
    (each scan reads ONLY its column), each followed by a
    TakeOrderedAndProject top-k — never a global sort — then a union of
    the tiny heads.  Returns (col_name, value, cnt, share_ppm, rank).
    """
    from pyspark.sql import Window

    total = df.count()  # one count job; shared by every branch
    parts = []
    for c in cols:
        counts = df.groupBy(F.col(c).cast("string").alias("value")).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        # asc_nulls_last: Spark's ASC default is NULLS FIRST while
        # DuckDB's (the oracle's) is NULLS LAST — a NULL category would
        # otherwise diverge in top-k membership/rank cross-engine.
        top = counts.orderBy(
            F.col("cnt").desc(), F.col("value").asc_nulls_last()
        ).limit(k)
        w = Window.orderBy(
            F.col("cnt").desc(), F.col("value").asc_nulls_last()
        )
        parts.append(
            top.withColumn("rank", F.row_number().over(w)).select(
                F.lit(c).alias("col_name"), "value", "cnt",
                F.expr(f"cnt * 1000000 DIV {total}").alias("share_ppm"),
                "rank",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def conversion_lag_quantiles(
    events: DataFrame,
    from_type: str = "view",
    to_type: str = "purchase",
    probs: list[float] | None = None,
) -> DataFrame:
    """Time-to-convert distribution: for every user whose first
    ``to_type`` event follows their first ``from_type`` event, the lag
    in seconds — summarized by EXACT interpolated quantiles (the
    funnel's "how long does conversion take" companion; medians and
    tails, because conversion lags are heavy-tailed and a mean is
    meaningless).

    One shuffle on user_id for the two conditional first-event
    aggregates (map-side combined MINs), a narrow integer lag
    projection (``timestamp_diff`` in MICROSECONDS — exact elapsed
    time, NTZ-safe, and identical to DuckDB's epoch_us subtraction
    where second-granularity datediff counts boundary CROSSINGS), then
    the
    distributed exact-quantile machinery over the per-user lag frame
    (no global sort, no single-task group). Returns ONE row:
    (n_users, n_converted, p{int(p*100)}_s per prob) — default probs
    [0.5, 0.9, 0.99] → (p50_s, p90_s, p99_s), quantiles rounded 4.
    """
    probs = probs or [0.5, 0.9, 0.99]
    firsts = (
        events.where(F.col("event_type").isin([from_type, to_type]))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == from_type, F.col("ts")))
            .alias("__from"),
            F.min(F.when(F.col("event_type") == to_type, F.col("ts")))
            .alias("__to"),
        )
    )
    lags = firsts.select(
        "user_id",
        F.timestamp_diff("MICROSECOND", F.col("__from"), F.col("__to"))
        .cast("long").alias("__lag_us"),
    )
    converted = lags.where(F.col("__lag_us") >= 0)
    q = distributed_group_quantiles(
        converted.select(
            F.lit("all").alias("__g"),
            (F.col("__lag_us").cast("double") / F.lit(1000000.0))
            .alias("__v"),
        ),
        "__g", "__v", probs,
    )
    # output names derive from probs (p50_s, p90_s, ...) so fewer or
    # non-default probs stay correctly labeled instead of raising on a
    # hardcoded q0/q1/q2 selection
    qcols = [
        F.col(f"q{i}").alias(f"p{round(p * 100):d}_s")
        for i, p in enumerate(probs)
    ]
    qnames = [f"p{round(p * 100):d}_s" for p in probs]
    q = q.select(*qcols)
    n = lags.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(F.col("__lag_us") >= 0, 1).otherwise(0)).cast("long")
        .alias("n_converted"),
    )
    return n.crossJoin(F.broadcast(q)).select(
        "n_users", "n_converted", *qnames
    )


def markov_removal_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    channels: list[str] | None = None,
    iterations: int = 32,
) -> DataFrame:
    """Markov-chain attribution with removal effects (Anderl et al.
    2014) — the data-driven alternative to last-click: model user
    journeys as a first-order chain over channel states with absorbing
    CONV/NULL, and credit each channel by how much the conversion
    probability DROPS when journeys can no longer pass through it.

    Distributed part: journeys truncate at the first conversion, one
    window pass derives (src → dst) transitions (START openers, NULL
    closers for non-converters), ONE hash aggregation counts them —
    the collect is the (|channels|+3)² transition matrix, bounded
    model data like the kmeans centroids.  Driver part: value
    iteration in exact MICRO-UNIT integers — each step rounds
    ``Σ cnt·p / tot`` back to an integer, so the iteration hits a
    LITERAL fixed point (increments below half a micro vanish) and a
    SQL replay of the same recurrence is bit-identical; no epsilon
    convergence test, no float-order sensitivity.  Removal of channel
    c = dropping transitions INTO c while keeping row totals (the
    redirect-to-NULL convention).

    Returns one row per channel: (channel, p_full, p_removed,
    removal_effect, attribution_share), all rounded 6; shares are
    normalized over exact micro-unit effects so their sum is
    order-independent.
    """
    from pyspark.sql import Window

    def _rha(x: float, nd: int = 0) -> float:
        # SQL round(): half away from zero (values here are >= 0)
        import math

        scale = 10 ** nd
        return math.floor(x * scale + 0.5) / scale

    ordered = events.select(
        "user_id",
        F.when(F.col("event_type") == conversion_type, F.lit("CONV"))
        .otherwise(F.col("event_type")).alias("dst"),
        F.row_number().over(
            Window.partitionBy("user_id")
            .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        ).alias("rn"),
    )
    first_conv = ordered.where(F.col("dst") == "CONV").groupBy(
        "user_id").agg(F.min("rn").alias("prn"))
    kept = ordered.join(first_conv, "user_id", "left").where(
        F.col("rn") <= F.coalesce(F.col("prn"), F.lit(2**31 - 1))
    )
    seq = kept.select(
        "user_id", "dst", "rn", "prn",
        F.coalesce(
            F.lag("dst").over(
                Window.partitionBy("user_id").orderBy(F.col("rn").asc())
            ),
            F.lit("START"),
        ).alias("src"),
    )
    wlast = Window.partitionBy("user_id").orderBy(F.col("rn").desc())
    ends = (
        kept.withColumn("rr", F.row_number().over(wlast))
        .where(F.col("rr") == 1).where(F.col("prn").isNull())
        .select(F.col("dst").alias("src"), F.lit("NULL").alias("dst"))
    )
    tr = (
        seq.select("src", "dst").unionByName(ends)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    rows = tr.collect()  # bounded: (channels + 3)^2 model data
    cnt: dict[str, dict[str, int]] = {}
    for r in rows:
        cnt.setdefault(r["src"], {})[r["dst"]] = int(r["cnt"])
    tot = {s: sum(d.values()) for s, d in cnt.items()}
    states = sorted(cnt)

    def converge(removed: str | None) -> int:
        p = {"CONV": 1_000_000, "NULL": 0}
        for s in states:
            p[s] = 0
        for _ in range(iterations):
            nxt = {}
            for s in states:
                acc = sum(c * p.get(d, 0)
                          for d, c in cnt[s].items() if d != removed)
                nxt[s] = int(_rha(acc / tot[s]))
            p.update(nxt)
        return p.get("START", 0)

    if channels is None:
        channels = sorted(
            s for s in states if s not in ("START", "CONV", "NULL"))
    pf = converge(None)
    out = []
    for c in channels:
        pr = converge(c)
        effect_micro = (
            int(_rha((1.0 - pr / pf) * 1_000_000.0)) if pf else 0)
        out.append((c, pf, pr, effect_micro))
    total_eff = sum(e for _, _, _, e in out)
    spark = events.sparkSession
    return local_frame(
        spark,
        [
            (
                c,
                _rha(pfv / 1_000_000.0, 6),
                _rha(prv / 1_000_000.0, 6),
                em / 1_000_000.0,
                _rha(em / total_eff, 6) if total_eff else 0.0,
            )
            for c, pfv, prv, em in out
        ],
        "channel string, p_full double, p_removed double, "
        "removal_effect double, attribution_share double",
    )


def position_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    u_shape_end: float = 0.4,
) -> DataFrame:
    """Rule-based multi-touch attribution — first-touch, last-touch,
    linear, and U-shaped (``u_shape_end`` to each end, remainder spread
    over the middle) credit per channel across CONVERTING journeys,
    the heuristic baselines every Markov/Shapley attribution
    (:func:`markov_removal_attribution`) is judged against.

    One window pass numbers each converting user's pre-conversion
    touches; credits are exact micro-unit integers per touch (the
    U-shape splits 1e6 into integer end shares and an integer-divided
    middle with the remainder on the LAST middle touch, so every
    journey's credit sums to exactly 1e6 and channel totals are exact
    BIGINTs under any partitioning).  One hash aggregation on the
    channel.  Returns (channel, first_touch, last_touch, linear,
    u_shaped) — shares of total conversions, rounded 6.
    """
    from pyspark.sql import Window

    ordered = events.select(
        "user_id",
        F.col("event_type").alias("ch"),
        F.row_number().over(
            Window.partitionBy("user_id")
            .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        ).alias("rn"),
    )
    conv = ordered.where(F.col("ch") == conversion_type).groupBy(
        "user_id").agg(F.min("rn").alias("prn"))
    touches = (
        ordered.join(conv, "user_id")
        .where(F.col("rn") < F.col("prn"))
        .where(F.col("ch") != conversion_type)
    )
    w_t = Window.partitionBy("user_id")
    end = int(u_shape_end * 1_000_000)
    staged = touches.select(
        "user_id", "ch",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(F.col("rn").asc())
        ).alias("k"),
        F.count(F.lit(1)).over(w_t).alias("m"),
    ).select(
        "ch",
        F.expr("CASE WHEN k = 1 THEN 1000000 ELSE 0 END").alias("fc"),
        F.expr("CASE WHEN k = m THEN 1000000 ELSE 0 END").alias("lc"),
        # linear: 1e6 DIV m per touch, remainder to the last touch
        F.expr(
            "1000000 DIV m + CASE WHEN k = m THEN 1000000 % m "
            "ELSE 0 END"
        ).alias("lin"),
        F.expr(
            f"""CASE
              WHEN m = 1 THEN 1000000
              WHEN m = 2 THEN 500000
              WHEN k = 1 THEN {end}
              WHEN k = m THEN {end}
              ELSE (1000000 - 2 * {end}) DIV (m - 2)
                   + CASE WHEN k = m - 1 THEN
                       (1000000 - 2 * {end}) % (m - 2) ELSE 0 END
            END"""
        ).alias("ush"),
    )
    totals = staged.groupBy("ch").agg(
        F.sum("fc").cast("long").alias("fc"),
        F.sum("lc").cast("long").alias("lc"),
        F.sum("lin").cast("long").alias("lin"),
        F.sum("ush").cast("long").alias("ush"),
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return totals.select(
        F.col("ch").alias("channel"),
        (F.round(F.col("fc").cast("double")
                 / F.sum("fc").over(wall).cast("double"), 6))
        .alias("first_touch"),
        (F.round(F.col("lc").cast("double")
                 / F.sum("lc").over(wall).cast("double"), 6))
        .alias("last_touch"),
        (F.round(F.col("lin").cast("double")
                 / F.sum("lin").over(wall).cast("double"), 6))
        .alias("linear"),
        (F.round(F.col("ush").cast("double")
                 / F.sum("ush").over(wall).cast("double"), 6))
        .alias("u_shaped"),
    )


def market_basket_rules(
    lineitem: DataFrame,
    part: DataFrame,
    item_col: str = "p_brand",
    min_pair_orders: int = 2,
    top_k: int = 100,
) -> DataFrame:
    """Market-basket association rules over order baskets: for every
    item pair (a < b) co-occurring in at least ``min_pair_orders``
    orders, the classic support / confidence / lift triple (Agrawal &
    Srikant 1994 metrics; ``item_col`` defaults to the part brand so
    the pair space stays dense — raw part keys at TPC-H cardinality
    co-occur almost never). Rules are ranked by lift — how much more
    often the pair co-occurs than independence predicts.

    Scale: baskets = distinct (order, item) — ONE keyed shuffle whose
    width is bounded by |orders| × |items-per-order|, localCheckpointed
    because three branches consume it (pair join, per-item counts,
    basket total) and replaying the lineage would scan the fact table
    three times. The pair frame self-joins baskets on the order key —
    per-order fan-out is C(basket size, 2), bounded by the item
    vocabulary (brands: ≤ C(25,2)), never corpus². All counts are
    exact longs; the three ratios are fixed-order double expressions
    mirrored textually in the oracle.
    """
    baskets = (
        lineitem.select("l_orderkey", "l_partkey")
        .join(F.broadcast(part.select("p_partkey", item_col)),
              F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("okey"),
                F.col(item_col).alias("item"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_orders = baskets.agg(
        F.countDistinct("okey").cast("long").alias("n_orders"))
    item_n = baskets.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("item_orders"))
    a = baskets.select("okey", F.col("item").alias("item_a"))
    b = baskets.select("okey", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "okey")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_orders"))
        .where(F.col("pair_orders") >= min_pair_orders)
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        pairs
        .join(F.broadcast(
            item_n.select(F.col("item").alias("item_a"),
                          F.col("item_orders").alias("a_orders"))),
            "item_a")
        .join(F.broadcast(
            item_n.select(F.col("item").alias("item_b"),
                          F.col("item_orders").alias("b_orders"))),
            "item_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "item_a", "item_b", "pair_orders",
            F.round(d("pair_orders") / d("n_orders"), 6).alias("support"),
            F.round(d("pair_orders") / d("a_orders"), 6)
            .alias("confidence"),
            F.round(d("pair_orders") * d("n_orders")
                    / d("a_orders") / d("b_orders"), 6).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "item_a", "item_b")
        .limit(top_k)
    )


def skyline_2d(
    df: DataFrame,
    col_a: str,
    col_b: str,
    id_col: str,
    bucket_width: int = 1024,
) -> DataFrame:
    """Exact 2-D Pareto frontier (skyline): the rows not STRICTLY
    dominated on two maximize-criteria — ``y`` dominates ``x`` iff
    ``y.a >= x.a AND y.b >= x.b`` with at least one strict. Rows with
    identical (a, b) never dominate each other, so every duplicate of a
    frontier vector survives — the result is a deterministic SET. The
    multi-criteria selection tool for corpus curation ("no document
    both longer-deduped AND higher-quality exists"); minimize a
    criterion by negating it into a non-negative integer upstream.

    Both criteria must be NON-NEGATIVE integers (micro-quantize floats
    upstream — the determinism discipline shared with the stats
    family; negative values would also break the bucket floor-division
    equivalence between Spark's ``DIV`` and DuckDB's ``//``).

    Scale shape — no global sort, no all-pairs join: rows are bucketed
    by ``a DIV bucket_width``; any row in a HIGHER bucket has strictly
    larger ``a``, so cross-bucket dominance reduces to comparing
    ``b`` against the running max-``b`` of higher buckets — a
    per-bucket aggregate (model data) with a suffix-max window,
    broadcast back. Within-bucket dominance uses ONE keyed window
    (partitioned by bucket): max ``b`` over same-bucket rows with
    strictly larger ``a`` (RANGE .. 1 PRECEDING on a DESC — exact for
    integers) and with equal ``a``. Three keyed exchanges total, each
    on the bucket/key axis; the oracle verifies with an independent
    NOT-EXISTS dominance scan, so the bucket decomposition itself is
    under test.

    Returns (id_col, col_a, col_b) for frontier rows.
    """
    if bucket_width < 1:
        raise ValueError("bucket_width must be >= 1")
    a, b = F.col(col_a).cast("long"), F.col(col_b).cast("long")
    pts = df.select(
        F.col(id_col).alias("__id"), a.alias("__a"), b.alias("__b"),
        F.expr(f"CAST({col_a} AS BIGINT) DIV {bucket_width}")
        .alias("__bk"),
    )
    per_bucket = pts.groupBy("__bk").agg(F.max("__b").alias("__mb"))
    w_suffix = (
        Window.orderBy(F.col("__bk").asc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    # suffix max over HIGHER buckets; the window runs on the bucket
    # aggregate only (model data — one row per non-empty bucket)
    cross = per_bucket.select(
        "__bk", F.max("__mb").over(w_suffix).alias("__hi")
    )
    w_gt = (
        Window.partitionBy("__bk")
        .orderBy(F.col("__a").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = Window.partitionBy("__bk", "__a")
    flagged = (
        pts.join(F.broadcast(cross), "__bk")
        .select(
            "__id", "__a", "__b",
            F.max("__b").over(w_gt).alias("__gt"),
            F.max("__b").over(w_eq).alias("__eq"),
            "__hi",
        )
    )
    return (
        flagged.where(
            (F.col("__hi").isNull() | (F.col("__hi") < F.col("__b")))
            & (F.col("__gt").isNull() | (F.col("__gt") < F.col("__b")))
            & (F.col("__eq") == F.col("__b"))
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("__a").alias(col_a),
            F.col("__b").alias(col_b),
        )
    )


def concurrency_profile(
    intervals: DataFrame,
    start_col: str = "session_start",
    end_col: str = "session_end",
) -> DataFrame:
    """Peak concurrency per day from an interval table (sessions,
    connections, jobs): the classic boundary-sweep — every interval
    emits a +1 at its start and a −1 at its end, and the running sum
    over time IS the number of simultaneously active intervals — the
    capacity-planning readout (license peaks, connection-pool sizing,
    "how many users at once").

    Tie rule: at an identical timestamp the −1 sorts BEFORE the +1, so
    touching intervals (one ends exactly as another starts) never
    count as concurrent.  Intervals crossing midnight contribute their
    carry-in via a per-day opening balance computed from counts only
    (started-before minus ended-before — two broadcast-size day
    aggregates), so the running sum itself stays PARTITIONED BY DAY:
    one keyed shuffle, no global ordering, exact integers throughout.

    Returns one row per day: (day, n_starts, peak_concurrency).
    """
    b = intervals.select(
        F.col(start_col).alias("__s"), F.col(end_col).alias("__e")
    ).where("__s IS NOT NULL AND __e IS NOT NULL")
    events = b.select(
        F.col("__s").alias("ts"), F.lit(1).alias("delta")
    ).unionByName(
        b.select(F.col("__e").alias("ts"), F.lit(-1).alias("delta"))
    ).withColumn("day", F.to_date("ts"))
    # per-day opening balance: intervals that started before the day
    # and end on/after it — computed from the tiny day-keyed aggregate
    # of boundary counts, never a cross join with the corpus
    per_day_delta = events.groupBy("day").agg(
        F.sum("delta").cast("long").alias("__d"),
        F.sum(F.expr("CASE WHEN delta = 1 THEN 1 ELSE 0 END"))
        .cast("long").alias("n_starts"),
    )
    w_carry = Window.orderBy(F.col("day").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    opening = per_day_delta.select(
        "day", "n_starts",
        F.coalesce(F.sum("__d").over(w_carry), F.lit(0)).cast("long")
        .alias("__open"),
    )
    w_run = Window.partitionBy("day").orderBy(
        F.col("ts").asc(), F.col("delta").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    running = events.select(
        "day", F.sum("delta").over(w_run).cast("long").alias("__run")
    ).groupBy("day").agg(F.max("__run").cast("long").alias("__peak_in"))
    return (
        opening.join(running, "day")
        .select(
            "day", "n_starts",
            F.greatest(
                F.col("__open") + F.col("__peak_in"), F.col("__open")
            ).cast("long").alias("peak_concurrency"),
        )
        .orderBy("day")
    )


def session_exit_rates(
    events: DataFrame, gap_minutes: int = 30,
    user_col: str = "user_id", ts_col: str = "ts",
) -> DataFrame:
    """Exit analysis: for each event type, how often an event of that
    type is the LAST event of a session — ``exit_rate = sessions ended
    by the type / occurrences of the type`` — the product-analytics
    read on where journeys die (a checkout step with an outsized exit
    rate is a funnel leak; a logout with exit rate ~1 is just healthy).

    Reuses :func:`sessionize`'s single user-keyed shuffle: the same
    two windows flag session boundaries, one more row_number over the
    SAME partitioning picks each session's last event (ts desc, id
    desc — deterministic), so the whole operator is still ONE
    exchange plus the final type-keyed aggregate.  Exact integer
    counts; rates micro-quantized.

    Returns one row per event type: (event_type, n_events, n_exits,
    exit_rate_micro, exit_rate), ordered by event_type.
    """
    gap_us = gap_minutes * 60 * 1_000_000
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col("event_id").asc()
    )
    flagged = events.withColumn(
        "__new_session",
        F.when(
            F.timestamp_diff(
                "MICROSECOND", F.lag(ts_col).over(w), F.col(ts_col)
            ) > gap_us, 1
        ).otherwise(
            F.when(F.lag(ts_col).over(w).isNull(), 1).otherwise(0)
        ),
    ).withColumn(
        "__session_seq",
        F.sum("__new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    w_last = Window.partitionBy(user_col, "__session_seq").orderBy(
        F.col(ts_col).desc(), F.col("event_id").desc()
    )
    tagged = flagged.withColumn(
        "__is_last", (F.row_number().over(w_last) == 1).cast("int")
    )
    return (
        tagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("__is_last").cast("long").alias("n_exits"),
        )
        .withColumn(
            "exit_rate_micro",
            F.expr(
                "CAST(round(CAST(n_exits AS DOUBLE) "
                "/ nullif(CAST(n_events AS DOUBLE), 0.0) "
                "* 1000000.0) AS BIGINT)"
            ),
        )
        .withColumn(
            "exit_rate", F.col("exit_rate_micro").cast("double") / 1e6
        )
        .orderBy("event_type")
    )


def band_join(
    a: DataFrame,
    b: DataFrame,
    col_a: str,
    col_b: str,
    eps: float,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Numeric band join: all pairs with ``|a.value − b.value| <= eps``
    — price matching, sensor alignment, tolerance-based reconciliation
    — WITHOUT the cross join Catalyst would otherwise plan for a pure
    inequality condition.

    Classic grid decomposition: values bucket to ``floor(v / eps)``;
    any qualifying pair sits in the same or adjacent buckets, so the
    LEFT side explodes to its three candidate buckets (a bounded ×3,
    not ×|B|) and ONE equi-join on the bucket key finds every
    candidate, verified by the exact band predicate.  Shuffle cost is
    candidates, never |A|·|B|; skewed buckets (value hot spots) are
    ordinary join skew, handled by AQE.

    Returns (id_a, id_b, value_a, value_b, diff), ordered by
    (id_a, id_b).
    """
    if eps <= 0:
        raise ValueError("eps must be positive")
    av = a.select(
        F.col(id_a).alias("__ia"),
        F.expr(f"CAST(({col_a}) AS DOUBLE)").alias("__va"),
    ).where("__va IS NOT NULL")
    bv = b.select(
        F.col(id_b).alias("__ib"),
        F.expr(f"CAST(({col_b}) AS DOUBLE)").alias("__vb"),
    ).where("__vb IS NOT NULL").withColumn(
        "__bkt", F.expr(f"CAST(floor(__vb / {eps!r}d) AS BIGINT)")
    )
    probes = av.select(
        "__ia", "__va",
        F.explode(
            F.expr(
                f"array(CAST(floor(__va / {eps!r}d) AS BIGINT) - 1, "
                f"CAST(floor(__va / {eps!r}d) AS BIGINT), "
                f"CAST(floor(__va / {eps!r}d) AS BIGINT) + 1)"
            )
        ).alias("__bkt"),
    )
    return (
        probes.join(bv, "__bkt")
        .where(F.expr(f"abs(__va - __vb) <= {eps!r}d"))
        .select(
            F.col("__ia").alias(id_a), F.col("__ib").alias(id_b),
            F.col("__va").alias("value_a"), F.col("__vb").alias("value_b"),
            F.expr("round(__va - __vb, 6)").alias("diff"),
        )
        .orderBy(id_a, id_b)
    )


def gap_fill_linear(
    series: DataFrame,
    group_col: str,
    idx_col: str,
    value_col: str,
) -> DataFrame:
    """Gap-fill a per-group integer-indexed series: missing index
    points inside each group's [min, max] range are materialized and
    filled by LINEAR interpolation between the nearest observed
    neighbors — the standard pre-processing before seasonal/rolling
    analysis, where a missing period would silently shift every
    window.

    Per group: one aggregate for the index range, a ``sequence``
    explode for the spine (bounded by the range, not the corpus), a
    left join of observations, then two window passes (last observed
    before / first observed after — ``last(ignorenulls)`` forward and
    its mirror) feed one fixed-order interpolation expression.  All on
    a single group-keyed shuffle.  Returns (group, idx, value,
    filled, was_observed), ordered by (group, idx).
    """
    from pyspark.sql import Window

    obs = series.where(
        f"({group_col}) IS NOT NULL AND ({idx_col}) IS NOT NULL"
    ).select(
        F.expr(f"CAST(({group_col}) AS STRING)").alias("group"),
        F.expr(f"CAST(({idx_col}) AS BIGINT)").alias("idx"),
        F.expr(f"CAST(({value_col}) AS DOUBLE)").alias("value"),
    )
    spine = obs.groupBy("group").agg(
        F.min("idx").alias("__lo"), F.max("idx").alias("__hi")
    ).select(
        "group", F.explode(F.expr("sequence(__lo, __hi)")).alias("idx")
    )
    joined = spine.join(obs, ["group", "idx"], "left")
    w_fwd = Window.partitionBy("group").orderBy(F.col("idx").asc()) \
        .rowsBetween(Window.unboundedPreceding, 0)
    w_bwd = Window.partitionBy("group").orderBy(F.col("idx").desc()) \
        .rowsBetween(Window.unboundedPreceding, 0)
    staged = (
        joined
        .withColumn("__pv", F.last("value", ignorenulls=True).over(w_fwd))
        .withColumn(
            "__pi",
            F.last(F.when(F.col("value").isNotNull(), F.col("idx")),
                   ignorenulls=True).over(w_fwd))
        .withColumn("__nv", F.last("value", ignorenulls=True).over(w_bwd))
        .withColumn(
            "__ni",
            F.last(F.when(F.col("value").isNotNull(), F.col("idx")),
                   ignorenulls=True).over(w_bwd))
    )
    fill = (
        "CASE WHEN value IS NOT NULL THEN value "
        "ELSE round(__pv + (__nv - __pv) "
        "* (CAST(idx - __pi AS DOUBLE) "
        "/ CAST(__ni - __pi AS DOUBLE)), 6) END"
    )
    return staged.select(
        "group", "idx", "value",
        F.expr(fill).alias("filled"),
        F.col("value").isNotNull().alias("was_observed"),
    ).orderBy("group", "idx")


def trending_report(
    df: DataFrame,
    key_col: str,
    period_expr: str,
    pseudo: int = 20,
    k: int = 10,
) -> DataFrame:
    """Two-period trending keys: which keys' SHARE of activity grew
    most from the "before" period to the "after" period (``period_expr``
    must yield a boolean — TRUE = after).  Shares, not raw counts, so
    overall volume growth doesn't crown everything; additive smoothing
    (``pseudo`` pseudo-events spread over the key vocabulary) keeps
    rare keys from posting infinite lifts.

        trend = ((n_after + p/K) / (T_after + p))
              / ((n_before + p/K) / (T_before + p))

    ONE scan to the key frame (conditional counts), totals and the
    vocabulary size from an unpartitioned window over it, one
    fixed-order double per key micro-quantized, top-``k`` each way
    (rising and falling) returned.  Returns (key, n_before, n_after,
    trend_micro, trend, direction), ordered by (direction,
    trend_micro desc).
    """
    from pyspark.sql import Window

    if pseudo < 1 or k < 1:
        raise ValueError("pseudo and k must be >= 1")
    g = (
        df.where(f"({key_col}) IS NOT NULL AND ({period_expr}) IS NOT NULL")
        .groupBy(F.expr(f"CAST(({key_col}) AS STRING)").alias("key"))
        .agg(
            F.expr(f"CAST(sum(CASE WHEN ({period_expr}) THEN 0 ELSE 1 "
                   "END) AS BIGINT)").alias("n_before"),
            F.expr(f"CAST(sum(CASE WHEN ({period_expr}) THEN 1 ELSE 0 "
                   "END) AS BIGINT)").alias("n_after"),
        )
    )
    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    staged = (
        g.withColumn("__tb", F.sum("n_before").over(w).cast("long"))
        .withColumn("__ta", F.sum("n_after").over(w).cast("long"))
        .withColumn("__k", F.count(F.lit(1)).over(w).cast("long"))
    )
    trend = (
        f"((CAST(n_after AS DOUBLE) + {pseudo}.0d / CAST(__k AS DOUBLE)) "
        f"/ (CAST(__ta AS DOUBLE) + {pseudo}.0d)) "
        f"/ (((CAST(n_before AS DOUBLE) + {pseudo}.0d "
        f"/ CAST(__k AS DOUBLE)) / (CAST(__tb AS DOUBLE) + {pseudo}.0d)))"
    )
    scored = staged.withColumn(
        "trend_micro",
        F.expr(f"CAST(round(({trend}) * 1000000.0) AS BIGINT)"),
    ).withColumn("trend", F.col("trend_micro").cast("double") / 1e6)
    rising = (
        scored.withColumn(
            "__r", F.row_number().over(
                Window.orderBy(F.col("trend_micro").desc(),
                               F.col("key").asc())))
        .where(F.col("__r") <= k)
        .withColumn("direction", F.lit("rising"))
    )
    falling = (
        scored.withColumn(
            "__r", F.row_number().over(
                Window.orderBy(F.col("trend_micro").asc(),
                               F.col("key").asc())))
        .where(F.col("__r") <= k)
        .withColumn("direction", F.lit("falling"))
    )
    return (
        rising.unionByName(falling)
        .select("key", "n_before", "n_after", "trend_micro", "trend",
                "direction")
        .orderBy("direction", F.col("trend_micro").desc(),
                 F.col("key").asc())
    )


def growth_accounting(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """Growth accounting (the MAU/WAU bridge): each period's active
    users split into NEW (first period ever), RETAINED (also active
    the previous period), and RESURRECTED (active before, but not the
    previous period), plus the previous period's users who CHURNED —
    the standard decomposition that explains *why* the active count
    moved (retention problem vs acquisition problem look identical on
    a MAU line).

    ONE distinct over (user, period) — the exchange carries active
    cells, not events — then per-user lag/min windows classify each
    cell, and one period aggregate; churn counts arrive by shifting
    each cell forward one period and anti-classifying.  Identity
    pinned by construction: active = new + retained + resurrected.

    Returns one row per period: (period, n_active, n_new, n_retained,
    n_resurrected, n_churned), ordered by period.
    """
    from pyspark.sql import Window

    cells = (
        events.where(f"({user_col}) IS NOT NULL AND ({ts_col}) IS NOT NULL")
        .select(
            F.col(user_col).alias("__u"),
            F.expr(f"date_trunc('{period}', CAST({ts_col} AS DATE))")
            .alias("__p"),
        )
        .distinct()
    )
    w_u = Window.partitionBy("__u").orderBy(F.col("__p").asc())
    tagged = (
        cells
        .withColumn("__first", F.min("__p").over(Window.partitionBy("__u")))
        .withColumn("__prev", F.lag("__p").over(w_u))
        .withColumn("__next", F.lead("__p").over(w_u))
    )
    # classify with exact period stepping: the previous active period
    # is "adjacent" iff stepping THIS period back by one lands on it
    step_back = (
        "date_add(CAST(__p AS DATE), -7)" if period == "week"
        else "add_months(CAST(__p AS DATE), -1)"
    )
    step_fwd = (
        "date_add(CAST(__p AS DATE), 7)" if period == "week"
        else "add_months(CAST(__p AS DATE), 1)"
    )
    per = tagged.groupBy(F.col("__p").alias("period")).agg(
        F.count(F.lit(1)).cast("long").alias("n_active"),
        F.sum(F.expr("CASE WHEN __p = __first THEN 1 ELSE 0 END"))
        .cast("long").alias("n_new"),
        F.sum(F.expr(
            f"CASE WHEN __prev IS NOT NULL AND CAST(__prev AS DATE) "
            f"= {step_back} THEN 1 ELSE 0 END"))
        .cast("long").alias("n_retained"),
        F.sum(F.expr(
            f"CASE WHEN __p != __first AND (__prev IS NULL "
            f"OR CAST(__prev AS DATE) != {step_back}) THEN 1 ELSE 0 END"))
        .cast("long").alias("n_resurrected"),
    )
    churn = tagged.groupBy(
        F.expr(f"CAST({step_fwd} AS TIMESTAMP)").alias("period")
    ).agg(
        F.sum(F.expr(
            f"CASE WHEN __next IS NULL OR CAST(__next AS DATE) "
            f"!= {step_fwd} THEN 1 ELSE 0 END"))
        .cast("long").alias("n_churned"),
    )
    return (
        per.join(churn, "period", "left")
        .select(
            F.expr("CAST(period AS DATE)").alias("period"),
            "n_active", "n_new", "n_retained", "n_resurrected",
            F.coalesce(F.col("n_churned"), F.lit(0)).cast("long")
            .alias("n_churned"),
        )
        .orderBy("period")
    )


def arrival_dispersion(
    events: DataFrame,
    ts_col: str = "ts",
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Arrival burstiness: the index of dispersion (variance-to-mean
    ratio) of per-bucket event counts — ≈1 under a Poisson process,
    >1 bursty (campaign spikes, retry storms), <1 regular (schedulers,
    rate limiters).  The one-number answer to "can I capacity-plan
    this stream with Poisson math".

    One bucket-count aggregate (exact integers over epoch-second
    division — NTZ-safe), then exact decimal moments over the bucket
    frame; the index and its large-sample z against 1 (dispersion test:
    ``(D−1)·sqrt((n−1)/2)``) are fixed-order doubles, micro-quantized.
    Buckets with zero events inside the observed span are materialized
    via the spine so silence counts as regularity evidence.

    Returns one row: (n_buckets, mean_per_bucket, var_per_bucket,
    dispersion, z_vs_poisson).
    """
    if bucket_seconds < 1:
        raise ValueError("bucket_seconds must be >= 1")
    b = (
        events.where(f"({ts_col}) IS NOT NULL")
        .select(
            F.expr(
                f"CAST(floor(timestampdiff(SECOND, "
                f"TIMESTAMP'1970-01-01 00:00:00', {ts_col}) "
                f"/ {bucket_seconds}.0d) AS BIGINT)"
            ).alias("__b")
        )
        .groupBy("__b")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    spine = b.agg(
        F.min("__b").alias("__lo"), F.max("__b").alias("__hi")
    ).select(F.explode(F.expr("sequence(__lo, __hi)")).alias("__b"))
    full = spine.join(b, "__b", "left").select(
        F.coalesce(F.col("__c"), F.lit(0)).cast("long").alias("c"))
    m = full.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("c").cast("long").alias("__s"),
        F.sum(F.expr("c * c")).cast("long").alias("__q"),
    ).select(
        "n_buckets",
        F.col("n_buckets").cast("double").alias("__n_d"),
        F.col("__s").cast("double").alias("__s_d"),
        F.col("__q").cast("double").alias("__q_d"),
    )
    mean = "(__s_d / nullif(__n_d, 0.0))"
    var = ("((__q_d - __s_d * __s_d / __n_d) "
           "/ nullif(__n_d - 1.0, 0.0))")
    disp = f"(({var}) / nullif({mean}, 0.0))"
    return m.select(
        "n_buckets",
        F.expr(f"CAST(round(({mean}) * 1000000.0) AS BIGINT) / 1e6")
        .cast("double").alias("mean_per_bucket"),
        F.expr(f"CAST(round(({var}) * 1000000.0) AS BIGINT) / 1e6")
        .cast("double").alias("var_per_bucket"),
        F.expr(f"CAST(round(({disp}) * 1000000.0) AS BIGINT) / 1e6")
        .cast("double").alias("dispersion"),
        F.expr(
            f"CAST(round((({disp}) - 1.0) "
            "* sqrt((__n_d - 1.0) / 2.0) * 1000000.0) AS BIGINT) / 1e6"
        ).cast("double").alias("z_vs_poisson"),
    )


def metric_anomaly_leaderboard(
    df: DataFrame,
    key_col: str,
    idx_col: str,
    value_col: str,
    current_idx: int,
    k: int = 10,
    dec: str = "decimal(18,4)",
) -> DataFrame:
    """Which series moved most THIS period: for every key, the current
    period's value scored as a z against the key's OWN history — the
    fleet-wide anomaly leaderboard (hundreds of metrics, one ranked
    page) that a per-series alert threshold can't give you.

    One conditional aggregation per key over the pre-aggregated
    (key, idx, value) frame: history moments (idx < current) in exact
    decimals plus the current value in the same pass — no join, no
    second scan; z is a fixed-order double micro-quantized, top-``k``
    by |z| (ties by key).  Keys with < 2 history points or zero
    variance are skipped (z undefined).  Returns (key, n_hist,
    mean_hist, current_value, z), ordered by |z| desc.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    x = F.expr(f"CAST(({value_col}) AS {dec})")
    hist = F.expr(f"({idx_col}) < {current_idx}")
    cur = F.expr(f"({idx_col}) = {current_idx}")
    g = (
        df.where(f"({key_col}) IS NOT NULL AND ({idx_col}) IS NOT NULL "
                 f"AND ({value_col}) IS NOT NULL "
                 f"AND ({idx_col}) <= {current_idx}")
        .groupBy(F.expr(f"CAST(({key_col}) AS STRING)").alias("key"))
        .agg(
            F.sum(F.when(hist, 1).otherwise(0)).cast("long")
            .alias("n_hist"),
            F.sum(F.when(hist, x)).alias("__s"),
            F.sum(F.when(hist, x * x)).alias("__q"),
            F.max(F.when(cur, x)).alias("__cur"),
        )
        .where("n_hist >= 2 AND __cur IS NOT NULL")
        .select(
            "key", "n_hist",
            F.col("n_hist").cast("double").alias("__n_d"),
            F.col("__s").cast("double").alias("__s_d"),
            F.col("__q").cast("double").alias("__q_d"),
            F.col("__cur").cast("double").alias("current_value"),
        )
    )
    mean = "(__s_d / __n_d)"
    sd = ("sqrt((__q_d - __s_d * __s_d / __n_d) "
          "/ nullif(__n_d - 1.0, 0.0))")
    z = f"((current_value - {mean}) / nullif({sd}, 0.0))"
    scored = g.select(
        "key", "n_hist",
        F.expr(f"round({mean}, 6)").alias("mean_hist"),
        F.expr("round(current_value, 6)").alias("current_value"),
        F.expr(f"CAST(round(({z}) * 1000000.0) AS BIGINT)")
        .alias("__z_micro"),
    ).where("__z_micro IS NOT NULL")
    return (
        scored.withColumn(
            "__r", F.row_number().over(
                Window.orderBy(F.expr("abs(__z_micro)").desc(),
                               F.col("key").asc())))
        .where(F.col("__r") <= k)
        .select("key", "n_hist", "mean_hist", "current_value",
                (F.col("__z_micro").cast("double") / 1e6).alias("z"))
        .orderBy(F.expr("abs(__z_micro)").desc(), F.col("key").asc())
    )
