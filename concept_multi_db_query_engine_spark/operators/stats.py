"""Exact-sum statistics operators: correlation matrix, OLS regression,
two-proportion A/B significance, chi-square independence.

The blocker for cross-engine-verifiable statistics is floating-point
summation order: ``SUM(double)`` depends on partition layout, so a naive
Pearson correlation differs between runs, let alone engines.  Every
operator here follows the repo's determinism discipline instead
(ANALYTICS ``DECIMAL`` money math, ``graph.pagerank`` integer units):

* moments (Σx, Σx², Σxy) accumulate in ``DECIMAL`` — exact and
  associative, so Spark's parallel partial aggregation and a sequential
  DuckDB replay agree bit-for-bit;
* the closed-form statistic is then evaluated ONCE per group in
  ``double`` with an explicitly parenthesised expression tree, which two
  IEEE-754 engines round identically;
* where a final reduction over a *small* set of float terms is
  unavoidable (chi-square over contingency cells), the terms are
  collected into a sorted array and folded left-to-right with
  ``aggregate()`` — a deterministic sequential sum, not ``SUM``.

Scale shape: every operator is a single map-side-combined aggregation
pass over the fact table (one shuffle carrying O(groups) partial rows);
the statistic itself is computed on a frame of at most |cells| rows.

Reference behavior parity: the reference exposes no statistics surface
(its DSL stops at count/min/max/sum/avg, QUERY_SEMANTICS.md); these
extend the north-star analytics toolkit the way `operators/insights.py`
does, with the same oracle-replayable contract.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

# Moment accumulators: DECIMAL(12,4) inputs (exact for the testdata's
# money/quantity/ratio columns), DECIMAL(25,8) products -> Spark sums at
# DECIMAL(35,8)/DuckDB DECIMAL(38,8), exact on both within precision 38.
# Under ANSI mode a value beyond the input precision FAILS the cast
# loudly (no silent truncation); every moment-based operator takes a
# ``dec`` override for wider domains — keep products within precision
# 38 when raising it (p<=19 with scale 4 is safe).
_DEC = "decimal(12,4)"

# Loud-validation escape hatch for the ``known_groups`` fast paths:
# when True, every operator that accepts a caller-declared group enum
# runs one bounded probe and raises if rows outside the declared enum
# exist (or, for dunns_test, if the true cardinality exceeds the
# declared trust), instead of silently excluding them.  Off by
# default — the entry's TPC-H priority enum is complete by public
# spec (TPC-H §4.2.3) and oracle-exact at two SFs; the flag exists so
# non-spec callers can opt into the loud path without paying the
# probe scan in the spec-complete case.
VALIDATE_KNOWN_GROUPS = False


def _assert_known_groups_complete(base, col, allowed, fn: str) -> None:
    """When :data:`VALIDATE_KNOWN_GROUPS` is set, raise if ``base``
    holds any row whose ``col`` value is outside ``allowed`` (one
    limit(1)-bounded job; a no-op otherwise)."""
    if not VALIDATE_KNOWN_GROUPS:
        return
    extra = base.where(~F.col(col).isin(list(allowed))).limit(1).count()
    if extra:
        raise ValueError(
            f"{fn}: known_groups is incomplete — rows with group "
            "values outside the declared enum exist and would be "
            "silently excluded; fix the enum or drop known_groups "
            "to use the probed path"
        )


def _m(col: str, dec: str = _DEC):
    return F.col(col).cast(dec)


def _corr_expr(n: str, sx: str, sy: str, sxy: str, sxx: str, syy: str) -> str:
    """Pearson r as one fixed-shape double expression over exact sums.

    The same text is emitted into the DuckDB oracle, so both engines
    evaluate the identical IEEE-754 operation tree.
    """
    return (
        f"round(({n} * {sxy} - {sx} * {sy}) / "
        f"nullif(sqrt({n} * {sxx} - {sx} * {sx}) * "
        f"sqrt({n} * {syy} - {sy} * {sy}), 0.0d), 6)"
    )


def column_correlations(
    df: DataFrame, cols: list[str], dec: str = _DEC
) -> DataFrame:
    """Pairwise Pearson correlation matrix (upper triangle) over numeric
    columns, from exact decimal moments.

    ONE aggregation job computes every moment (count, Σx, Σx², Σxy for
    all pairs) map-side-combined; the per-pair correlations are then a
    constant-size projection of the single moment row.  No per-pair
    passes, no ``corr()`` (whose double accumulation is partition-order
    dependent).  Scale: the shuffle carries one partial row per task
    regardless of |df| or the number of columns.

    Returns (col_x, col_y, n_rows, corr) ordered by (col_x, col_y).
    """
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.sum(_m(c, dec)).alias(f"s_{c}"))
        aggs.append(F.sum(_m(c, dec) * _m(c, dec)).alias(f"s2_{c}"))
    for a, b in combinations(cols, 2):
        aggs.append(F.sum(_m(a, dec) * _m(b, dec)).alias(f"p_{a}_{b}"))
    moments = df.agg(*aggs).select(
        F.col("n").cast("double").alias("n_d"),
        F.col("n").alias("n"),
        *[F.col(f"s_{c}").cast("double").alias(f"sd_{c}") for c in cols],
        *[F.col(f"s2_{c}").cast("double").alias(f"s2d_{c}") for c in cols],
        *[
            F.col(f"p_{a}_{b}").cast("double").alias(f"pd_{a}_{b}")
            for a, b in combinations(cols, 2)
        ],
    )
    pair_structs = ", ".join(
        f"struct('{a}' AS col_x, '{b}' AS col_y, n AS n_rows, "
        + _corr_expr("n_d", f"sd_{a}", f"sd_{b}", f"pd_{a}_{b}",
                     f"s2d_{a}", f"s2d_{b}")
        + " AS corr)"
        for a, b in combinations(cols, 2)
    )
    return (
        moments.select(
            F.expr(f"inline(array({pair_structs}))")
        ).orderBy("col_x", "col_y")
    )


def ols_fit(
    df: DataFrame, x_col: str, y_col: str, dec: str = _DEC
) -> DataFrame:
    """Least-squares line y = slope·x + intercept with R², from exact
    decimal moments — the distributed closed-form normal equations, not
    an iterative solver.

    Single aggregation pass (same shape as :func:`column_correlations`);
    the slope/intercept/R² projection runs on one row.  Returns one row
    (x_col, y_col, n_rows, slope, intercept, r2).
    """
    x, y = _m(x_col, dec), _m(y_col, dec)
    moments = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    ).select(
        F.col("n"),
        F.col("n").cast("double").alias("n_d"),
        *[F.col(c).cast("double").alias(f"{c}_d")
          for c in ("sx", "sy", "sxx", "syy", "sxy")],
    )
    return moments.select(
        F.lit(x_col).alias("x_col"),
        F.lit(y_col).alias("y_col"),
        F.col("n").alias("n_rows"),
        F.expr(
            "round((n_d * sxy_d - sx_d * sy_d) / "
            "nullif(n_d * sxx_d - sx_d * sx_d, 0.0d), 6)"
        ).alias("slope"),
        F.expr(
            "round((sy_d - ((n_d * sxy_d - sx_d * sy_d) / "
            "nullif(n_d * sxx_d - sx_d * sx_d, 0.0d)) * sx_d) / n_d, 6)"
        ).alias("intercept"),
        F.expr(
            "round(((n_d * sxy_d - sx_d * sy_d) * (n_d * sxy_d - sx_d * sy_d))"
            " / nullif((n_d * sxx_d - sx_d * sx_d) * "
            "(n_d * syy_d - sy_d * sy_d), 0.0d), 6)"
        ).alias("r2"),
    )


def ab_test(
    events: DataFrame,
    conversion_event: str = "purchase",
    salt: str = "ab1",
    user_col: str = "user_id",
    type_col: str = "event_type",
    min_value: float | None = None,
    value_col: str = "value",
    z_crit: float = 1.959964,
) -> DataFrame:
    """Two-proportion z-test on a deterministic 50/50 user split.

    Variant assignment reuses the :func:`text.hash_split` discipline —
    md5(user:salt) parity, no RNG — so the same user lands in the same
    arm on any engine and re-salting re-rolls the experiment.  Unit of
    analysis is the USER (not the event): one shuffle keyed by user
    reduces to per-user (variant, converted) — map-side combined — then
    a constant-size conditional aggregate yields both arms' exact
    integer counts in one row.  The z statistic is a fixed-shape double
    expression over those integers; only it and the rates are floats.

    ``min_value`` optionally requires the conversion event to carry at
    least that ``value_col`` (e.g. "purchase of >= $150") — without a
    qualifier, high-traffic corpora convert every user and the test is
    degenerate.  When a proportion is 0 or 1 (or an arm is empty), the z
    denominator is NULL-guarded: z_score/significant come back NULL
    rather than an ANSI divide-by-zero.

    Returns one row: (n_a, n_b, conv_a, conv_b, rate_a, rate_b, z_score,
    significant).
    """
    parity = F.conv(
        F.substring(
            F.md5(F.concat(F.col(user_col).cast("string"), F.lit(":" + salt))),
            1, 15,
        ),
        16, 10,
    ).cast("long") % 2
    hit = F.col(type_col) == conversion_event
    if min_value is not None:
        hit = hit & (F.col(value_col) >= F.lit(float(min_value)))
    per_user = (
        events.groupBy(F.col(user_col))
        .agg(F.max(F.when(hit, 1).otherwise(0)).alias("converted"))
        .select((parity == 0).alias("is_a"), "converted")
    )
    counts = per_user.agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0))
        .cast("long").alias("n_a"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0))
        .cast("long").alias("n_b"),
        F.sum(F.when(F.col("is_a"), F.col("converted")).otherwise(0))
        .cast("long").alias("conv_a"),
        F.sum(F.when(~F.col("is_a"), F.col("converted")).otherwise(0))
        .cast("long").alias("conv_b"),
    )
    z = (
        "((cast(conv_a AS double) / nullif(cast(n_a AS double), 0.0d)) - "
        "(cast(conv_b AS double) / nullif(cast(n_b AS double), 0.0d))) / "
        "nullif(sqrt("
        "(cast(conv_a + conv_b AS double) / cast(n_a + n_b AS double)) "
        "* (1.0d - cast(conv_a + conv_b AS double) / "
        "cast(n_a + n_b AS double)) "
        "* (1.0d / nullif(cast(n_a AS double), 0.0d) "
        "+ 1.0d / nullif(cast(n_b AS double), 0.0d))), 0.0d)"
    )
    return counts.select(
        "n_a", "n_b", "conv_a", "conv_b",
        F.expr(
            "round(cast(conv_a AS double) "
            "/ nullif(cast(n_a AS double), 0.0d), 6)"
        ).alias("rate_a"),
        F.expr(
            "round(cast(conv_b AS double) "
            "/ nullif(cast(n_b AS double), 0.0d), 6)"
        ).alias("rate_b"),
        F.expr(f"round({z}, 6)").alias("z_score"),
        F.expr(f"abs({z}) > {z_crit}d").alias("significant"),
    )


def chi_square_independence(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Chi-square test of independence between two categorical columns.

    Observed counts come from one map-side-combined aggregation; margins
    join back on the |A|- and |B|-row total frames (AQE broadcasts
    them).  Each cell's contribution is computed from EXACT integers —
    ``(obs·n − rowΣ·colΣ)²/(n·rowΣ·colΣ)`` is algebraically
    ``(obs−exp)²/exp`` with no float expected-count intermediate — and
    the final reduction folds the sorted cell array left-to-right with
    ``aggregate()``: a sequential, engine-independent sum over ≤|A|·|B|
    terms, never a partition-order-dependent ``SUM(double)``.

    Returns one row: (n_rows, n_cells, dof, chi2).
    """
    return _chi2_folded(df, col_a, col_b).select(
        "n_rows",
        "n_cells",
        F.expr("(ka - 1) * (kb - 1)").alias("dof"),
        F.expr("round(chi2_raw, 6)").alias("chi2"),
    )


def _chi2_folded(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Shared contingency machinery: one row with (n_rows, n_cells, ka,
    kb, chi2_raw) — consumed by :func:`chi_square_independence` and
    :func:`cramers_v`."""
    # PIN the cell frame: ka x kb rows referenced four times (row/col/
    # grand totals + the cells join) — un-pinned, four corpus scans
    obs = (
        df.groupBy(
            F.col(col_a).alias("a"), F.col(col_b).alias("b")
        ).agg(F.count(F.lit(1)).alias("obs"))
    ).localCheckpoint(eager=False)
    row_tot = obs.groupBy("a").agg(F.sum("obs").alias("ra"))
    col_tot = obs.groupBy("b").agg(F.sum("obs").alias("cb"))
    n_tot = obs.agg(F.sum("obs").alias("n"))
    cells = (
        obs.join(row_tot, "a")
        .join(col_tot, "b")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "a", "b", "n",
            # d = obs*n - ra*cb fits a long up to ~3e9 rows; d is cast to
            # double (exact below 2^53) so the squaring never overflows.
            F.expr("obs * n - ra * cb").alias("d"),
            F.expr("ra * cb").alias("rc"),
        )
    )
    # zero-observation cells never materialize in the obs frame, but
    # Pearson's statistic includes them: each contributes exactly its
    # expected count e = ra*cb/n, and summing over the MISSING cells is
    # n - sum(e over observed cells) since all e sum to n — one extra
    # exact aggregate, no cell cross join
    return cells.groupBy().agg(
        F.max("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_cells"),
        F.expr("count(distinct a)").alias("ka"),
        F.expr("count(distinct b)").alias("kb"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(a, b, d, rc, n))), "
            "cast(0 AS double), (acc, t) -> acc + "
            "(cast(t.d AS double) * cast(t.d AS double)) / "
            "(cast(t.n AS double) * cast(t.rc AS double))) "
            "+ (CAST(max(n) AS DOUBLE) "
            "- CAST(sum(CAST(rc AS DECIMAL(38,0))) AS DOUBLE) "
            "/ CAST(max(n) AS DOUBLE))"
        ).alias("chi2_raw"),
    )


def cramers_v(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cramér's V — the [0, 1] EFFECT SIZE for a contingency table:
    ``V = sqrt(chi2 / (n · min(ka−1, kb−1)))``.  The chi-square
    statistic alone grows with n (everything is "significant" at 100 TB);
    V answers how strongly the two categoricals are associated, on a
    scale comparable across tables.  Shares
    :func:`chi_square_independence`'s exact-integer cell machinery and
    sorted fold; V micro-quantizes the one extra sqrt expression.

    Returns one row: (n_rows, ka, kb, chi2, v).
    """
    return _chi2_folded(df, col_a, col_b).select(
        "n_rows", "ka", "kb",
        F.expr("round(chi2_raw, 6)").alias("chi2"),
        F.expr(
            "CAST(round(sqrt(chi2_raw / nullif(CAST(n_rows AS DOUBLE) "
            "* CAST(least(ka - 1, kb - 1) AS DOUBLE), 0.0)) "
            "* 1000000.0) AS BIGINT) / 1e6"
        ).cast("double").alias("v"),
    )


def ols_fit_by(
    df: DataFrame, x_col: str, y_col: str, group_cols: list[str],
    dec: str = _DEC,
) -> DataFrame:
    """Per-group least-squares lines — :func:`ols_fit` generalized to one
    map-side-combined ``groupBy`` (groups' moments accumulate in the same
    exact decimals; the closed-form projection runs on |groups| rows).
    Returns one row per group (group_cols..., n_rows, slope, intercept,
    r2) ordered by the group columns."""
    x, y = _m(x_col, dec), _m(y_col, dec)
    moments = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    ).select(
        *group_cols,
        F.col("n"),
        F.col("n").cast("double").alias("n_d"),
        *[F.col(c).cast("double").alias(f"{c}_d")
          for c in ("sx", "sy", "sxx", "syy", "sxy")],
    )
    return moments.select(
        *group_cols,
        F.col("n").alias("n_rows"),
        F.expr(
            "round((n_d * sxy_d - sx_d * sy_d) / "
            "nullif(n_d * sxx_d - sx_d * sx_d, 0.0d), 6)"
        ).alias("slope"),
        F.expr(
            "round((sy_d - ((n_d * sxy_d - sx_d * sy_d) / "
            "nullif(n_d * sxx_d - sx_d * sx_d, 0.0d)) * sx_d) / n_d, 6)"
        ).alias("intercept"),
        F.expr(
            "round(((n_d * sxy_d - sx_d * sy_d) * (n_d * sxy_d - sx_d * sy_d))"
            " / nullif((n_d * sxx_d - sx_d * sx_d) * "
            "(n_d * syy_d - sy_d * sy_d), 0.0d), 6)"
        ).alias("r2"),
    ).orderBy(*group_cols)


def distributed_prefix_counts(
    vals: DataFrame,
    value_col: str,
    count_cols: list[str],
    with_lead: bool = False,
):
    """The offset-rank idiom, generalized — EXACT global running sums
    over a value-ordered frame with NO un-partitioned window (the
    round-8 verdict's scale flag: a global ``Window.orderBy`` over a
    distinct-value frame serializes the whole frame through one task
    once the value domain is continuous — at 100 TB, distinct ≈ corpus).

    Given a frame with one row per distinct ``value_col`` and one or
    more ``count_cols``, attaches for each count column ``c``:

    * ``__cum_<c>``    — inclusive running sum in value order, and
    * ``__before_<c>`` — the exclusive prefix (``__cum_<c> - c``),

    plus ``__next_v`` (the next distinct value in global order, NULL on
    the maximum) when ``with_lead`` — the step width for CDF integrals.

    Shape (the :func:`~..operators.analytics.distributed_group_quantiles`
    / distributed-NTILE pattern): range-repartition by value so partition
    id is MONOTONE in value, ``localCheckpoint`` pin (repartitionByRange
    re-samples boundaries on recompute — the pin keeps the pid column
    consistent across the two passes), O(partitions) total rows to the
    driver, broadcast-join each partition's exclusive offset back, then a
    WITHIN-partition running-sum window.  Every stage parallel; the only
    driver-side data is one row per shuffle partition.

    ``value_col`` may instead be a LIST of sort Columns (e.g.
    ``[F.col("__v").desc(), F.col("key").asc()]``) for multi-key
    orderings — ``with_lead`` then requires the single-string form.
    Count columns may be integral (running sums stay BIGINT) or DECIMAL
    (running sums keep Spark's widened sum type; offsets ride exact
    ``Decimal`` literals), so cumulative money works too.

    Returns ``(frame, totals)`` where ``totals[c]`` is the exact grand
    total of ``c`` (free from the offset pass — callers drop their
    all-rows total windows).
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    if isinstance(value_col, str):
        order_exprs = [F.col(value_col).asc()]
    else:
        if with_lead:
            raise ValueError(
                "with_lead needs a single value column name"
            )
        order_exprs = list(value_col)
    tagged = (
        vals.repartitionByRange(*order_exprs)
        .sortWithinPartitions(*order_exprs)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    integral = {
        c: isinstance(
            tagged.schema[c].dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
        )
        for c in count_cols
    }
    aggs = [
        (F.sum(c).cast("long") if integral[c] else F.sum(c))
        .alias(f"__t_{c}")
        for c in count_cols
    ]
    if with_lead:
        aggs.append(
            F.min(F.col(value_col).cast("double")).alias("__first_v")
        )
    from decimal import Decimal

    totals_df = tagged.groupBy("__pid").agg(*aggs)
    sum_types = {
        c: totals_df.schema[f"__t_{c}"].dataType for c in count_cols
    }
    part = sorted(totals_df.collect(), key=lambda r: r["__pid"])
    acc = {
        c: (Decimal(0) if isinstance(sum_types[c], T.DecimalType)
            else 0)
        for c in count_cols
    }
    offs = []
    for i, r in enumerate(part):
        row = [r["__pid"]] + [acc[c] for c in count_cols]
        if with_lead:
            nxt = next(
                (float(rr["__first_v"]) for rr in part[i + 1:]
                 if rr["__first_v"] is not None),
                None,
            )
            row.append(nxt)
        offs.append(tuple(row))
        for c in count_cols:
            t = r[f"__t_{c}"]
            if t is not None:
                acc[c] += t
    schema = T.StructType(
        [T.StructField("__pid", T.IntegerType())]
        + [T.StructField(f"__off_{c}", sum_types[c])
           for c in count_cols]
        + ([T.StructField("__next_part_v", T.DoubleType())]
           if with_lead else [])
    )
    offsets_df = local_frame(vals.sparkSession, offs, schema)
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = tagged.join(F.broadcast(offsets_df), "__pid")
    for c in count_cols:
        cum = F.sum(c).over(w) + F.col(f"__off_{c}")
        if integral[c]:
            cum = cum.cast("long")
        out = out.withColumn(f"__cum_{c}", cum)
        before = F.col(f"__cum_{c}") - F.col(c)
        if integral[c]:
            before = before.cast("long")
        out = out.withColumn(f"__before_{c}", before)
    if with_lead:
        out = out.withColumn(
            "__next_v",
            F.coalesce(
                F.lead(F.col(value_col).cast("double")).over(
                    Window.partitionBy("__pid").orderBy(*order_exprs)
                ),
                F.col("__next_part_v"),
            ),
        )
    out = out.drop(
        "__pid", "__next_part_v",
        *[f"__off_{c}" for c in count_cols],
    )
    return out, acc


def _cumulative_pair_counts(
    df: DataFrame, value_col: str, group_col: str, group_a, group_b
):
    """Shared machinery for the rank tests (:func:`ks_test`,
    :func:`mann_whitney_u`): reduce observations to per-distinct-value
    pair counts, then attach EXACT global cumulative counts via
    :func:`distributed_prefix_counts` — every stage parallel; no global
    window; no full sort on one task.

    Returns (cum_frame(na, nb, ca, cb), n_a, n_b) — per-value counts and
    inclusive cumulatives, plus the group totals.
    """
    pts = (
        df.where(
            F.col(group_col).isin([group_a, group_b])
            & F.col(value_col).isNotNull()
        )
        .select(
            F.col(value_col).alias("v"),
            (F.col(group_col) == F.lit(group_a)).alias("is_a"),
        )
    )
    per_v = pts.groupBy("v").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0))
        .cast("long").alias("na"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0))
        .cast("long").alias("nb"),
    )
    cum, totals = distributed_prefix_counts(per_v, "v", ["na", "nb"])
    n_a, n_b = totals["na"], totals["nb"]
    if n_a == 0 or n_b == 0:
        return None, n_a, n_b
    cum = cum.select(
        "na", "nb",
        F.col("__cum_na").alias("ca"),
        F.col("__cum_nb").alias("cb"),
    )
    return cum, n_a, n_b


def ks_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    c_alpha: float = 1.358,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test, EXACT and distributed: the D
    statistic's numerator ``max |cumA·N_B − cumB·N_A|`` is an integer —
    only the final division and the critical-value comparison are floats
    — so the result is partitioning- and engine-independent with no
    rank-sort on a single machine.

    Shape: one shuffle reduces observations to per-distinct-value pair
    counts; the cumulative counts then use the repo's offset-rank idiom
    (``distributed_ntile``): range-repartition by value,
    ``localCheckpoint`` pin (repartitionByRange re-samples boundaries on
    recompute), O(partitions) count rows to the driver, broadcast-join
    the partition offsets back, and a WITHIN-PARTITION running-sum
    window — every stage parallel, no global window, no full sort on one
    task.  Overflow bound: |N_A·N_B| must fit a signed 64-bit integer
    (fine through ~3·10⁹ observations per side).

    Returns one row: (n_a, n_b, d_num, d_stat, significant) where
    ``significant`` applies the large-sample critical value
    ``c(α)·sqrt((n_a+n_b)/(n_a·n_b))`` (default c = 1.358, α = 0.05).
    """
    cum, n_a, n_b = _cumulative_pair_counts(
        df, value_col, group_col, group_a, group_b
    )
    if n_a == 0 or n_b == 0:
        return local_frame(
            df.sparkSession,
            [(n_a, n_b)], "n_a long, n_b long"
        ).select(
            "n_a", "n_b",
            F.lit(None).cast("long").alias("d_num"),
            F.lit(None).cast("double").alias("d_stat"),
            F.lit(None).cast("boolean").alias("significant"),
        )
    d_num_frame = cum.agg(
        F.max(
            F.abs(F.col("ca") * F.lit(n_b) - F.col("cb") * F.lit(n_a))
        ).alias("d_num")
    )
    d = (
        f"CAST(d_num AS DOUBLE) / "
        f"(CAST({n_a} AS DOUBLE) * CAST({n_b} AS DOUBLE))"
    )
    crit = (
        f"{c_alpha}d * sqrt((CAST({n_a} AS DOUBLE) + CAST({n_b} AS DOUBLE))"
        f" / (CAST({n_a} AS DOUBLE) * CAST({n_b} AS DOUBLE)))"
    )
    return d_num_frame.select(
        F.lit(n_a).alias("n_a"),
        F.lit(n_b).alias("n_b"),
        "d_num",
        F.expr(f"round({d}, 6)").alias("d_stat"),
        F.expr(f"{d} > {crit}").alias("significant"),
    )


def welch_t_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    t_crit: float = 1.959964,
    dec: str = _DEC,
) -> DataFrame:
    """Welch's unequal-variance t-test on two groups' means — the
    parametric sibling of :func:`ks_test` (which compares whole
    distributions).

    ONE conditional aggregation pass computes both groups' exact decimal
    moments (n, Σx, Σx²); mean, variance, the t statistic and the
    Welch–Satterthwaite degrees of freedom are then a fixed-shape double
    projection over one row, mirrored verbatim in the oracle.
    ``significant`` applies the large-sample normal critical value; for
    tiny samples compare the returned ``df_welch`` against a t table.
    Groups of size < 2 (zero variance denominator) yield NULLs.

    Returns one row: (n_a, n_b, mean_a, mean_b, t_stat, df_welch,
    significant).
    """
    in_a = F.col(group_col) == F.lit(group_a)
    in_b = F.col(group_col) == F.lit(group_b)
    x = _m(value_col, dec)
    moments = df.where(
        (in_a | in_b) & F.col(value_col).isNotNull()
    ).agg(
        F.sum(F.when(in_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(in_b, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(in_a, x)).alias("sa"),
        F.sum(F.when(in_b, x)).alias("sb"),
        F.sum(F.when(in_a, x * x)).alias("qa"),
        F.sum(F.when(in_b, x * x)).alias("qb"),
    ).select(
        "n_a", "n_b",
        F.col("n_a").cast("double").alias("na_d"),
        F.col("n_b").cast("double").alias("nb_d"),
        *[F.col(c).cast("double").alias(f"{c}_d")
          for c in ("sa", "sb", "qa", "qb")],
    )
    # se2_x = var_x / n_x, written once and inlined textually so both
    # engines evaluate one identical tree
    se_a = ("((qa_d - sa_d * sa_d / na_d) / nullif(na_d - 1.0d, 0.0d) "
            "/ na_d)")
    se_b = ("((qb_d - sb_d * sb_d / nb_d) / nullif(nb_d - 1.0d, 0.0d) "
            "/ nb_d)")
    t = (f"(sa_d / na_d - sb_d / nb_d) / "
         f"nullif(sqrt({se_a} + {se_b}), 0.0d)")
    dfw = (f"(({se_a} + {se_b}) * ({se_a} + {se_b})) / "
           f"nullif({se_a} * {se_a} / nullif(na_d - 1.0d, 0.0d) "
           f"+ {se_b} * {se_b} / nullif(nb_d - 1.0d, 0.0d), 0.0d)")
    return moments.select(
        "n_a", "n_b",
        F.expr("round(sa_d / nullif(na_d, 0.0d), 6)").alias("mean_a"),
        F.expr("round(sb_d / nullif(nb_d, 0.0d), 6)").alias("mean_b"),
        F.expr(f"round({t}, 6)").alias("t_stat"),
        F.expr(f"round({dfw}, 6)").alias("df_welch"),
        F.expr(f"abs({t}) > {t_crit}d").alias("significant"),
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    z_crit: float = 1.959964,
) -> DataFrame:
    """Mann–Whitney U rank test (does one group stochastically dominate
    the other?), EXACT and distributed: with per-value pair counts and
    cumulative counts from :func:`_cumulative_pair_counts`,

        2·U_A = Σ_v  na(v) · (2·cumB(v) − nb(v))

    — the doubled statistic is an integer (ties contribute halves), as
    is the tie-correction term Σ(t³−t).  Only the normal-approximation z
    (with tie-corrected variance, no continuity correction) is floating
    point, evaluated as one fixed-shape expression mirrored in the
    oracle.  Same scale shape and ~3·10⁹-per-side overflow bound as
    :func:`ks_test`.  All-tied inputs (zero variance) yield NULL z.

    Returns one row: (n_a, n_b, u2_a, u_a, z_score, significant).
    """
    cum, n_a, n_b = _cumulative_pair_counts(
        df, value_col, group_col, group_a, group_b
    )
    if n_a == 0 or n_b == 0:
        return local_frame(
            df.sparkSession,
            [(n_a, n_b)], "n_a long, n_b long"
        ).select(
            "n_a", "n_b",
            F.lit(None).cast("long").alias("u2_a"),
            F.lit(None).cast("double").alias("u_a"),
            F.lit(None).cast("double").alias("z_score"),
            F.lit(None).cast("boolean").alias("significant"),
        )
    sums = cum.agg(
        F.sum(
            F.col("na") * (F.lit(2) * F.col("cb") - F.col("nb"))
        ).alias("u2_a"),
        F.sum(
            (F.col("na") + F.col("nb")) * (F.col("na") + F.col("nb"))
            * (F.col("na") + F.col("nb"))
            - (F.col("na") + F.col("nb"))
        ).alias("ties3"),
    )
    n = n_a + n_b
    z = (
        f"(CAST(u2_a AS DOUBLE) / 2.0d "
        f"- CAST({n_a} AS DOUBLE) * CAST({n_b} AS DOUBLE) / 2.0d) / "
        f"nullif(sqrt((CAST({n_a} AS DOUBLE) * CAST({n_b} AS DOUBLE) "
        f"/ 12.0d) * ((CAST({n} AS DOUBLE) + 1.0d) "
        f"- CAST(ties3 AS DOUBLE) / (CAST({n} AS DOUBLE) "
        f"* (CAST({n} AS DOUBLE) - 1.0d)))), 0.0d)"
    )
    return sums.select(
        F.lit(n_a).alias("n_a"),
        F.lit(n_b).alias("n_b"),
        "u2_a",
        F.expr("CAST(u2_a AS DOUBLE) / 2.0d").alias("u_a"),
        F.expr(f"round({z}, 6)").alias("z_score"),
        F.expr(f"abs({z}) > {z_crit}d").alias("significant"),
    )


def psi_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    bin_width: float,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column — the standard drift gate between a training corpus and a
    fresh crawl (rule of thumb: < 0.1 stable, 0.1–0.25 drifting, > 0.25
    shifted):

        PSI = Σ_bins (p_A − p_B) · ln(p_A / p_B)

    over fixed-width bins (``floor(v / w)`` — exact integer keys, no
    quantile estimation, so the binning is engine-independent).  Each
    side reduces to per-bin integer counts in one map-side-combined
    aggregation; the |bins|-row outer join and the final SORTED-BIN LEFT
    FOLD (the chi-square discipline — never ``SUM(double)``) compute the
    statistic deterministically.  Bins empty on either side have an
    undefined log term and are EXCLUDED (reported in ``n_skipped_bins``)
    rather than epsilon-smoothed — smoothing constants change the score
    silently; at 100 TB pick ``bin_width`` so both snapshots populate
    the tails.

    Returns one row: (n_a, n_b, n_bins, n_skipped_bins, psi).
    """
    if bin_width <= 0:
        raise ValueError("bin_width must be positive")

    def _bins(df, side):
        return (
            df.where(F.col(value_col).isNotNull())
            .select(
                F.expr(
                    f"CAST(floor(CAST({value_col} AS DOUBLE) "
                    f"/ {bin_width!r}d) AS BIGINT)"
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias(side))
        )

    cells = (
        _bins(df_a, "ca").join(_bins(df_b, "cb"), "bin", "full")
        .select(
            "bin",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    # p_x = c_x / n_x with the totals as exact integers folded in below
    term = (
        "(CAST(t.ca AS DOUBLE) / CAST(na AS DOUBLE) "
        "- CAST(t.cb AS DOUBLE) / CAST(nb AS DOUBLE)) "
        "* ln((CAST(t.ca AS DOUBLE) / CAST(na AS DOUBLE)) "
        "/ (CAST(t.cb AS DOUBLE) / CAST(nb AS DOUBLE)))"
    )
    pre = cells.groupBy().agg(
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
        F.count(F.lit(1)).alias("n_bins"),
        F.sum(
            F.when((F.col("ca") == 0) | (F.col("cb") == 0), 1).otherwise(0)
        ).cast("long").alias("n_skipped_bins"),
        F.expr("array_sort(collect_list(struct(bin, ca, cb)))").alias("ts"),
    )
    return pre.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "n_bins",
        "n_skipped_bins",
        F.expr(
            "round(aggregate(ts, CAST(0.0 AS DOUBLE), (acc, t) -> acc + "
            "CASE WHEN t.ca = 0 OR t.cb = 0 THEN CAST(0.0 AS DOUBLE) "
            f"ELSE {term} END) + 0.0d, 6)"
        ).alias("psi"),
    )


# ---------------------------------------------------------------------------
# Round 6: robust outliers, many-test z + Benjamini-Hochberg, bootstrap CI
# ---------------------------------------------------------------------------


def mad_outliers(
    df: DataFrame,
    value_col: str,
    keep_cols: list[str],
    threshold: float = 3.5,
    round_to: int = 6,
) -> DataFrame:
    """Robust outlier detection by median absolute deviation — the
    classic Iglewicz-Hoaglin screen (|robust z| > 3.5 with
    z = (x − median) / (1.4826·MAD)), preferred over mean/stddev z-scores
    on heavy-tailed value columns because one gross outlier cannot drag
    the center or inflate the spread.

    Both the median and the MAD are EXACT linear-interpolation quantiles
    computed with ``analytics.distributed_group_quantiles`` (a constant
    group): two distributed ranking passes, each parallel at any scale,
    never a whole-column sort in one task.  The two one-row results are
    broadcast back onto the fact frame, so the scoring pass is a narrow
    map.  Cost shape: 2 quantile passes + 1 scan — the price of exact
    robust statistics; swap in ``percentile_approx`` upstream when a
    sketch suffices.

    Returns the outlier rows only: (*keep_cols, value, median, mad,
    robust_z), with median/mad rounded to 4 (the quantile operator's
    convention) and robust_z to ``round_to``.
    """
    from .analytics import distributed_group_quantiles

    vals = df.select(
        F.lit(0).alias("__g"),
        F.col(value_col).cast("double").alias("__v"),
    )
    med = distributed_group_quantiles(vals, "__g", "__v", [0.5]).select(
        F.col("q0").alias("__med")
    )
    dev = vals.crossJoin(F.broadcast(med)).select(
        "__g", F.abs(F.col("__v") - F.col("__med")).alias("__v")
    )
    mad = distributed_group_quantiles(dev, "__g", "__v", [0.5]).select(
        F.col("q0").alias("__mad")
    )
    z = (
        f"round((CAST({value_col} AS DOUBLE) - __med) "
        f"/ (1.4826d * nullif(__mad, 0.0d)), {round_to})"
    )
    scored = (
        df.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .select(
            *keep_cols,
            F.col(value_col).cast("double").alias("value"),
            F.col("__med").alias("median"),
            F.col("__mad").alias("mad"),
            F.expr(z).alias("robust_z"),
        )
    )
    return scored.where(F.abs(F.col("robust_z")) > threshold)


# Zelen & Severo 26.2.17 polynomial for the standard normal tail — the
# identical expression text is emitted into the DuckDB oracle, so both
# engines evaluate the same IEEE-754 tree (the repo's ln()/JSD precedent).
_INV_SQRT_2PI = "0.3989422804014327d"
_PHI_TAIL = (
    "(2.0d * ({pdf}) * ({t}) * (0.31938153d + ({t}) * (-0.356563782d "
    "+ ({t}) * (1.781477937d + ({t}) * (-1.821255978d "
    "+ ({t}) * 1.330274429d)))))"
)


def _two_sided_p(z: str, round_to: int = 8) -> str:
    pdf = f"{_INV_SQRT_2PI} * exp(-(({z}) * ({z})) / 2.0d)"
    t = f"1.0d / (1.0d + 0.2316419d * abs({z}))"
    return (
        "round(" + _PHI_TAIL.format(pdf=pdf, t=t) + f", {round_to})"
    )


def welch_z_many(
    df: DataFrame,
    group_col: str,
    value_col: str,
    dec: str = _DEC,
    round_to: int = 6,
) -> DataFrame:
    """One-vs-rest Welch z for EVERY group in one pass: each group's mean
    of ``value_col`` is tested against the mean of all *other* rows —
    the multi-hypothesis screen ("which segments deviate?") that
    :func:`bh_adjust` then corrects for multiple testing.

    Moments (n, Σx, Σx²) accumulate per group in exact DECIMAL (one
    map-side-combined aggregation); the complement arm is derived by
    subtracting from the global totals (a one-row cross join), so no
    second scan and no per-pair work.  z and the two-sided p-value
    (normal approximation, Zelen-Severo polynomial — a fixed-shape
    double expression both engines evaluate identically) are computed on
    the |groups|-row frame.  p is rounded to 8 decimals BEFORE any
    downstream ranking so cross-engine ULP noise cannot reorder tests.

    Returns (group, n, mean, z, p_value) — z/p NULL when either arm has
    n < 2 or zero variance.
    """
    from pyspark.sql import Window

    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(_m(value_col, dec)).alias("sx"),
        F.sum(_m(value_col, dec) * _m(value_col, dec)).alias("sxx"),
    )
    # global totals via a window over the |groups|-row moment frame: a
    # separate `g.agg(...)` branch replayed the lineage — TWO full
    # fact-table scans in the physical plan (measured; exchange reuse
    # does not kick in across the extra agg). The unpartitioned window
    # touches only model data (one row per segment), ONE scan total.
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    both = g.select(
        "grp", "n", "sx", "sxx",
        (F.sum("n").over(wall) - F.col("n")).cast("long").alias("rn"),
        (F.sum("sx").over(wall) - F.col("sx")).alias("rsx"),
        (F.sum("sxx").over(wall) - F.col("sxx")).alias("rsxx"),
    )
    mean_g = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    mean_r = "(CAST(rsx AS DOUBLE) / CAST(rn AS DOUBLE))"
    var_g = (
        "((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) "
        "/ CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0d))"
    )
    var_r = (
        "((CAST(rsxx AS DOUBLE) - CAST(rsx AS DOUBLE) * CAST(rsx AS DOUBLE)"
        " / CAST(rn AS DOUBLE)) / (CAST(rn AS DOUBLE) - 1.0d))"
    )
    z = (
        f"CASE WHEN n >= 2 AND rn >= 2 THEN "
        f"({mean_g} - {mean_r}) / nullif(sqrt({var_g} / CAST(n AS DOUBLE) "
        f"+ {var_r} / CAST(rn AS DOUBLE)), 0.0d) "
        f"ELSE CAST(NULL AS DOUBLE) END"
    )
    return both.select(
        F.col("grp").alias(group_col),
        "n",
        F.expr(f"round({mean_g}, {round_to})").alias("mean"),
        F.expr(f"round({z}, {round_to})").alias("z"),
        F.expr(
            f"CASE WHEN ({z}) IS NULL THEN CAST(NULL AS DOUBLE) "
            f"ELSE least(1.0d, {_two_sided_p(z)}) END"
        ).alias("p_value"),
    )


def bh_adjust(
    results: DataFrame,
    p_col: str = "p_value",
    key_col: str | None = None,
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini-Hochberg FDR adjustment over a per-hypothesis results
    frame: adds (p_rank, q_value, significant_bh) where
    q_(i) = min_{j≥i} (p_(j)·m/j) capped at 1 — the step-up adjusted
    p-values; ``significant_bh`` marks q ≤ alpha.

    The input is one row per HYPOTHESIS (a handful to a few thousand
    rows — the output of :func:`welch_z_many` or a per-segment test
    sweep), never a fact table, so the unpartitioned ranking windows
    here are a deliberate small-frame exception to the no-global-window
    rule; ranking ties break on ``key_col`` for a total order.  NULL
    p-values (degenerate tests) sort last and keep NULL q.
    """
    from pyspark.sql import Window

    key = key_col or p_col
    order = [F.col(p_col).asc_nulls_last(), F.col(key).asc()]
    w_rank = Window.orderBy(*order)
    ranked = results.withColumn(
        "__m",
        F.count(F.when(F.col(p_col).isNotNull(), 1))
        .over(w_rank.rowsBetween(Window.unboundedPreceding,
                                 Window.unboundedFollowing)),
    ).withColumn("__rk", F.row_number().over(w_rank))
    q_raw = (
        f"CASE WHEN {p_col} IS NULL THEN CAST(NULL AS DOUBLE) "
        f"ELSE {p_col} * CAST(__m AS DOUBLE) / CAST(__rk AS DOUBLE) END"
    )
    adjusted = ranked.withColumn("__qr", F.expr(q_raw)).withColumn(
        "q_value",
        F.expr("round(least(1.0d, min(__qr) OVER "
               "(ORDER BY __rk DESC ROWS BETWEEN UNBOUNDED PRECEDING "
               "AND CURRENT ROW)), 8)"),
    )
    return adjusted.select(
        *[c for c in results.columns],
        F.col("__rk").alias("p_rank"),
        F.when(F.col(p_col).isNull(), F.lit(None).cast("double"))
        .otherwise(F.col("q_value")).alias("q_value"),
        F.when(F.col(p_col).isNull(), F.lit(None).cast("boolean"))
        .otherwise(F.col("q_value") <= alpha).alias("significant_bh"),
    )


def _poisson1_thresholds(bits: int = 16, max_w: int = 6) -> list[int]:
    """Exact 2^bits-scaled cumulative Poisson(1) thresholds, computed
    once driver-side and baked into both engines' expressions."""
    import math

    e = math.exp(-1.0)
    cum, fact, out = 0.0, 1.0, []
    for k in range(max_w):
        if k > 0:
            fact *= k
        cum += e / fact
        out.append(int(cum * (1 << bits)))
    return out


def bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_replicates: int = 48,
    ci: float = 0.95,
    salt: str = "boot",
    dec: str = _DEC,
) -> DataFrame:
    """Deterministic Poisson bootstrap confidence interval for the mean —
    the standard way to bootstrap on a cluster (each row's resample
    multiplicity is drawn independently as Poisson(1), so no global
    resampling pass is needed; Chamandy et al., "Estimating Uncertainty
    for Massive Data Streams", Google 2012).  RNG is replaced by the
    repo's md5 discipline, amortized 8 ways: one md5 per (row, replicate
    BLOCK) yields eight independent 16-bit lanes (the 128-bit digest
    sliced as 4-hex-char chunks), and replicate ``b`` reads lane
    ``b % 8`` of block ``b DIV 8``.  Each lane is compared against
    exact 2^16-scaled Poisson(1) CDF thresholds — bit-reproducible on
    any engine, re-salting re-rolls the bootstrap, and the md5 count is
    ⌈B/8⌉ per row instead of B (the hashing was half the operator's
    cost at B = 48).

    ONE scan: each row emits its ``n_replicates`` weights as one INT
    array (a narrow map — no row explosion, no shuffle growth), and a
    single map-side-combined aggregation produces every replicate's
    exact (Σw, Σwx) in one row — 2B aggregate columns, LONG counts and
    DECIMAL weighted sums.  The replicate means and the percentile CI
    are then fixed-shape double arithmetic over that row's sorted
    array — identical in the oracle.

    Returns one row: (n_rows, mean, ci_lo, ci_hi, n_replicates).
    """
    if not 0 < ci < 1:
        raise ValueError("ci must be in (0, 1)")
    ts = _poisson1_thresholds()
    n_blocks = (n_replicates + 7) // 8
    w_case = "CASE " + " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(ts)
    ) + f" ELSE {len(ts)} END"
    # ONE nested expression, every intermediate bound to a lambda
    # variable: lambda variables are evaluated once per element, while a
    # column from a previous projection would be INLINED into the lambda
    # body by CollapseProject and recomputed per lane (measured 48×
    # re-hashing — slower than hashing per replicate). Levels: block →
    # md5 digest (h, hashed once per block) → 8 lane integers (u) →
    # CASE weight (the ladder re-evaluates its scrutinee per arm, so u
    # must already be bound).
    lanes = (
        "transform(sequence(0, 7), l -> "
        "CAST(conv(substring(h, l * 4 + 1, 4), 16, 10) AS BIGINT))"
    )
    blocks = (
        f"transform(sequence(0, {n_blocks - 1}), k -> "
        "md5(concat(CAST(__bid AS STRING), ':{salt}:', "
        "CAST(k AS STRING))))".replace("{salt}", salt)
    )
    # Project to the two working columns FIRST, then fan out: the md5
    # lane ladder is the operator's dominant cost and would otherwise
    # run at the scan's parallelism (ONE task on a single-row-group
    # file); the exchange moves only (id, value) pairs.  Every
    # downstream sum is LONG/DECIMAL — placement-invariant.
    from ._scaleout import fan_out

    base = fan_out(df.select(
        F.col(id_col).alias("__bid"), F.col(value_col).alias("__v")
    ))
    staged = base.select(
        F.expr(
            f"slice(flatten(transform({blocks}, h -> "
            f"transform({lanes}, u -> CAST(({w_case}) AS INT)))), "
            f"1, {n_replicates})"
        ).alias("__ws"),
        F.col("__v"),
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(_m("__v", dec)).alias("sv"),
    ]
    for b in range(n_replicates):
        el = F.col("__ws")[b]
        aggs.append(F.sum(el.cast("long")).alias(f"w{b}"))
        aggs.append(
            F.sum(el.cast(dec) * _m("__v", dec)).alias(f"wx{b}"))
    one = staged.agg(*aggs)
    mean_terms = ", ".join(
        f"CAST(wx{b} AS DOUBLE) / nullif(CAST(w{b} AS DOUBLE), 0.0d)"
        for b in range(n_replicates)
    )
    lo_q = (1.0 - ci) / 2.0
    hi_q = 1.0 - lo_q
    picks = {}
    for name, q in (("lo", lo_q), ("hi", hi_q)):
        pos = q * (n_replicates - 1)
        i = int(pos)
        frac = pos - i
        picks[name] = (
            f"round(element_at(__ms, {i + 1}) + "
            f"(element_at(__ms, {min(i + 1, n_replicates - 1) + 1}) "
            f"- element_at(__ms, {i + 1})) * {frac!r}d, 6)"
        )
    return one.select(
        "n_rows",
        F.expr(
            "round(CAST(sv AS DOUBLE) "
            "/ nullif(CAST(n_rows AS DOUBLE), 0.0d), 6)"
        ).alias("mean"),
        F.expr(f"array_sort(array({mean_terms}))").alias("__ms"),
    ).select(
        "n_rows", "mean",
        F.expr(picks["lo"]).alias("ci_lo"),
        F.expr(picks["hi"]).alias("ci_hi"),
        F.lit(n_replicates).cast("long").alias("n_replicates"),
    )


def theil_sen(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    max_points: int = 100_000,
) -> DataFrame:
    """Theil–Sen robust regression: slope = median of all pairwise
    slopes (y_j−y_i)/(x_j−x_i), intercept = median of (y_i − slope·x_i)
    — the trend estimator with a 29% breakdown point, the right line
    through metric series where OLS chases single spikes (Sen 1968).

    Pairs come from an id-ordered self-join (``id_i < id_j``, equal-x
    pairs excluded), so the pair frame is deterministic; both medians
    are EXACT linear-interpolation quantiles via
    ``analytics.distributed_group_quantiles`` (constant group — the
    ``mad_outliers`` machinery; rounded to 4, its convention), never a
    single-task sort.  O(n²) pairs is the estimator's contract — run it
    on AGGREGATED series (daily/monthly metrics, thousands of points →
    millions of distributed pair rows), not raw corpora; for corpus-
    scale inputs pre-reduce or sample upstream.  That contract is now
    ENFORCED: a count probe on the (already-checkpointed) point frame
    raises before the pair join is even built when the input exceeds
    ``max_points`` (default 100k → ~5e9 pairs, the practical ceiling) —
    the same loud-error discipline as the BPE trainer's
    ``local_vocab_limit`` probe, so a raw corpus fails in milliseconds
    instead of silently exploding to corpus² rows.

    Returns one row: (n_points, n_pairs, slope, intercept).
    """
    from .analytics import distributed_group_quantiles

    pts = points.select(
        F.col(id_col).alias("__id"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    ).where(F.col("__x").isNotNull() & F.col("__y").isNotNull()) \
        .localCheckpoint(eager=True)
    n_probe = pts.count()
    if n_probe > max_points:
        raise ValueError(
            f"theil_sen: {n_probe} points exceed max_points="
            f"{max_points}; the pairwise-slope frame would hold "
            f"~{n_probe * (n_probe - 1) // 2} rows. Aggregate the "
            "series (e.g. to daily/monthly metrics) before fitting, "
            "or raise max_points deliberately."
        )
    a, b = pts.alias("a"), pts.alias("b")
    pairs = (
        a.join(b, F.col("a.__id") < F.col("b.__id"))
        .where(F.col("a.__x") != F.col("b.__x"))
        .select(
            F.lit(0).alias("__g"),
            ((F.col("b.__y") - F.col("a.__y"))
             / (F.col("b.__x") - F.col("a.__x"))).alias("__v"),
        )
    )
    # PIN the one-row slope: it is referenced by the residual frame
    # (which the intercept quantile's range-sampler and checkpoint each
    # execute once) and by the final select — un-pinned, every one of
    # those references re-ran the slope quantile's whole consumption
    # pipeline (counts, rank routing, tag join, interpolation).  A
    # 1-row localCheckpoint makes it run exactly once, at any scale.
    # the count probe above PROVES the pair/residual row bounds, so both
    # medians ride the small-frame percentile fast path whenever the
    # bound fits (raising max_points past the ceiling automatically
    # falls back to the rank-routing machinery)
    slope = distributed_group_quantiles(
        pairs, "__g", "__v", [0.5],
        max_rows=n_probe * (n_probe - 1) // 2,
    ).select(F.col("q0").alias("__slope")) \
        .localCheckpoint(eager=True)
    resid = pts.crossJoin(F.broadcast(slope)).select(
        F.lit(0).alias("__g"),
        (F.col("__y") - F.col("__slope") * F.col("__x")).alias("__v"),
    )
    intercept = distributed_group_quantiles(
        resid, "__g", "__v", [0.5], max_rows=n_probe,
    ).select(F.col("q0").alias("__icpt"))
    n_pts = pts.agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    n_prs = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    return (
        # PIN the one-row result: callers (seasonal decompose/forecast/
        # anomaly/strength) reference the line from several plan
        # branches AND their final frames — un-pinned, each execution
        # re-ran both quantile pipelines and the O(n²) pair count.
        n_pts.crossJoin(F.broadcast(n_prs))
        .crossJoin(F.broadcast(slope))
        .crossJoin(F.broadcast(intercept))
        .select(
            "n_points", "n_pairs",
            F.col("__slope").alias("slope"),
            F.col("__icpt").alias("intercept"),
        )
        .localCheckpoint(eager=True)
    )


def seasonal_decompose(
    series: DataFrame,
    idx_col: str,
    season_col: str,
    value_col: str,
) -> DataFrame:
    """Robust additive seasonal decomposition of an aggregated metric
    series: value = trend + seasonal + residual, with the trend the
    :func:`theil_sen` line over (idx, value) and the seasonal component
    the MEDIAN detrended value per season bucket (month-of-year, hour-
    of-day, …) — medians, not means, so one anomalous period cannot
    bend the seasonal profile (the STL idea with the repo's exact-
    quantile machinery in place of loess).

    Input is an already-aggregated series (one row per period — the
    Theil-Sen O(n²)-pairs contract); all quantiles are exact
    distributed interpolations rounded to 4 (the quantile operator's
    convention), every other term a fixed-shape double expression, so
    the full decomposition replays value-for-value in SQL.  Returns
    (idx, season, value, trend, seasonal, residual) with residual =
    value − trend − seasonal rounded to 4.
    """
    from .analytics import distributed_group_quantiles

    pts = series.select(
        F.col(idx_col).cast("double").alias("idx"),
        F.col(season_col).alias("season"),
        F.col(value_col).cast("double").alias("value"),
    ).where(F.col("idx").isNotNull() & F.col("value").isNotNull()) \
        .localCheckpoint(eager=True)
    # count the pinned series once (cheap: already materialized): the
    # detrended frame has exactly one row per point, so the bound routes
    # the per-season medians onto the small-frame percentile fast path
    # whenever the series fits
    n_pts = pts.count()
    line = theil_sen(pts, "idx", "idx", "value").select(
        "slope", F.col("intercept").alias("icpt")
    )
    det = pts.crossJoin(F.broadcast(line)).select(
        "idx", "season", "value", "slope", "icpt",
        (F.col("value") - (F.col("slope") * F.col("idx") + F.col("icpt")))
        .alias("__det"),
    )
    # PIN the seasonal profile (bounded: one row per season bucket, ≤
    # the cycle period by contract): the returned frame joins it while
    # also carrying slope/icpt columns — un-pinned, the action re-ran
    # the per-season quantile machinery end to end.
    seas = distributed_group_quantiles(
        det.select(F.col("season").alias("__g"),
                   F.col("__det").alias("__v")),
        "__g", "__v", [0.5], max_rows=n_pts,
    ).select(F.col("__g").alias("season"), F.col("q0").alias("seasonal")) \
        .localCheckpoint(eager=True)
    # + 0.0 maps -0.0 -> 0.0 so both engines render zero identically
    return det.join(seas, "season").select(
        "idx", "season", "value",
        F.expr("round(slope * idx + icpt, 4) + 0.0d").alias("trend"),
        (F.col("seasonal") + F.lit(0.0)).alias("seasonal"),
        F.expr(
            "round(value - (slope * idx + icpt) - seasonal, 4) + 0.0d"
        ).alias("residual"),
    )


def changepoint_mean_shift(
    series: DataFrame,
    idx_col: str,
    value_col: str,
    dec: str = "decimal(18,4)",
) -> DataFrame:
    """Single most-likely mean-shift changepoint of an aggregated
    series via the exact CUSUM split statistic: for every candidate
    split k, ``|n·S_k − k·S_n|`` (S = prefix sum) measures how far the
    prefix mean departs from the global mean — all EXACT decimal
    arithmetic, so the argmax (ties → earliest index) is deterministic
    on any engine; only the reported means are floats.

    Input is one row per period (daily counts, hourly rates — the
    data-quality monitoring shape: "when did this metric's level
    change?").  The prefix sums ride an ordered window over the
    aggregated frame (the documented small-frame exception) and the
    argmax is an ``orderBy().limit(1)`` TakeOrderedAndProject.
    Returns one row: (change_idx, n_periods, stat, mean_before,
    mean_after) — the split is BETWEEN change_idx and the next period.
    """
    from pyspark.sql import Window

    pts = series.select(
        F.col(idx_col).alias("idx"),
        F.col(value_col).cast(dec).alias("v"),
    ).where(F.col("idx").isNotNull() & F.col("v").isNotNull())
    w = Window.orderBy("idx").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = (
        pts.withColumn("s_k", F.sum("v").over(w))
        .withColumn("k", F.count(F.lit(1)).over(w).cast("long"))
        .withColumn("s_n", F.sum("v").over(wall))
        .withColumn("n", F.count(F.lit(1)).over(wall).cast("long"))
        .where(F.col("k") < F.col("n"))  # a split needs both sides
        .withColumn("stat", F.expr("abs(n * s_k - k * s_n)"))
    )
    best = staged.orderBy(
        F.col("stat").desc(), F.col("idx").asc()
    ).limit(1)
    return best.select(
        F.col("idx").alias("change_idx"),
        F.col("n").alias("n_periods"),
        F.expr("CAST(stat AS DOUBLE)").alias("stat"),
        F.expr(
            "round(CAST(s_k AS DOUBLE) / CAST(k AS DOUBLE), 6)"
        ).alias("mean_before"),
        F.expr(
            "round(CAST(s_n - s_k AS DOUBLE) / CAST(n - k AS DOUBLE), 6)"
        ).alias("mean_after"),
    )


def seasonal_forecast(
    series: DataFrame,
    idx_col: str,
    season_col: str,
    value_col: str,
    horizon: int = 12,
    season_of_idx: str = "CAST(pmod(idx, 12) AS BIGINT) + 1",
) -> DataFrame:
    """Forecast the next ``horizon`` periods as trend + seasonal — the
    projection of :func:`seasonal_decompose`'s robust fit:
    ``ŷ(idx) = slope·idx + intercept + seasonal[season(idx)]`` with the
    Theil-Sen line and the per-season median profile.  The seasonal
    baseline forecast every capacity-planning dashboard starts from;
    ``season_of_idx`` is the SQL expression mapping a future ``idx``
    to its season bucket (default: 12-period calendar cycle).

    Future index rows explode from the observed max index (one-row
    aggregate — no driver collect); the profile and line are tiny
    broadcast frames, so the forecast costs nothing beyond the fit.
    Returns (idx, season, forecast).
    """
    pts = series.select(
        F.col(idx_col).cast("double").alias("idx"),
        F.col(season_col).alias("season"),
        F.col(value_col).cast("double").alias("value"),
    ).where(F.col("idx").isNotNull() & F.col("value").isNotNull()) \
        .localCheckpoint(eager=True)
    # counted-once bound (pinned frame): routes the per-season medians
    # onto the small-frame percentile fast path whenever the series fits
    n_pts = pts.count()
    line = theil_sen(pts, "idx", "idx", "value").select(
        "slope", F.col("intercept").alias("icpt")
    )
    det = pts.crossJoin(F.broadcast(line)).select(
        "season",
        (F.col("value") - (F.col("slope") * F.col("idx") + F.col("icpt")))
        .alias("__det"),
    )
    seas = _group_medians(det, "season", "__det", "seasonal",
                          max_rows=n_pts)
    future = (
        pts.agg(F.max("idx").cast("long").alias("__mx"))
        .select(
            F.explode(
                F.expr(f"sequence(__mx + 1, __mx + {horizon})")
            ).alias("idx")
        )
        .select(
            F.col("idx").cast("double").alias("__fidx"),
            F.expr(season_of_idx).alias("season"),
        )
        .select(F.col("__fidx").alias("idx"), "season")
    )
    return (
        # LEFT join: a future season bucket never seen in history keeps
        # its trend-only forecast (seasonal defaults to 0.0) instead of
        # silently dropping out and shortening the horizon
        future.join(F.broadcast(seas), "season", "left")
        .crossJoin(F.broadcast(line))
        .select(
            "idx", "season",
            F.expr(
                "round(slope * idx + icpt + coalesce(seasonal, 0.0d), 4)"
                " + 0.0d"
            ).alias("forecast"),
        )
    )


def _group_medians(
    df: DataFrame, group_col: str, value_col: str, out_col: str,
    max_rows: int | None = None,
) -> DataFrame:
    """Per-group exact median (round-4) — the seasonal-profile reduction
    shared by decompose and forecast.  ``max_rows`` forwards a caller-
    proven row bound to the small-frame fast path."""
    from .analytics import distributed_group_quantiles

    # pinned for the same reason as decompose's profile: one row per
    # season bucket, referenced by the forecast's broadcast join
    return distributed_group_quantiles(
        df.select(F.col(group_col).alias("__g"),
                  F.col(value_col).alias("__v")),
        "__g", "__v", [0.5], max_rows=max_rows,
    ).select(F.col("__g").alias(group_col), F.col("q0").alias(out_col)) \
        .localCheckpoint(eager=True)


def seasonal_anomaly(
    series: DataFrame,
    idx_col: str,
    season_col: str,
    value_col: str,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Seasonality-aware robust anomaly detection: decompose the series
    (:func:`seasonal_decompose` — Theil-Sen trend + median seasonal
    profile), then score each period's RESIDUAL with the robust z
    ``(r − median(r)) / (1.4826 · MAD(r))`` — the same
    median/MAD discipline as ``mad_outliers``, applied after trend and
    seasonality are removed so "high because it's December" is not an
    anomaly but "high for a December" is.

    Both medians are exact distributed quantiles over the residual
    frame (constant group — the series is already aggregated to one
    row per period); the z is a fixed-shape double expression with a
    nullif guard for a zero MAD. Returns the decomposition columns
    plus (robust_z, is_anomaly), z rounded 4.
    """
    dec = seasonal_decompose(series, idx_col, season_col, value_col) \
        .localCheckpoint(eager=True)
    from .analytics import distributed_group_quantiles

    # counted-once bound (pinned decomposition, one row per period;
    # residuals are non-null fixed-shape arithmetic): both medians ride
    # the small-frame percentile fast path whenever the series fits
    n_dec = dec.count()
    med = distributed_group_quantiles(
        dec.select(F.lit("all").alias("__g"),
                   F.col("residual").alias("__v")),
        "__g", "__v", [0.5], max_rows=n_dec,
    ).select(F.col("q0").alias("__med"))
    absdev = dec.crossJoin(F.broadcast(med)).select(
        "idx", "season", "value", "trend", "seasonal", "residual",
        "__med",
        F.round(F.abs(F.col("residual") - F.col("__med")), 4)
        .alias("__ad"),
    ).localCheckpoint(eager=True)
    mad = distributed_group_quantiles(
        absdev.select(F.lit("all").alias("__g"),
                      F.col("__ad").alias("__v")),
        "__g", "__v", [0.5], max_rows=n_dec,
    ).select(F.col("q0").alias("__mad"))
    return absdev.crossJoin(F.broadcast(mad)).select(
        "idx", "season", "value", "trend", "seasonal", "residual",
        F.round(
            (F.col("residual") - F.col("__med"))
            / F.expr("nullif(1.4826 * __mad, 0.0)"),
            4,
        ).alias("robust_z"),
    ).withColumn(
        "is_anomaly",
        F.when(F.col("robust_z").isNull(), F.lit(False))
        .otherwise(F.abs(F.col("robust_z")) > F.lit(z_threshold)),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    observed_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Kaplan-Meier survival estimator (the right-censoring-aware
    survival curve; Kaplan & Meier 1958): at each distinct event time
    ``t_i``, ``n_i`` subjects are still at risk, ``d_i`` experience the
    event, and ``S(t) = Π_{t_i ≤ t} (1 − d_i/n_i)`` — the standard
    time-to-churn / time-to-conversion curve where naive averages are
    biased by subjects still alive at the observation cutoff.

    Distributed shape: ONE hash aggregation to (group, duration) cells
    (events + censored counts, map-side combined — the exchange carries
    distinct durations, not subjects), then windows partitioned by
    group in duration order: the risk set is total-minus-exclusive-
    cumsum (exact integers) and the survival product runs in LOG space
    — ``ln(1 − d/n)`` quantized to nano-units and summed as exact
    BIGINTs (the ``text_bigram_logprob`` discipline: one ln ULP is
    absorbed by the rounding, the SUM itself can never reorder), one
    ``exp`` at the end.  A time where everyone remaining dies
    (``d = n``, ln(0) undefined) pins survival to exactly 0.0 from
    that point on via a cumulative flag instead of producing -inf.

    Without a ``group_col`` there is no partitioning key, so (round 9)
    both cumulative passes route through
    :func:`distributed_prefix_counts` instead of un-partitioned
    windows — the distinct-duration frame can approach corpus size for
    seconds-granularity durations, and a single-task window would not
    survive scale.

    Returns one row per (group,) EVENT time: (group?, t, n_risk,
    d_events, survival), survival rounded 6.
    """
    from pyspark.sql import Window

    gcols = [group_col] if group_col else []
    cells = (
        df.where(F.col(duration_col).isNotNull())
        .groupBy(*gcols, F.col(duration_col).alias("t"))
        .agg(
            F.sum(F.when(F.col(observed_col), 1).otherwise(0))
            .cast("long").alias("d"),
            F.count(F.lit(1)).cast("long").alias("all_at_t"),
        )
    )
    lnq_expr = (
        "CASE WHEN d = n_risk THEN CAST(0 AS BIGINT) "
        "ELSE CAST(round(ln(1.0d - CAST(d AS DOUBLE) "
        "/ CAST(n_risk AS DOUBLE)) * 1000000000.0d) AS BIGINT) END"
    )
    if gcols:
        w_all = Window.partitionBy(*gcols).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        w_prev = (
            Window.partitionBy(*gcols).orderBy(F.col("t").asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_cum = (
            Window.partitionBy(*gcols).orderBy(F.col("t").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        staged = cells.select(
            *gcols, "t", "d",
            (F.sum("all_at_t").over(w_all)
             - F.coalesce(F.sum("all_at_t").over(w_prev), F.lit(0)))
            .cast("long").alias("n_risk"),
        ).withColumn("__lnq", F.expr(lnq_expr)).withColumn(
            "__dead", F.expr("CAST(d = n_risk AS INT)")
        )
        out = staged.select(
            *gcols, "t", "n_risk", F.col("d").alias("d_events"),
            F.when(
                F.max("__dead").over(w_cum) == 1, F.lit(0.0)
            ).otherwise(
                F.round(
                    F.exp(F.sum("__lnq").over(w_cum).cast("double")
                          / F.lit(1000000000.0)), 6) + F.lit(0.0)
            ).alias("survival"),
            F.col("d").alias("__d"),
        )
        return out.where(F.col("__d") > 0).drop("__d")
    cum1, totals = distributed_prefix_counts(cells, "t", ["all_at_t"])
    staged = cum1.select(
        "t", "d",
        (F.lit(totals["all_at_t"]) - F.col("__before_all_at_t"))
        .cast("long").alias("n_risk"),
    ).withColumn("__lnq", F.expr(lnq_expr)).withColumn(
        "__dead", F.expr("CAST(CAST(d = n_risk AS INT) AS BIGINT)")
    )
    cum2, _ = distributed_prefix_counts(staged, "t", ["__lnq", "__dead"])
    out = cum2.select(
        "t", "n_risk", F.col("d").alias("d_events"),
        F.when(
            F.col("__cum___dead") > 0, F.lit(0.0)
        ).otherwise(
            F.round(
                F.exp(F.col("__cum___lnq").cast("double")
                      / F.lit(1000000000.0)), 6) + F.lit(0.0)
        ).alias("survival"),
        F.col("d").alias("__d"),
    )
    return out.where(F.col("__d") > 0).drop("__d")


def conformal_interval(
    scored: DataFrame,
    pred_col: str,
    actual_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal prediction interval (Vovk; Lei et al. 2018):
    from a CALIBRATION frame of (prediction, actual) pairs, the
    half-width ``q̂`` = the ⌈(n+1)(1−α)⌉-th smallest absolute residual
    — then ``pred ± q̂`` covers ≥ 1−α of future points under
    exchangeability, a finite-sample guarantee no Gaussian interval
    gives.  The distribution-free calibration every model-gated corpus
    filter should run before trusting its threshold.

    Exact ORDER STATISTIC, not an interpolated quantile: the k-th
    smallest is fetched as the MIN of the (n−k+1) LARGEST residuals —
    a ``TakeOrderedAndProject`` top-(n−k+1) heap, and n−k+1 ≈ α·n is
    small for the usual α (calibration frames are holdout-sized by
    design; an α near 1 would invert the heap economics).  One count
    probe + one heap pass + one coverage scan.  Returns ONE row:
    (n_calib, k_order, q_hat, empirical_coverage), rounded 6.
    """
    if not 0 < alpha < 1:
        raise ValueError("alpha must be in (0, 1)")
    import math

    resid = scored.where(
        F.col(pred_col).isNotNull() & F.col(actual_col).isNotNull()
    ).select(
        F.round(
            F.abs(F.col(actual_col).cast("double")
                  - F.col(pred_col).cast("double")), 6
        ).alias("__r")
    ).localCheckpoint(eager=True)
    n = resid.count()
    if n == 0:
        raise ValueError("conformal_interval: empty calibration frame")
    k = min(n, math.ceil((n + 1) * (1.0 - alpha)))
    top = n - k + 1
    q_hat = (
        resid.orderBy(F.col("__r").desc()).limit(top)
        .agg(F.min("__r").alias("q"))
    )
    cov = resid.crossJoin(F.broadcast(q_hat)).agg(
        F.count(F.lit(1)).cast("long").alias("n_calib"),
        F.expr(
            "round(CAST(sum(CASE WHEN __r <= q THEN 1 ELSE 0 END) "
            "AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)"
        ).alias("empirical_coverage"),
        F.min("q").alias("q_hat"),
    )
    return cov.select(
        "n_calib", F.lit(k).cast("long").alias("k_order"),
        "q_hat", "empirical_coverage",
    )


def mutual_information(
    df: DataFrame,
    col_x: str,
    col_y: str,
) -> DataFrame:
    """Mutual information between two categorical columns (nats), with
    the normalized variant ``MI / sqrt(H(X)·H(Y))`` — the
    dependence screen run before trusting a stratification or blocking
    key ("does source actually carry language information?"); unlike
    chi², MI is directly interpretable as shared bits/nats.

    ONE pass for the joint counts (hash aggregate); the marginals
    derive from the joint frame (|X|·|Y| cells — model-sized, never
    the fact table again).  Per-cell log terms quantize to nano-unit
    BIGINTs weighted by exact integer counts (the NB/bigram ln
    discipline: a ln ULP is absorbed by the rounding, the weighted sum
    itself is exact), so the statistic is engine-identical.  Returns
    ONE row: (n, mi_nats, h_x, h_y, nmi), all rounded 6.
    """
    from pyspark.sql import Window

    joint = (
        df.where(F.col(col_x).isNotNull() & F.col(col_y).isNotNull())
        .groupBy(F.col(col_x).alias("x"), F.col(col_y).alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("nxy"))
    )
    wx = Window.partitionBy("x")
    wy = Window.partitionBy("y")
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cells = joint.select(
        "x", "y", "nxy",
        F.sum("nxy").over(wx).cast("long").alias("nx"),
        F.sum("nxy").over(wy).cast("long").alias("ny"),
        F.sum("nxy").over(wall).cast("long").alias("n"),
    )
    # per-cell quantized log terms, count-weighted exact integer sums
    terms = cells.select(
        "n",
        F.expr(
            "nxy * CAST(round(ln(CAST(n AS DOUBLE) * CAST(nxy AS DOUBLE)"
            " / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))) "
            "* 1000000000.0d) AS BIGINT)"
        ).alias("__mi"),
        # entropy terms once per marginal value: attribute each joint
        # cell 1/|cells-in-marginal|? No — weight by nxy and divide the
        # marginal term by its own count so each marginal value counts
        # once: nxy * ln(n/nx) sums to Σ_x nx·ln(n/nx) exactly
        F.expr(
            "nxy * CAST(round(ln(CAST(n AS DOUBLE) / CAST(nx AS DOUBLE))"
            " * 1000000000.0d) AS BIGINT)"
        ).alias("__hx"),
        F.expr(
            "nxy * CAST(round(ln(CAST(n AS DOUBLE) / CAST(ny AS DOUBLE))"
            " * 1000000000.0d) AS BIGINT)"
        ).alias("__hy"),
    )
    return terms.groupBy("n").agg(
        F.expr(
            "round(CAST(sum(__mi) AS DOUBLE) "
            "/ (CAST(n AS DOUBLE) * 1000000000.0d), 6) + 0.0d"
        ).alias("mi_nats"),
        F.expr(
            "round(CAST(sum(__hx) AS DOUBLE) "
            "/ (CAST(n AS DOUBLE) * 1000000000.0d), 6) + 0.0d"
        ).alias("h_x"),
        F.expr(
            "round(CAST(sum(__hy) AS DOUBLE) "
            "/ (CAST(n AS DOUBLE) * 1000000000.0d), 6) + 0.0d"
        ).alias("h_y"),
        F.expr(
            "round(CAST(sum(__mi) AS DOUBLE) / nullif(sqrt("
            "CAST(sum(__hx) AS DOUBLE) * CAST(sum(__hy) AS DOUBLE)), "
            "0.0d), 6) + 0.0d"
        ).alias("nmi"),
    ).select("n", "mi_nats", "h_x", "h_y", "nmi")


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    total_n: int = 1000,
    dec: str = _DEC,
) -> DataFrame:
    """Neyman-optimal stratified sample allocation (Neyman 1934): split
    a sampling budget of ``total_n`` across strata proportionally to
    ``N_h · sd_h`` — minimum-variance estimation of the population
    mean, the survey-sampling upgrade of proportional allocation that
    oversamples heterogeneous strata.  Run before drawing an
    annotation / eval sample from a mixed corpus.

    ONE hash aggregation computes each stratum's exact decimal moments
    (n, Σx, Σx²); sd is a fixed-shape double over one row (sqrt is
    correctly rounded — the shared discipline).  Weights quantize to
    integers, and the integer allocation is LARGEST-REMAINDER
    (Hamilton) apportionment: floors via integer division, the
    leftover seats to the largest remainders (ties by stratum) — all
    windows run over the strata frame (model data), and every step is
    exact integer arithmetic, so allocations are cross-engine
    bit-identical and sum to exactly ``total_n``.  Single-row strata
    (sd undefined) get weight 0.  Overflow bound: ``total_n · N_h ·
    sd_h`` must stay under 2^63 — widen ``dec``/rescale values first
    if a trillion-row stratum with huge spread approaches it.

    Returns one row per stratum: (stratum, n_rows, mean, sd,
    weight_int, alloc), ordered by stratum.
    """
    from pyspark.sql import Window

    if total_n < 1:
        raise ValueError("total_n must be >= 1")
    x = _m(value_col, dec)
    g = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(stratum_col).alias("stratum"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(x).alias("__s"),
            F.sum(x * x).alias("__q"),
        )
        .select(
            "stratum", "n_rows",
            F.col("n_rows").cast("double").alias("__n_d"),
            F.col("__s").cast("double").alias("__s_d"),
            F.col("__q").cast("double").alias("__q_d"),
        )
    )
    sd = ("sqrt((__q_d - __s_d * __s_d / __n_d) "
          "/ nullif(__n_d - 1.0d, 0.0d))")
    staged = g.select(
        "stratum", "n_rows",
        F.expr("round(__s_d / __n_d, 6)").alias("mean"),
        F.expr(f"round({sd}, 6)").alias("sd"),
        F.expr(
            f"coalesce(CAST(round(__n_d * ({sd})) AS BIGINT), 0)"
        ).alias("weight_int"),
    )
    w_tot = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = (
        staged.withColumn(
            "__w_sum", F.sum("weight_int").over(w_tot).cast("long"))
        .withColumn(
            "__floor",
            F.expr(
                f"CASE WHEN __w_sum = 0 THEN CAST(0 AS BIGINT) ELSE "
                f"CAST({total_n} * weight_int DIV __w_sum AS BIGINT) END"
            ),
        )
        .withColumn(
            "__rem",
            F.expr(
                f"CASE WHEN __w_sum = 0 THEN CAST(0 AS BIGINT) ELSE "
                f"CAST({total_n} * weight_int - __floor * __w_sum "
                f"AS BIGINT) END"
            ),
        )
        .withColumn(
            "__left",
            F.lit(total_n) - F.sum("__floor").over(w_tot).cast("long"),
        )
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.orderBy(F.col("__rem").desc(),
                               F.col("stratum").asc())
            ),
        )
    )
    return staged.select(
        "stratum", "n_rows", "mean", "sd", "weight_int",
        F.expr(
            "CASE WHEN __w_sum = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(__floor + CASE WHEN __rk <= __left THEN 1 "
            "ELSE 0 END AS BIGINT) END"
        ).alias("alloc"),
    ).orderBy("stratum")


def shrunk_rates_report(
    df: DataFrame,
    group_col: str,
    label_expr: str,
    pseudo_n: int = 20,
) -> DataFrame:
    """Small-sample-safe rate leaderboard (Bayesian average): each
    group's positive rate is shrunk toward the GLOBAL rate with
    ``pseudo_n`` pseudo-observations —

        bayes = (k_h + pseudo_n · p̄) / (n_h + pseudo_n)

    — the standard fix for "a 2-document domain with 2 hits outranks a
    10k-document domain at 95%": tiny groups collapse to the prior,
    big groups keep their evidence.  Both the raw and the shrunk
    ranking are returned so rank FLIPS (the groups the naive
    leaderboard got wrong) are visible directly.

    ONE hash aggregate to the group frame; the global rate comes from
    a 1-row aggregate broadcast back (model data, never a second
    corpus scan); ranks are exact distributed row numbers via
    :func:`distributed_prefix_counts` ordered (rate desc, group asc) —
    the group frame is corpus-derived (every domain/source), so
    neither the totals nor the ranks may run through a single-task
    global window.  Rates are fixed-order doubles over exact BIGINT
    counts, micro-quantized before ranking so order is cross-engine
    stable.

    Returns one row per group: (group, n, k, rate_micro, rate,
    bayes_micro, bayes_rate, rank_raw, rank_bayes), ordered by group.
    """
    if pseudo_n < 1:
        raise ValueError("pseudo_n must be >= 1")
    g = (
        df.where(f"({group_col}) IS NOT NULL "
                 f"AND ({label_expr}) IS NOT NULL")
        .groupBy(F.expr(f"CAST(({group_col}) AS STRING)").alias("group"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.expr(f"CAST(sum(CAST(({label_expr}) AS INT)) AS BIGINT)")
            .alias("k"),
        )
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("__nt"),
        F.sum("k").cast("long").alias("__kt"),
    )
    staged = (
        g.crossJoin(F.broadcast(tot))
        .withColumn(
            "rate_micro",
            F.expr(
                "CAST(round(CAST(k AS DOUBLE) "
                "/ nullif(CAST(n AS DOUBLE), 0.0) * 1000000.0) AS BIGINT)"
            ),
        )
        .withColumn(
            "bayes_micro",
            F.expr(
                f"CAST(round((CAST(k AS DOUBLE) + {pseudo_n}.0d "
                "* (CAST(__kt AS DOUBLE) "
                "/ nullif(CAST(__nt AS DOUBLE), 0.0))) "
                f"/ (CAST(n AS DOUBLE) + {pseudo_n}.0d) "
                "* 1000000.0) AS BIGINT)"
            ),
        )
    )
    staged = staged.withColumn("__one", F.lit(1).cast("long"))
    r1, _ = distributed_prefix_counts(
        staged,
        [F.col("rate_micro").desc(), F.col("group").asc()],
        ["__one"],
    )
    r1 = r1.withColumn("rank_raw", F.col("__cum___one").cast("int")) \
        .drop("__cum___one", "__before___one")
    r2, _ = distributed_prefix_counts(
        r1,
        [F.col("bayes_micro").desc(), F.col("group").asc()],
        ["__one"],
    )
    return (
        r2.withColumn(
            "rank_bayes", F.col("__cum___one").cast("int")
        )
        .select(
            "group", "n", "k", "rate_micro",
            (F.col("rate_micro").cast("double") / 1e6).alias("rate"),
            "bayes_micro",
            (F.col("bayes_micro").cast("double") / 1e6)
            .alias("bayes_rate"),
            "rank_raw", "rank_bayes",
        )
        .orderBy("group")
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    n_grid: int = 101,
) -> DataFrame:
    """Cross-group quantile normalization (the microarray batch-effect
    correction of Bolstad et al. 2003, grid form): each row's value is
    replaced by the GLOBAL distribution's quantile at the row's
    WITHIN-GROUP percent rank — after it, every group shares the
    global value distribution (up to the grid resolution), so
    downstream thresholds compare sources fairly even when one source
    systematically runs long/short/hot/cold.

    Two stages, both exact: (1) the global quantile grid —
    ``n_grid`` exact interpolated quantiles via
    :func:`~concept_multi_db_query_engine_spark.operators.analytics.
    distributed_group_quantiles` (percentile_cont semantics,
    bit-compatible with DuckDB's quantile_cont), packed into a ONE-ROW
    broadcast array; (2) a single keyed shuffle on the group for the
    within-group (rank, count) window, then a narrow map interpolates
    the grid at ``p = (rank−1)/(n−1)`` (single-row groups pin
    p = 0.5).  All arithmetic is fixed-order IEEE doubles over exact
    ranks — cross-engine stable.

    Returns (id, group, value, qnorm), qnorm rounded to 6.
    """
    from pyspark.sql import Window

    from .analytics import distributed_group_quantiles

    if n_grid < 2:
        raise ValueError("n_grid must be >= 2")
    vals = df.where(
        f"({group_col}) IS NOT NULL AND ({value_col}) IS NOT NULL"
    ).select(
        F.expr(f"({id_col})").alias("id"),
        F.expr(f"CAST(({group_col}) AS STRING)").alias("group"),
        F.expr(f"CAST(({value_col}) AS DOUBLE)").alias("value"),
    )
    probs = [j / (n_grid - 1) for j in range(n_grid)]
    grid = distributed_group_quantiles(
        vals.select(F.lit(0).alias("__g"), F.col("value").alias("__v")),
        "__g", "__v", probs, round_to=None,
    ).select(
        F.array(*[F.col(f"q{j}") for j in range(n_grid)]).alias("__grid")
    ).localCheckpoint(eager=True)
    w = Window.partitionBy("group").orderBy(
        F.col("value").asc(), F.col("id").asc()
    )
    w_n = Window.partitionBy("group")
    ranked = vals.select(
        "id", "group", "value",
        F.row_number().over(w).alias("__r"),
        F.count(F.lit(1)).over(w_n).alias("__n"),
    )
    p = ("CASE WHEN __n = 1 THEN 0.5d ELSE "
         "CAST(__r - 1 AS DOUBLE) / CAST(__n - 1 AS DOUBLE) END")
    pos = f"(({p}) * {n_grid - 1}.0d)"
    k = f"CAST(floor({pos}) AS INT)"
    return (
        ranked.crossJoin(F.broadcast(grid))
        .select(
            "id", "group", "value",
            F.expr(
                f"round(element_at(__grid, ({k}) + 1) "
                f"+ (element_at(__grid, least(({k}) + 2, {n_grid})) "
                f"- element_at(__grid, ({k}) + 1)) "
                f"* (({pos}) - floor({pos})), 6)"
            ).alias("qnorm"),
        )
        .orderBy("id")
    )


def cross_correlation(
    a: DataFrame,
    b: DataFrame,
    idx_col: str = "idx",
    value_col: str = "value",
    max_lag: int = 7,
    dec: str = _DEC,
) -> DataFrame:
    """Sample cross-correlation function between two aligned series:
    Pearson r of ``a[t]`` against ``b[t + lag]`` for every lag in
    ``[-max_lag, +max_lag]`` — the lead/lag discovery tool (does
    marketing spend lead revenue by 3 days? do errors lag deploys?).
    A peak at a positive lag means ``a`` LEADS ``b`` by that many
    steps.

    Run it on PRE-AGGREGATED series (daily rollups — model data); the
    shifted alignment is built by exploding ``b`` across the
    (2·max_lag+1)-row lag spine (series × lags, still model-sized), so
    ONE keyed join and ONE hash aggregate produce every lag's exact
    decimal moments, and each r is the shared :func:`_corr_expr`
    fixed-shape double — no per-lag passes, no ``corr()`` (whose
    double accumulation is partition-order dependent).

    Returns one row per lag: (lag, n, r), ordered by lag; lags whose
    overlap has < 2 points or zero variance yield NULL r.
    """
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    av = a.select(
        F.col(idx_col).cast("long").alias("__i"),
        F.col(value_col).alias("__x"),
    )
    bv = b.select(
        F.col(idx_col).cast("long").alias("__i"),
        F.col(value_col).alias("__y"),
    )
    spine = a.sparkSession.range(-max_lag, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    shifted = bv.crossJoin(F.broadcast(spine)).select(
        (F.col("__i") - F.col("lag")).alias("__i"), "lag", "__y"
    )
    x, y = _m("__x", dec), _m("__y", dec)
    moments = (
        av.join(shifted, "__i")
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * y).alias("sxy"),
            F.sum(x * x).alias("sxx"),
            F.sum(y * y).alias("syy"),
        )
        .select(
            "lag", "n",
            F.col("n").cast("double").alias("n_d"),
            *[F.col(c).cast("double").alias(f"{c}_d")
              for c in ("sx", "sy", "sxy", "sxx", "syy")],
        )
    )
    return (
        spine.join(moments, "lag", "left")
        .select(
            "lag",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            F.expr(
                _corr_expr("n_d", "sx_d", "sy_d", "sxy_d", "sxx_d",
                           "syy_d")
            ).alias("r"),
        )
        .orderBy("lag")
    )


def wasserstein_1d(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth-mover) distance between two
    groups' value distributions: ``W1 = ∫ |CDF_a − CDF_b| dx`` — the
    integral companion to :func:`ks_test` (which only sees the MAX gap):
    KS answers "do they differ", W1 answers "by how much, in the
    value's own units" — the drift magnitude monitors alert on.

    ONE conditional aggregation to the distinct-value frame (counts
    per value per group), then :func:`distributed_prefix_counts` for
    the exact cumulative counts, group totals, and the step width
    (``with_lead`` — the next distinct value in global order); each
    step term quantizes to nano before the exact integer sum (the
    shared discipline), so the distance is cross-engine bit-stable.
    No global single-task window anywhere — the prefix counts stay
    range-partitioned even when the value column is continuous and
    the distinct-value frame is corpus-sized.

    Returns one row: (n_a, n_b, w1_nano, w1).
    """
    in_a = F.col(group_col) == F.lit(group_a)
    in_b = F.col(group_col) == F.lit(group_b)

    g = (
        df.where((in_a | in_b) & F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).cast("double").alias("__v"))
        .agg(
            F.sum(F.when(in_a, 1).otherwise(0)).cast("long").alias("ca"),
            F.sum(F.when(in_b, 1).otherwise(0)).cast("long").alias("cb"),
        )
    )
    cum, totals = distributed_prefix_counts(
        g, "__v", ["ca", "cb"], with_lead=True
    )
    staged = cum.select(
        "__v",
        F.col("__cum_ca").alias("__cum_a"),
        F.col("__cum_cb").alias("__cum_b"),
        F.lit(totals["ca"]).cast("long").alias("__na"),
        F.lit(totals["cb"]).cast("long").alias("__nb"),
        F.col("__next_v").alias("__vn"),
    )
    term = (
        "CAST(round(abs(CAST(__cum_a AS DOUBLE) "
        "/ nullif(CAST(__na AS DOUBLE), 0.0) "
        "- CAST(__cum_b AS DOUBLE) / nullif(CAST(__nb AS DOUBLE), 0.0)) "
        "* (__vn - __v) * 1000000000.0) AS BIGINT)"
    )
    return staged.where("__vn IS NOT NULL").agg(
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"),
        F.sum(F.expr(term)).cast("long").alias("w1_nano"),
    ).select(
        "n_a", "n_b", "w1_nano",
        (F.col("w1_nano").cast("double") / 1e9).alias("w1"),
    )


def diff_in_diff(
    df: DataFrame,
    value_col: str,
    treat_expr: str,
    post_expr: str,
    dec: str = _DEC,
) -> DataFrame:
    """Difference-in-differences estimator: ``(T_post − T_pre) −
    (C_post − C_pre)`` — the workhorse quasi-experimental effect
    estimate when randomization wasn't available (a rollout hit one
    group; parallel-trends assumed): the control group's before/after
    drift is subtracted out of the treated group's change.

    ONE conditional aggregation computes all four cells' exact decimal
    moments (n, Σx, Σx²); the estimate and its large-sample standard
    error ``sqrt(Σ var_cell/n_cell)`` are a fixed-shape double
    projection over that single row (the :func:`welch_t_test`
    discipline), micro-quantized.  Cells with n < 2 yield NULL se/z.

    Returns one row: (n_t_pre, n_t_post, n_c_pre, n_c_post, did_micro,
    did, se_micro, z_micro).
    """
    t = F.expr(f"coalesce(CAST(({treat_expr}) AS BOOLEAN), false)")
    p = F.expr(f"coalesce(CAST(({post_expr}) AS BOOLEAN), false)")
    x = _m(value_col, dec)
    cells = {
        "tp": t & p, "tb": t & ~p, "cp": ~t & p, "cb": ~t & ~p,
    }
    aggs = []
    for name, cond in cells.items():
        aggs += [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long")
            .alias(f"n_{name}"),
            F.sum(F.when(cond, x)).alias(f"s_{name}"),
            F.sum(F.when(cond, x * x)).alias(f"q_{name}"),
        ]
    m = df.where(F.col(value_col).isNotNull()).agg(*aggs).select(
        *[F.col(f"n_{c}") for c in cells],
        *[F.col(f"n_{c}").cast("double").alias(f"nd_{c}")
          for c in cells],
        *[F.col(f"s_{c}").cast("double").alias(f"sd_{c}")
          for c in cells],
        *[F.col(f"q_{c}").cast("double").alias(f"qd_{c}")
          for c in cells],
    )

    def mean(c):
        return f"(sd_{c} / nullif(nd_{c}, 0.0))"

    def sevar(c):
        return (f"((qd_{c} - sd_{c} * sd_{c} / nd_{c}) "
                f"/ nullif(nd_{c} - 1.0, 0.0) / nd_{c})")

    did = (f"(({mean('tp')} - {mean('tb')}) "
           f"- ({mean('cp')} - {mean('cb')}))")
    se = (f"sqrt({sevar('tp')} + {sevar('tb')} "
          f"+ {sevar('cp')} + {sevar('cb')})")
    return m.select(
        F.col("n_tb").alias("n_t_pre"),
        F.col("n_tp").alias("n_t_post"),
        F.col("n_cb").alias("n_c_pre"),
        F.col("n_cp").alias("n_c_post"),
        F.expr(f"CAST(round({did} * 1000000.0) AS BIGINT)")
        .alias("did_micro"),
        F.expr(f"CAST(round({did} * 1000000.0) AS BIGINT) / 1e6")
        .cast("double").alias("did"),
        F.expr(f"CAST(round({se} * 1000000.0) AS BIGINT)")
        .alias("se_micro"),
        F.expr(
            f"CAST(round({did} / nullif({se}, 0.0) * 1000000.0) "
            "AS BIGINT)"
        ).alias("z_micro"),
    )


def weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    dec: str = _DEC,
) -> DataFrame:
    """Exact lower weighted median per group: the smallest value whose
    cumulative weight reaches half the group's total — the
    quantity-weighted price, impression-weighted latency, the
    aggregation a plain median silently gets wrong whenever rows carry
    different mass.

    ONE hash aggregate to the (group, value) frame (weights summed in
    exact decimal), cumulative windows ordered by value inside each
    group, and the crossing point picked by a min over the qualifying
    suffix (``2·cumW >= W`` compared in exact decimal — no float
    halves).  The windows run over the distinct-value frame per group,
    never the raw corpus.  Returns one row per group: (group, n,
    total_weight, weighted_median), ordered by group.
    """
    from pyspark.sql import Window

    w = _m(weight_col, dec)
    g = (
        df.where(
            f"({value_col}) IS NOT NULL AND ({weight_col}) IS NOT NULL "
            f"AND ({weight_col}) >= 0 AND ({group_col}) IS NOT NULL"
        )
        .groupBy(
            F.expr(f"CAST(({group_col}) AS STRING)").alias("group"),
            F.col(value_col).cast("double").alias("__v"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum(w).alias("__w"),
        )
    )
    w_cum = Window.partitionBy("group").orderBy(F.col("__v").asc()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_tot = Window.partitionBy("group").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = g.select(
        "group", "__v", "__n",
        F.sum("__w").over(w_cum).alias("__cum"),
        F.sum("__w").over(w_tot).alias("__tot"),
        F.sum("__n").over(w_tot).cast("long").alias("__cnt"),
    )
    return (
        staged.where(F.expr("__cum + __cum >= __tot"))
        .groupBy("group")
        .agg(
            F.max("__cnt").alias("n"),
            F.expr("CAST(max(__tot) AS DOUBLE)").alias("total_weight"),
            F.min("__v").alias("weighted_median"),
        )
        .orderBy("group")
    )


def seasonal_strength(
    series: DataFrame,
    idx_col: str,
    season_col: str,
    value_col: str,
) -> DataFrame:
    """Seasonality and trend STRENGTH scalars (Hyndman's FPP measures)
    computed over :func:`seasonal_decompose`'s output::

        F_s = max(0, 1 − var(residual) / var(seasonal + residual))
        F_t = max(0, 1 − var(residual) / var(trend + residual))

    — the "is this series worth a seasonal model" gate: near 0 means
    the component is noise, near 1 means it dominates.  The decomposed
    frame is model data (one row per period); variances come from its
    exact decimal moments in one aggregate, the two ratios are
    fixed-order doubles, micro-quantized.

    Returns one row: (n, seasonal_strength, trend_strength).
    """
    d = seasonal_decompose(series, idx_col, season_col, value_col)
    # wide decimals: trend+residual is value-scale (monthly revenue
    # sums overflow (12,4)); (19,4) on one product side keeps DuckDB's
    # int64 decimal storage from overflowing (the shared gotcha)
    x = lambda c: F.col(c).cast("decimal(18,4)")
    m = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x("residual")).alias("sr"),
        F.sum(x("residual") * x("residual")).alias("qr"),
        F.sum(x("seasonal") + x("residual")).alias("ss"),
        F.sum((F.col("seasonal").cast("decimal(19,4)")
               + F.col("residual").cast("decimal(19,4)"))
              * (x("seasonal") + x("residual"))).alias("qs"),
        F.sum(x("trend") + x("residual")).alias("st"),
        F.sum((F.col("trend").cast("decimal(19,4)")
               + F.col("residual").cast("decimal(19,4)"))
              * (x("trend") + x("residual"))).alias("qt"),
    ).select(
        "n",
        F.col("n").cast("double").alias("n_d"),
        *[F.col(c).cast("double").alias(f"{c}_d")
          for c in ("sr", "qr", "ss", "qs", "st", "qt")],
    )

    def var(q, s):
        return f"(({q}_d - {s}_d * {s}_d / n_d) / nullif(n_d - 1.0, 0.0))"

    fs = (f"greatest(0.0, 1.0 - {var('qr', 'sr')} "
          f"/ nullif({var('qs', 'ss')}, 0.0))")
    ft = (f"greatest(0.0, 1.0 - {var('qr', 'sr')} "
          f"/ nullif({var('qt', 'st')}, 0.0))")
    return m.select(
        "n",
        F.expr(f"CAST(round(({fs}) * 1000000.0) AS BIGINT) / 1e6")
        .cast("double").alias("seasonal_strength"),
        F.expr(f"CAST(round(({ft}) * 1000000.0) AS BIGINT) / 1e6")
        .cast("double").alias("trend_strength"),
    )


def log_rank_test(
    df: DataFrame,
    duration_col: str,
    observed_col: str,
    group_expr: str,
) -> DataFrame:
    """Log-rank test (Mantel–Cox): do two groups share a survival
    curve?  The censoring-aware companion to :func:`kaplan_meier` —
    eyeballing two KM curves is not a test; this is the standard one
    (churn experiment arms, cohort A vs B time-to-conversion).

    At each distinct EVENT time, group A's observed events compare
    against the hypergeometric expectation from the shared risk set::

        E_A(t) = d_t · n_At / n_t
        V(t)   = d_t (n_At/n_t)(1 − n_At/n_t)(n_t − d_t)/(n_t − 1)
        chi2   = (O_A − Σ E_A)² / Σ V        (1 dof)

    Shape: ONE hash aggregate to the (duration) frame with per-group
    event/censor counts; the exact integer risk sets (the KM
    discipline) come from :func:`distributed_prefix_counts` — durations
    can be continuous (seconds-granularity time-to-event), so the
    distinct-duration frame can approach corpus size and a global
    single-task window would not survive scale.  Each E/V term
    quantizes to micro/nano integers before the exact sums, and the
    statistic is a final fixed-order double.  Times with ``n_t <= 1``
    contribute no variance (standard).  Returns one row: (n_a, n_b,
    o_a, o_b, e_a, e_b, logrank_chi2).
    """
    g = F.expr(f"coalesce(CAST(({group_expr}) AS BOOLEAN), false)")
    cells = (
        df.where(f"({duration_col}) IS NOT NULL "
                 f"AND ({observed_col}) IS NOT NULL")
        .groupBy(F.expr(f"CAST(({duration_col}) AS DOUBLE)").alias("t"))
        .agg(
            F.sum(F.when(g & F.col(observed_col), 1).otherwise(0))
            .cast("long").alias("d_a"),
            F.sum(F.when(~g & F.col(observed_col), 1).otherwise(0))
            .cast("long").alias("d_b"),
            F.sum(F.when(g, 1).otherwise(0)).cast("long").alias("s_a"),
            F.sum(F.when(~g, 1).otherwise(0)).cast("long").alias("s_b"),
        )
    )
    cum, totals = distributed_prefix_counts(cells, "t", ["s_a", "s_b"])
    staged = (
        cum
        .withColumn("__ta", F.lit(totals["s_a"]).cast("long"))
        .withColumn("__tb", F.lit(totals["s_b"]).cast("long"))
        .withColumn(
            "n_at",
            (F.col("__ta") - F.col("__before_s_a")).cast("long"))
        .withColumn(
            "n_bt",
            (F.col("__tb") - F.col("__before_s_b")).cast("long"))
        .where("d_a + d_b > 0")
    )
    ea = ("(CAST(d_a + d_b AS DOUBLE) * CAST(n_at AS DOUBLE) "
          "/ CAST(n_at + n_bt AS DOUBLE))")
    vt = ("(CAST(d_a + d_b AS DOUBLE) "
          "* (CAST(n_at AS DOUBLE) / CAST(n_at + n_bt AS DOUBLE)) "
          "* (1.0 - CAST(n_at AS DOUBLE) / CAST(n_at + n_bt AS DOUBLE)) "
          "* (CAST(n_at + n_bt AS DOUBLE) - CAST(d_a + d_b AS DOUBLE)) "
          "/ nullif(CAST(n_at + n_bt AS DOUBLE) - 1.0, 0.0))")
    folded = staged.agg(
        F.max("__ta").alias("n_a"),
        F.max("__tb").alias("n_b"),
        F.sum("d_a").cast("long").alias("o_a"),
        F.sum("d_b").cast("long").alias("o_b"),
        F.sum(F.expr(f"CAST(round(({ea}) * 1000000.0) AS BIGINT)"))
        .cast("long").alias("__ea_micro"),
        F.sum(F.expr(
            f"coalesce(CAST(round(({vt}) * 1000000000.0) AS BIGINT), 0)"
        )).cast("long").alias("__v_nano"),
    )
    chi2 = (
        "((CAST(o_a AS DOUBLE) - CAST(__ea_micro AS DOUBLE) / 1000000.0) "
        "* (CAST(o_a AS DOUBLE) - CAST(__ea_micro AS DOUBLE) / 1000000.0) "
        "/ nullif(CAST(__v_nano AS DOUBLE) / 1000000000.0, 0.0))"
    )
    return folded.select(
        "n_a", "n_b", "o_a", "o_b",
        F.expr("CAST(__ea_micro AS DOUBLE) / 1e6").alias("e_a"),
        F.expr(
            "CAST(o_a + o_b AS DOUBLE) "
            "- CAST(__ea_micro AS DOUBLE) / 1e6"
        ).alias("e_b"),
        F.expr(
            f"CAST(round(({chi2}) * 1000000.0) AS BIGINT) / 1e6"
        ).cast("double").alias("logrank_chi2"),
    )


def stratified_take(
    df: DataFrame,
    stratum_col: str,
    alloc: DataFrame,
    id_col: str,
    salt: str = "take-v1",
) -> DataFrame:
    """Materialize a stratified sample to EXACT per-stratum counts: the
    allocation frame (e.g. :func:`neyman_allocation`'s output) says how
    many rows each stratum contributes, and rows are taken in salted-
    md5 order — a uniform random draw that is fully deterministic and
    re-salting re-draws (the repo's hash discipline).  The follow-through
    that turns an allocation PLAN into an actual sample with counts
    that match it exactly (hash_split only hits proportions in
    expectation).

    One broadcast join of the tiny allocation frame + one per-stratum
    rank window (single keyed shuffle).  Returns the sampled rows'
    (stratum, id, take_rank), ordered by (stratum, take_rank).
    """
    from pyspark.sql import Window

    a = alloc.select(
        F.col("stratum").alias("__st"),
        F.col("alloc").cast("long").alias("__alloc"),
    )
    ranked = (
        df.where(f"({stratum_col}) IS NOT NULL")
        .select(
            F.expr(f"CAST(({stratum_col}) AS STRING)").alias("stratum"),
            F.expr(f"({id_col})").alias("id"),
        )
        .withColumn(
            "take_rank",
            F.row_number().over(
                Window.partitionBy("stratum").orderBy(
                    F.expr(f"md5(concat(CAST(id AS STRING), ':{salt}'))")
                    .asc(),
                    F.col("id").asc(),
                )
            ),
        )
    )
    return (
        ranked.join(
            F.broadcast(a), ranked["stratum"] == a["__st"]
        )
        .where(F.col("take_rank") <= F.col("__alloc"))
        .select("stratum", "id", "take_rank")
        .orderBy("stratum", "take_rank")
    )


def _rdiv(x: int, d: int) -> int:
    """Half-away-from-zero integer division — identical text in the SQL
    oracles (`//` truncates toward zero there; abs keeps both aligned
    for negatives)."""
    ax = x if x >= 0 else -x
    q = (2 * ax + d) // (2 * d)
    return q if x >= 0 else -q


def holt_forecast(
    series: DataFrame,
    idx_col: str,
    value_col: str,
    alpha_pct: int = 30,
    beta_pct: int = 10,
    horizon: int = 12,
) -> DataFrame:
    """Holt's linear (double) exponential smoothing — the classic
    level+trend forecaster between the naive last-value and the full
    seasonal model::

        l_t = α·y_t + (1−α)(l_{t−1} + b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β) b_{t−1}
        ŷ_{T+h} = l_T + h·b_T

    The recurrence is SEQUENTIAL by nature, so it runs driver-side
    over the COLLECTED series — model data (one row per period; the
    Theil-Sen "aggregated series only" contract) — in EXACT integer
    micro-units with integer-percent smoothing weights and half-away
    division, the :func:`~concept_multi_db_query_engine_spark.
    operators.classify.logistic_train` discipline: every step is
    bit-replayable by a chained-CTE SQL oracle, no float drift over
    any number of steps.  Input must be a dense integer-indexed series
    (gap-fill first — :func:`~concept_multi_db_query_engine_spark.
    operators.analytics.gap_fill_linear`).

    Returns ``horizon`` rows: (h, forecast_micro, forecast), plus the
    fitted terminal state as h = 0 (level) — ordered by h.
    """
    if not 0 < alpha_pct <= 100 or not 0 < beta_pct <= 100:
        raise ValueError("alpha_pct and beta_pct must be in (0, 100]")
    if horizon < 1:
        raise ValueError("horizon must be >= 1")
    rows = (
        series.where(f"({idx_col}) IS NOT NULL "
                     f"AND ({value_col}) IS NOT NULL")
        .select(
            F.expr(f"CAST(({idx_col}) AS BIGINT)").alias("i"),
            F.expr(
                f"CAST(round(CAST(({value_col}) AS DOUBLE) "
                "* 1000000.0) AS BIGINT)"
            ).alias("y"),
        )
        .orderBy("i")
        .collect()
    )
    if len(rows) < 2:
        raise ValueError("need at least 2 points")
    ys = [int(r["y"]) for r in rows]
    lvl, trd = ys[0], ys[1] - ys[0]
    a, b = alpha_pct, beta_pct
    for y in ys[1:]:
        prev = lvl
        lvl = _rdiv(a * y + (100 - a) * (lvl + trd), 100)
        trd = _rdiv(b * (lvl - prev) + (100 - b) * trd, 100)
    out = [(0, lvl, lvl / 1e6)]
    for h in range(1, horizon + 1):
        f = lvl + h * trd
        out.append((h, f, f / 1e6))
    return local_frame(
        series.sparkSession,
        out, "h int, forecast_micro long, forecast double"
    ).orderBy("h")


def cohens_d(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    dec: str = _DEC,
) -> DataFrame:
    """Standardized mean difference between two groups: Cohen's d
    (pooled-SD units) and Hedges' g (the small-sample bias correction
    ``1 − 3/(4·df − 1)``) — the EFFECT SIZE companion to
    :func:`welch_t_test`: at 100 TB everything is significant; d says
    whether the difference is worth acting on (rule of thumb: 0.2
    small, 0.5 medium, 0.8 large).

    Same single conditional-aggregation scan of exact decimal moments
    as the t-test; d and g are fixed-order double projections over the
    one-row frame, micro-quantized.  Returns one row: (n_a, n_b,
    mean_a, mean_b, pooled_sd, d, g).
    """
    in_a = F.col(group_col) == F.lit(group_a)
    in_b = F.col(group_col) == F.lit(group_b)
    x = _m(value_col, dec)
    m = df.where(
        (in_a | in_b) & F.col(value_col).isNotNull()
    ).agg(
        F.sum(F.when(in_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(in_b, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(in_a, x)).alias("sa"),
        F.sum(F.when(in_b, x)).alias("sb"),
        F.sum(F.when(in_a, x * x)).alias("qa"),
        F.sum(F.when(in_b, x * x)).alias("qb"),
    ).select(
        "n_a", "n_b",
        F.col("n_a").cast("double").alias("na_d"),
        F.col("n_b").cast("double").alias("nb_d"),
        *[F.col(c).cast("double").alias(f"{c}_d")
          for c in ("sa", "sb", "qa", "qb")],
    )
    ssa = "(qa_d - sa_d * sa_d / na_d)"
    ssb = "(qb_d - sb_d * sb_d / nb_d)"
    sp = (f"sqrt(({ssa} + {ssb}) "
          "/ nullif(na_d + nb_d - 2.0, 0.0))")
    d = (f"((sa_d / na_d - sb_d / nb_d) / nullif({sp}, 0.0))")
    corr = "(1.0 - 3.0 / nullif(4.0 * (na_d + nb_d - 2.0) - 1.0, 0.0))"
    return m.select(
        "n_a", "n_b",
        F.expr("round(sa_d / nullif(na_d, 0.0), 6)").alias("mean_a"),
        F.expr("round(sb_d / nullif(nb_d, 0.0), 6)").alias("mean_b"),
        F.expr(f"CAST(round(({sp}) * 1000000.0) AS BIGINT) / 1e6")
        .cast("double").alias("pooled_sd"),
        F.expr(f"CAST(round(({d}) * 1000000.0) AS BIGINT) / 1e6")
        .cast("double").alias("d"),
        F.expr(
            f"CAST(round(({d}) * ({corr}) * 1000000.0) AS BIGINT) / 1e6"
        ).cast("double").alias("g"),
    )


def forecast_accuracy(
    joined: DataFrame,
    actual_col: str,
    forecast_col: str,
) -> DataFrame:
    """Forecast-accuracy scorecard over a joined (actual, forecast)
    frame: MAE, RMSE, MAPE, and SMAPE — the backtest readout that
    closes the forecasting loop (a forecaster without one is a prior).

    One aggregation: absolute/squared/percentage error terms quantize
    per row (micro for the linear terms, unit scale for the squares so
    1e7-scale values cannot overflow the long sum) and reduce as exact
    integers; the final metrics are fixed-order doubles.  Returns one
    row: (n, mae, rmse, mape, smape).
    """
    a = f"CAST(({actual_col}) AS DOUBLE)"
    f_ = f"CAST(({forecast_col}) AS DOUBLE)"
    m = joined.where(
        f"({actual_col}) IS NOT NULL AND ({forecast_col}) IS NOT NULL"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr(
            f"CAST(round(abs({a} - {f_}) * 1000000.0) AS BIGINT)"
        )).cast("long").alias("__ae_micro"),
        F.sum(F.expr(
            f"CAST(round(({a} - {f_}) * ({a} - {f_})) AS BIGINT)"
        )).cast("long").alias("__se_unit"),
        F.sum(F.expr(
            f"CAST(round(abs({a} - {f_}) / nullif(abs({a}), 0.0) "
            "* 1000000.0) AS BIGINT)"
        )).cast("long").alias("__ape_micro"),
        F.sum(F.expr(
            f"CAST(round(2.0 * abs({a} - {f_}) "
            f"/ nullif(abs({a}) + abs({f_}), 0.0) * 1000000.0) "
            "AS BIGINT)"
        )).cast("long").alias("__sape_micro"),
    )
    return m.select(
        "n",
        F.expr(
            "CAST(round(CAST(__ae_micro AS DOUBLE) / 1000000.0 "
            "/ nullif(CAST(n AS DOUBLE), 0.0) * 1000000.0) AS BIGINT) "
            "/ 1e6"
        ).cast("double").alias("mae"),
        F.expr(
            "CAST(round(sqrt(CAST(__se_unit AS DOUBLE) "
            "/ nullif(CAST(n AS DOUBLE), 0.0)) * 1000000.0) AS BIGINT) "
            "/ 1e6"
        ).cast("double").alias("rmse"),
        F.expr(
            "CAST(round(CAST(__ape_micro AS DOUBLE) / 1000000.0 "
            "/ nullif(CAST(n AS DOUBLE), 0.0) * 1000000.0) AS BIGINT) "
            "/ 1e6"
        ).cast("double").alias("mape"),
        F.expr(
            "CAST(round(CAST(__sape_micro AS DOUBLE) / 1000000.0 "
            "/ nullif(CAST(n AS DOUBLE), 0.0) * 1000000.0) AS BIGINT) "
            "/ 1e6"
        ).cast("double").alias("smape"),
    )


def one_way_anova(
    df: DataFrame,
    group_col: str,
    value_col: str,
    dec: str = _DEC,
) -> DataFrame:
    """One-way ANOVA across k groups — the k-group generalization of
    the two-sample t-test (:func:`welch_t_test`): does ANY group mean
    differ?  Plus eta² (the share of variance the grouping explains —
    the effect size that keeps a 100 TB F-statistic honest)::

        F = (SSB / (k−1)) / (SSW / (n−k)),   eta² = SSB / SST

    ONE hash aggregation to per-group exact decimal moments (n, Σx,
    Σx²); SSB/SSW/SST reduce over the k-row model frame via the exact
    sums (grand totals from the same frame — no second scan), and the
    statistics are fixed-order doubles micro-quantized.  Returns one
    row: (n, k, ssb, ssw, f_stat, eta_sq).
    """
    x = _m(value_col, dec)
    g = (
        df.where(f"({group_col}) IS NOT NULL "
                 f"AND ({value_col}) IS NOT NULL")
        .groupBy(F.expr(f"CAST(({group_col}) AS STRING)").alias("g"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum(x).alias("s_g"),
            F.sum(x * x).alias("q_g"),
        )
    )
    m = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.expr("CAST(sum(s_g) AS DOUBLE)").alias("__s_d"),
        F.expr("CAST(sum(q_g) AS DOUBLE)").alias("__q_d"),
        # Σ (S_g² / n_g): per-group squared-sum term, quantized per
        # group at UNIT scale before the exact integer sum (micro
        # scale would overflow BIGINT at these magnitudes; a 1.0
        # quantum is vanishing relative to ~1e16 sums)
        F.sum(F.expr(
            "CAST(round(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) "
            "/ CAST(n_g AS DOUBLE)) AS BIGINT)"
        )).cast("long").alias("__sq_unit"),
    ).select(
        "n", "k",
        F.col("n").cast("double").alias("__n_d"),
        F.col("k").cast("double").alias("__k_d"),
        "__s_d", "__q_d",
        F.expr("CAST(__sq_unit AS DOUBLE)").alias("__sq_d"),
    )
    ssb = "(__sq_d - __s_d * __s_d / __n_d)"
    ssw = "(__q_d - __sq_d)"
    sst = "(__q_d - __s_d * __s_d / __n_d)"
    f_stat = (f"(({ssb}) / nullif(__k_d - 1.0, 0.0)) "
              f"/ nullif(({ssw}) / nullif(__n_d - __k_d, 0.0), 0.0)")
    return m.select(
        "n", "k",
        # unit-scale integers: at ~1e15 magnitudes a 6-decimal round is
        # not representable in a double and the engines re-round to
        # different neighbors; whole units are exact on both
        F.expr(f"CAST(CAST(round({ssb}) AS BIGINT) AS DOUBLE)")
        .alias("ssb"),
        F.expr(f"CAST(CAST(round({ssw}) AS BIGINT) AS DOUBLE)")
        .alias("ssw"),
        F.expr(f"CAST(round(({f_stat}) * 1000000.0) AS BIGINT) / 1e6")
        .cast("double").alias("f_stat"),
        F.expr(
            f"CAST(round(({ssb}) / nullif({sst}, 0.0) * 1000000.0) "
            "AS BIGINT) / 1e6"
        ).cast("double").alias("eta_sq"),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Kruskal–Wallis H — the rank-based (distribution-free) k-group
    test, the ANOVA to reach for when the values are skewed or
    outlier-ridden (latencies, order values)::

        H = [ 12 / (n(n+1)) · Σ_g R_g²/n_g − 3(n+1) ] / C
        C = 1 − Σ_t (t³ − t) / (n³ − n)        (tie correction)

    Everything reduces to the per-(value, group) count frame: average
    ranks under ties are exact HALF-integers (kept as 2×-scaled
    BIGINTs), so each group's rank sum is an exact integer numerator
    and H is one fixed-order double, micro-quantized.  The prefix
    counts behind the ranks come from :func:`distributed_prefix_counts`
    — range-partitioned, never a global single-task window, so the
    statistic stays parallel even when the value column is continuous
    and the distinct-value frame is corpus-sized.  Returns one row:
    (n, k, h, tie_correction, h_corrected).
    """
    cells = (
        df.where(f"({group_col}) IS NOT NULL "
                 f"AND ({value_col}) IS NOT NULL")
        .groupBy(
            F.expr(f"CAST(({value_col}) AS DOUBLE)").alias("v"),
            F.expr(f"CAST(({group_col}) AS STRING)").alias("g"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # PIN the small multi-referenced aggregates (plan-audit class):
    # cells feeds the value histogram AND the rank join; grp feeds the
    # total AND the means
    cells = cells.localCheckpoint(eager=False)
    vals = cells.groupBy("v").agg(F.sum("c").cast("long").alias("t"))
    vals, _ = distributed_prefix_counts(vals, "v", ["t"])
    vals = vals.select("v", "t", F.col("__before_t").alias("__before"))
    # avg rank of a tied block = before + (t+1)/2; kept 2x-scaled
    ranked = cells.join(vals, "v").select(
        "g", "c",
        F.expr("2 * __before + t + 1").cast("long").alias("__r2"),
        "t",
    )
    grp = ranked.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_g"),
        F.sum(F.expr("c * __r2")).cast("long").alias("__rsum2"),
    )
    m = grp.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        # Σ R_g²/n_g with R_g = rsum2/2 — quantized at unit scale per
        # group before the exact sum (micro overflows at n ~ 1e5)
        F.sum(F.expr(
            "CAST(round(CAST(__rsum2 AS DOUBLE) "
            "* CAST(__rsum2 AS DOUBLE) / 4.0 "
            "/ CAST(n_g AS DOUBLE)) AS BIGINT)"
        )).cast("long").alias("__rr_unit"),
    )
    ties = vals.agg(
        F.expr(
            "CAST(coalesce(sum(CAST(t AS DECIMAL(38,0)) * t * t - t), "
            "0) AS DECIMAL(38,0))"
        ).alias("__t3")
    )
    h = ("(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) "
         "* CAST(__rr_unit AS DOUBLE) "
         "- 3.0 * (CAST(n AS DOUBLE) + 1.0))")
    corr = ("(1.0 - CAST(__t3 AS DOUBLE) "
            "/ nullif(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) "
            "* CAST(n AS DOUBLE) - CAST(n AS DOUBLE), 0.0))")
    return m.crossJoin(ties).select(
        "n", "k",
        F.expr(f"CAST(round(({h}) * 1000000.0) AS BIGINT) / 1e6")
        .cast("double").alias("h"),
        F.expr(f"CAST(round(({corr}) * 1000000.0) AS BIGINT) / 1e6")
        .cast("double").alias("tie_correction"),
        F.expr(
            f"CAST(round(({h}) / nullif({corr}, 0.0) * 1000000.0) "
            "AS BIGINT) / 1e6"
        ).cast("double").alias("h_corrected"),
    )


def mann_kendall(
    points: DataFrame,
    idx_col: str,
    value_col: str,
    max_points: int = 100_000,
) -> DataFrame:
    """Mann–Kendall monotone-trend test — the nonparametric companion
    to :func:`theil_sen` (same pair frame, same "aggregated series
    only" contract): ``S = Σ_{i<j} sign(x_j − x_i)`` counts concordant
    minus discordant pairs, with the tie-corrected variance and normal
    z — the standard "is this metric really trending" answer that
    doesn't care about outliers or the trend's shape.

    The pair join is O(n²) over the MODEL series (a count probe
    refuses raw corpora, like theil_sen); S and the tie terms are
    exact integers, z one fixed-order double micro-quantized
    (continuity-corrected).  Returns one row: (n, s_stat, var_s, z).
    """
    n_probe = points.count()
    if n_probe > max_points:
        raise ValueError(
            f"mann_kendall: {n_probe} points exceeds max_points="
            f"{max_points} — aggregate the series first")
    p = points.where(
        f"({idx_col}) IS NOT NULL AND ({value_col}) IS NOT NULL"
    ).select(
        F.expr(f"CAST(({idx_col}) AS DOUBLE)").alias("i"),
        F.expr(f"CAST(({value_col}) AS DOUBLE)").alias("x"),
    )
    a, b = p.alias("a"), p.alias("b")
    s = (
        a.join(b, F.expr("a.i < b.i"))
        .agg(
            F.sum(F.expr("CAST(sign(b.x - a.x) AS BIGINT)"))
            .cast("long").alias("s_stat"),
            F.count(F.lit(1)).cast("long").alias("__pairs"),
        )
    )
    ties = p.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("t")) \
        .agg(
            F.sum("t").cast("long").alias("n"),
            F.expr(
                "CAST(coalesce(sum(CAST(t AS DECIMAL(38,0)) "
                "* (t - 1) * (2 * t + 5)), 0) AS DECIMAL(38,0))"
            ).alias("__tt"),
        )
    var_s = ("((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) "
             "* (2.0 * CAST(n AS DOUBLE) + 5.0) "
             "- CAST(__tt AS DOUBLE)) / 18.0)")
    z = (f"(CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) "
         f"/ nullif(sqrt({var_s}), 0.0) "
         f"WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) "
         f"/ nullif(sqrt({var_s}), 0.0) ELSE 0.0 END)")
    return s.crossJoin(ties).select(
        "n", "s_stat",
        F.expr(f"CAST(round({var_s}) AS BIGINT)").alias("var_s"),
        F.expr(f"CAST(round(({z}) * 1000000.0) AS BIGINT) / 1e6")
        .cast("double").alias("z"),
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation — monotone association that ignores
    outliers and nonlinearity (does bigger X go with bigger Y at ALL,
    not just linearly): Pearson's r computed over tie-averaged ranks.

    Ranks are tie-averaged exact half-integers (kept 2×-scaled — the
    :func:`kruskal_wallis` machinery) over each variable's
    distinct-value frame, joined back by value (two keyed joins
    against rank maps, never a corpus self-join); the prefix counts
    behind the ranks come from :func:`distributed_prefix_counts`, so
    the rank map stays range-partitioned even when the variable is
    continuous and distinct ≈ corpus — no single-task global window.
    The rank moments accumulate in DECIMAL(38,0) and rho is the shared
    fixed-shape correlation expression.  Returns one row: (n, rho).
    """
    base = df.where(
        f"({x_col}) IS NOT NULL AND ({y_col}) IS NOT NULL"
    ).select(
        F.expr(f"CAST(({x_col}) AS DOUBLE)").alias("x"),
        F.expr(f"CAST(({y_col}) AS DOUBLE)").alias("y"),
    )

    def rank_map(col):
        vals = base.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("__t")
        )
        vals, _ = distributed_prefix_counts(vals, col, ["__t"])
        return vals.select(
            col,
            F.expr("CAST(2 * __before___t + __t + 1 AS BIGINT)")
            .alias(f"__r_{col}"),
        )

    ranked = base.join(rank_map("x"), "x").join(rank_map("y"), "y")
    m = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[F.expr(f"CAST(sum(CAST({e} AS DECIMAL(38,0))) "
                 f"AS DECIMAL(38,0))").alias(a)
          for e, a in (("__r_x", "sx"), ("__r_y", "sy"),
                       ("__r_x * __r_y", "sxy"),
                       ("__r_x * __r_x", "sxx"),
                       ("__r_y * __r_y", "syy"))],
    ).select(
        "n",
        F.col("n").cast("double").alias("n_d"),
        *[F.col(c).cast("double").alias(f"{c}_d")
          for c in ("sx", "sy", "sxy", "sxx", "syy")],
    )
    return m.select(
        "n",
        F.expr(
            _corr_expr("n_d", "sx_d", "sy_d", "sxy_d", "sxx_d", "syy_d")
        ).alias("rho"),
    )


def durbin_watson(
    series: DataFrame,
    idx_col: str,
    value_col: str,
) -> DataFrame:
    """Durbin–Watson autocorrelation diagnostic on the residuals of the
    series' own least-squares line: ``DW = Σ(e_t − e_{t−1})² / Σe_t²``
    — ~2 means independent residuals, →0 positive autocorrelation
    (the trend line is missing structure; a forecaster would
    underestimate uncertainty), →4 negative.

    One exact decimal moment pass gives the OLS slope/intercept in
    closed form; residuals are fixed-order doubles over the MODEL
    series, one lag window ordered by index, and the two sums quantize
    per-term (micro for e², the shared discipline) before exact
    reduction.  Returns one row: (n, slope, intercept, dw).
    """
    from pyspark.sql import Window

    p = series.where(
        f"({idx_col}) IS NOT NULL AND ({value_col}) IS NOT NULL"
    ).select(
        F.expr(f"CAST(({idx_col}) AS DOUBLE)").alias("i"),
        F.expr(f"CAST(({value_col}) AS DOUBLE)").alias("x"),
    )
    m = p.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("CAST(i AS DECIMAL(18,4))")).alias("si"),
        F.sum(F.expr("CAST(x AS DECIMAL(18,4))")).alias("sx"),
        F.sum(F.expr("CAST(i AS DECIMAL(19,4)) "
                     "* CAST(x AS DECIMAL(18,4))")).alias("six"),
        F.sum(F.expr("CAST(i AS DECIMAL(19,4)) "
                     "* CAST(i AS DECIMAL(18,4))")).alias("sii"),
    ).select(
        "n",
        F.col("n").cast("double").alias("n_d"),
        *[F.col(c).cast("double").alias(f"{c}_d")
          for c in ("si", "sx", "six", "sii")],
    )
    slope = ("((n_d * six_d - si_d * sx_d) "
             "/ nullif(n_d * sii_d - si_d * si_d, 0.0))")
    icpt = f"((sx_d - ({slope}) * si_d) / n_d)"
    model = m.select(
        "n",
        F.expr(f"CAST(round(({slope}) * 1000000.0) AS BIGINT)")
        .alias("__sl_micro"),
        F.expr(f"CAST(round(({icpt}) * 1000000.0) AS BIGINT)")
        .alias("__ic_micro"),
    )
    resid = (
        p.crossJoin(F.broadcast(model))
        .select(
            "n", "__sl_micro", "__ic_micro", "i",
            F.expr(
                "(x - (CAST(__sl_micro AS DOUBLE) / 1000000.0 * i "
                "+ CAST(__ic_micro AS DOUBLE) / 1000000.0))"
            ).alias("e"),
        )
        .withColumn(
            "__ep",
            F.lag("e").over(Window.orderBy(F.col("i").asc())),
        )
    )
    agg = resid.agg(
        F.max("n").alias("n"),
        F.max("__sl_micro").alias("__sl"),
        F.max("__ic_micro").alias("__ic"),
        # unit scale: residuals of 1e8-scale series square to ~2.5e15
        # per term (milli quanta overflowed the long sum at sf0.1);
        # whole units are vanishing at these magnitudes and exact for
        # small test series alike via the shared half-away rounding
        F.sum(F.expr(
            "CAST(round(e * e) AS BIGINT)"
        )).cast("long").alias("__ss_unit"),
        F.sum(F.expr(
            "CASE WHEN __ep IS NULL THEN CAST(0 AS BIGINT) ELSE "
            "CAST(round((e - __ep) * (e - __ep)) "
            "AS BIGINT) END"
        )).cast("long").alias("__sd_unit"),
    )
    return agg.select(
        "n",
        (F.col("__sl").cast("double") / 1e6).alias("slope"),
        (F.col("__ic").cast("double") / 1e6).alias("intercept"),
        F.expr(
            "CAST(round(CAST(__sd_unit AS DOUBLE) "
            "/ nullif(CAST(__ss_unit AS DOUBLE), 0.0) * 1000000.0) "
            "AS BIGINT) / 1e6"
        ).cast("double").alias("dw"),
    )


def ab_sample_size(
    df: DataFrame,
    value_col: str,
    mde_pct_micro: int = 20_000,
    z_alpha_micro: int = 1_959_964,
    z_beta_micro: int = 841_621,
    dec: str = _DEC,
) -> DataFrame:
    """Experiment planning: the per-arm sample size an A/B test on this
    metric needs to detect a relative lift of ``mde_pct_micro`` (micro
    fraction of the mean, default 2%) at the given alpha/power::

        n = 2 (z_a + z_b)² σ² / δ²,   δ = mde · μ

    — the "how long must this test run" answer computed from the
    metric's OWN observed variance, which is where hand-waved test
    plans go wrong.  ONE exact decimal moment scan; the closed form is
    a fixed-order double micro-quantized; n rounds UP (a plan that
    undershoots its power is no plan).  Returns one row: (n, mean,
    sd, mde_abs, n_per_arm).
    """
    if mde_pct_micro < 1:
        raise ValueError("mde_pct_micro must be >= 1")
    x = _m(value_col, dec)
    m = df.where(F.col(value_col).isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("s"),
        F.sum(x * x).alias("q"),
    ).select(
        "n",
        F.col("n").cast("double").alias("n_d"),
        F.col("s").cast("double").alias("s_d"),
        F.col("q").cast("double").alias("q_d"),
    )
    mean = "(s_d / nullif(n_d, 0.0))"
    var = "((q_d - s_d * s_d / n_d) / nullif(n_d - 1.0, 0.0))"
    z = (f"(CAST({z_alpha_micro} AS DOUBLE) / 1000000.0 "
         f"+ CAST({z_beta_micro} AS DOUBLE) / 1000000.0)")
    delta = (f"((CAST({mde_pct_micro} AS DOUBLE) / 1000000.0) "
             f"* ({mean}))")
    n_arm = (f"(2.0 * ({z}) * ({z}) * ({var}) "
             f"/ nullif(({delta}) * ({delta}), 0.0))")
    return m.select(
        "n",
        F.expr(f"round({mean}, 6)").alias("mean"),
        F.expr(
            f"CAST(round(sqrt({var}) * 1000000.0) AS BIGINT) / 1e6"
        ).cast("double").alias("sd"),
        F.expr(
            f"CAST(round(({delta}) * 1000000.0) AS BIGINT) / 1e6"
        ).cast("double").alias("mde_abs"),
        F.expr(f"CAST(ceil({n_arm}) AS BIGINT)").alias("n_per_arm"),
    )


# ---------------------------------------------------------------------------
# Round 9: distribution statistics on the distributed-prefix primitive
# ---------------------------------------------------------------------------


def cramer_von_mises(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Cramér–von Mises statistic — the INTEGRATED companion
    to :func:`ks_test` (max CDF gap) and :func:`wasserstein_1d` (CDF
    area in value units): ``T = (n_a·n_b/N²) · Σ_pooled (F_A − F_B)²``
    weights every pooled observation's squared CDF gap, so it sees
    distributional differences KS's single supremum misses (two
    crossings that cancel at the max but not in the integral).

    Shape: one shuffle to per-distinct-value pair counts, exact
    cumulative counts via :func:`distributed_prefix_counts` (range-
    partitioned — no single-task window even for continuous values),
    each pooled term quantized to nano before the exact integer sum
    (the :func:`wasserstein_1d` discipline).  Returns one row:
    (n_a, n_b, t_nano, cvm_t).
    """
    cum, n_a, n_b = _cumulative_pair_counts(
        df, value_col, group_col, group_a, group_b
    )
    if n_a == 0 or n_b == 0:
        return local_frame(
            df.sparkSession,
            [(n_a, n_b)], "n_a long, n_b long"
        ).select(
            "n_a", "n_b",
            F.lit(None).cast("long").alias("t_nano"),
            F.lit(None).cast("double").alias("cvm_t"),
        )
    term = (
        f"CAST(round((na + nb) "
        f"* (CAST(ca AS DOUBLE) / {n_a}.0d "
        f"- CAST(cb AS DOUBLE) / {n_b}.0d) "
        f"* (CAST(ca AS DOUBLE) / {n_a}.0d "
        f"- CAST(cb AS DOUBLE) / {n_b}.0d) "
        "* 1000000000.0d) AS BIGINT)"
    )
    scale = (
        f"(CAST({n_a} AS DOUBLE) * CAST({n_b} AS DOUBLE) "
        f"/ (CAST({n_a + n_b} AS DOUBLE) "
        f"* CAST({n_a + n_b} AS DOUBLE)))"
    )
    return cum.agg(
        F.sum(F.expr(term)).cast("long").alias("t_nano")
    ).select(
        F.lit(n_a).alias("n_a"),
        F.lit(n_b).alias("n_b"),
        "t_nano",
        F.expr(
            f"CAST(round({scale} * CAST(t_nano AS DOUBLE) / 1000.0) "
            "AS BIGINT) / 1e6"
        ).cast("double").alias("cvm_t"),
    )


def energy_distance(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Exact 1-D energy distance between two groups' distributions::

        D² = 2·E|X−Y| − E|X−X'| − E|Y−Y'|

    (Székely & Rizzo's V-statistic form, n² pairs per term) — zero iff
    the distributions are equal, in the value's own units like
    :func:`wasserstein_1d` but sensitive to ALL moments.  The naive
    computation is three all-pairs joins; the sorted identity
    ``Σ_{i<j}|x_i−x_j| = Σ_v c_v·(B_v·v − S_v)`` (B/S = exclusive
    prefix count/sum) collapses each term to ONE pass over the
    distinct-value frame, with the prefix counts AND prefix value sums
    from a single :func:`distributed_prefix_counts` call — exact
    micro-unit integer arithmetic in DECIMAL(38,0) end-to-end; doubles
    appear only in the final three divisions.

    Returns one row: (n_a, n_b, e_cross, e_within_a, e_within_b,
    energy_d2).
    """
    in_a = F.col(group_col) == F.lit(group_a)
    in_b = F.col(group_col) == F.lit(group_b)
    g = (
        df.where((in_a | in_b) & F.col(value_col).isNotNull())
        .groupBy(
            F.expr(
                f"CAST(round(CAST(({value_col}) AS DOUBLE) "
                "* 1000000.0d) AS BIGINT)"
            ).alias("vm")
        )
        .agg(
            F.sum(F.when(in_a, 1).otherwise(0)).cast("long").alias("ca"),
            F.sum(F.when(in_b, 1).otherwise(0)).cast("long").alias("cb"),
        )
        .select(
            "vm", "ca", "cb",
            F.expr("CAST(ca AS DECIMAL(38,0)) * vm").alias("sa"),
            F.expr("CAST(cb AS DECIMAL(38,0)) * vm").alias("sb"),
        )
    )
    cum, totals = distributed_prefix_counts(
        g, "vm", ["ca", "cb", "sa", "sb"]
    )
    n_a, n_b = totals["ca"], totals["cb"]
    if n_a == 0 or n_b == 0:
        return local_frame(
            df.sparkSession,
            [(n_a, n_b)], "n_a long, n_b long"
        ).select(
            "n_a", "n_b",
            F.lit(None).cast("double").alias("e_cross"),
            F.lit(None).cast("double").alias("e_within_a"),
            F.lit(None).cast("double").alias("e_within_b"),
            F.lit(None).cast("double").alias("energy_d2"),
        )
    sums = cum.agg(
        F.expr(
            "CAST(sum(CAST(ca AS DECIMAL(38,0)) "
            "* (CAST(__before_ca AS DECIMAL(38,0)) * vm "
            "- __before_sa)) AS DECIMAL(38,0))"
        ).alias("pa"),
        F.expr(
            "CAST(sum(CAST(cb AS DECIMAL(38,0)) "
            "* (CAST(__before_cb AS DECIMAL(38,0)) * vm "
            "- __before_sb)) AS DECIMAL(38,0))"
        ).alias("pb"),
        F.expr(
            "CAST(sum(CAST(ca AS DECIMAL(38,0)) "
            "* (CAST(__before_cb AS DECIMAL(38,0)) * vm "
            "- __before_sb) "
            "+ CAST(cb AS DECIMAL(38,0)) "
            "* (CAST(__before_ca AS DECIMAL(38,0)) * vm "
            "- __before_sa)) AS DECIMAL(38,0))"
        ).alias("pc"),
    )
    # micro units back to value units; V-statistic denominators n²
    e_cross = (
        f"(CAST(pc AS DOUBLE) / 1000000.0d "
        f"/ (CAST({n_a} AS DOUBLE) * CAST({n_b} AS DOUBLE)))"
    )
    e_a = (
        f"(2.0d * CAST(pa AS DOUBLE) / 1000000.0d "
        f"/ (CAST({n_a} AS DOUBLE) * CAST({n_a} AS DOUBLE)))"
    )
    e_b = (
        f"(2.0d * CAST(pb AS DOUBLE) / 1000000.0d "
        f"/ (CAST({n_b} AS DOUBLE) * CAST({n_b} AS DOUBLE)))"
    )
    return sums.select(
        F.lit(n_a).alias("n_a"),
        F.lit(n_b).alias("n_b"),
        F.expr(
            f"CAST(round({e_cross} * 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("e_cross"),
        F.expr(
            f"CAST(round({e_a} * 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("e_within_a"),
        F.expr(
            f"CAST(round({e_b} * 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("e_within_b"),
        F.expr(
            f"CAST(round((2.0d * {e_cross} - {e_a} - {e_b}) "
            "* 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("energy_d2"),
    )


def trimmed_mean(
    df: DataFrame,
    value_col: str,
    trim: float = 0.1,
) -> DataFrame:
    """Symmetric trimmed mean: the mean of the values inside the exact
    [trim, 1−trim] quantile interval — the robust center that keeps
    more efficiency than the median when tails are merely heavy, not
    wild (Tukey's recommendation for reporting latencies/prices).

    Both cutoffs are EXACT linear-interpolation quantiles from ONE
    ``analytics.distributed_group_quantiles`` pass (constant group —
    the :func:`mad_outliers` machinery, parallel at any scale); the
    kept-values mean is one exact decimal aggregate under the broadcast
    cutoffs.  Values equal to a cutoff are kept (closed interval), so
    the result is deterministic under ties.  Returns one row:
    (n, n_kept, lo_cut, hi_cut, trimmed_mean).
    """
    from .analytics import distributed_group_quantiles

    if not 0.0 < trim < 0.5:
        raise ValueError("trim must be in (0, 0.5)")
    vals = df.where(f"({value_col}) IS NOT NULL").select(
        F.lit(0).alias("__g"),
        F.expr(f"CAST(({value_col}) AS DOUBLE)").alias("__v"),
    )
    cuts = distributed_group_quantiles(
        vals, "__g", "__v", [trim, 1.0 - trim]
    ).select(F.col("q0").alias("__lo"), F.col("q1").alias("__hi"))
    kept = vals.crossJoin(F.broadcast(cuts))
    return kept.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr(
            "CASE WHEN __v >= __lo AND __v <= __hi THEN 1 ELSE 0 END"
        )).cast("long").alias("n_kept"),
        F.max("__lo").alias("lo_cut"),
        F.max("__hi").alias("hi_cut"),
        # micro-quantized per kept value, exact integer sum, one final
        # division — the shared cross-engine discipline
        F.sum(F.expr(
            "CASE WHEN __v >= __lo AND __v <= __hi "
            "THEN CAST(round(__v * 1000000.0d) AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
        )).alias("__s_micro"),
    ).select(
        "n", "n_kept", "lo_cut", "hi_cut",
        F.expr(
            "CAST(round(CAST(__s_micro AS DOUBLE) "
            "/ nullif(CAST(n_kept AS DOUBLE), 0.0d)) AS BIGINT) / 1e6"
        ).cast("double").alias("trimmed_mean"),
    )


def hodges_lehmann(
    points: DataFrame,
    value_col: str,
    id_col: str,
    max_points: int = 100_000,
) -> DataFrame:
    """Hodges–Lehmann pseudomedian: the median of all pairwise Walsh
    averages ``(x_i + x_j)/2`` over ``i <= j`` — the location estimator
    behind the Wilcoxon signed-rank test: ~95% Gaussian efficiency yet
    a 29% breakdown point, the robust center to report when the
    distribution is skewed but the median wastes too much data.

    O(n²) pairs is the estimator's contract — the :func:`theil_sen`
    discipline applies verbatim: run it on AGGREGATED series, and a
    count probe raises loudly before the pair join is built when the
    input exceeds ``max_points``.  Pairs come from an id-ordered
    self-join (``id_i <= id_j`` — the diagonal keeps each point's own
    value, the standard pseudomedian); the median is an EXACT
    interpolation quantile via ``distributed_group_quantiles``.
    Returns one row: (n_points, n_pairs, pseudomedian).
    """
    from .analytics import distributed_group_quantiles

    pts = points.where(
        f"({value_col}) IS NOT NULL AND ({id_col}) IS NOT NULL"
    ).select(
        F.col(id_col).alias("__id"),
        F.expr(f"CAST(({value_col}) AS DOUBLE)").alias("__x"),
    ).localCheckpoint(eager=True)
    n_probe = pts.count()
    if n_probe > max_points:
        raise ValueError(
            f"hodges_lehmann: {n_probe} points exceed max_points="
            f"{max_points}; the Walsh-average frame would hold "
            f"~{n_probe * (n_probe + 1) // 2:,} rows. Aggregate the "
            "series first or raise max_points deliberately."
        )
    a, b = pts.alias("a"), pts.alias("b")
    walsh = a.join(
        b, F.col("a.__id") <= F.col("b.__id"), "inner"
    ).select(
        F.lit(0).alias("__g"),
        ((F.col("a.__x") + F.col("b.__x")) / F.lit(2.0)).alias("__v"),
    )
    # the count probe above PROVES the Walsh-frame bound — the median
    # rides the small-frame percentile fast path whenever it fits
    med = distributed_group_quantiles(
        walsh, "__g", "__v", [0.5],
        max_rows=n_probe * (n_probe + 1) // 2,
    )
    return med.select(
        F.lit(n_probe).cast("long").alias("n_points"),
        F.lit(n_probe * (n_probe + 1) // 2).cast("long")
        .alias("n_pairs"),
        F.col("q0").alias("pseudomedian"),
    )


def rank_columns(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Per-distinct-value global rank columns — ``rank()`` (min rank),
    tie-averaged rank, ``percent_rank`` and ``cume_dist`` with their
    exact SQL semantics, computed WITHOUT any global window: the
    distinct-value frame rides :func:`distributed_prefix_counts`, so
    this is the rank map a scale-safe ``ORDER BY``-window replacement
    joins back by value.  Double rank values quantize to micro before
    the final projection (cross-engine bit-stability).

    Returns one row per distinct value, ordered by value:
    (value, cnt, rank_min, rank_avg, percent_rank, cume_dist).
    """
    vals = (
        df.where(f"({value_col}) IS NOT NULL")
        .groupBy(
            F.expr(f"CAST(({value_col}) AS DOUBLE)").alias("value")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    cum, totals = distributed_prefix_counts(vals, "value", ["cnt"])
    n = totals["cnt"]
    return cum.select(
        "value", "cnt",
        (F.col("__before_cnt") + F.lit(1)).cast("long")
        .alias("rank_min"),
        F.expr(
            "CAST(round((CAST(__before_cnt AS DOUBLE) "
            "+ (CAST(cnt AS DOUBLE) + 1.0d) / 2.0d) * 1000000.0d) "
            "AS BIGINT) / 1e6"
        ).cast("double").alias("rank_avg"),
        F.expr(
            f"CAST(round(CAST(__before_cnt AS DOUBLE) "
            f"/ nullif(CAST({n} AS DOUBLE) - 1.0d, 0.0d) "
            "* 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("percent_rank"),
        F.expr(
            f"CAST(round(CAST(__cum_cnt AS DOUBLE) "
            f"/ CAST({n} AS DOUBLE) * 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("cume_dist"),
    ).orderBy("value")


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_cells: int = 250_000,
) -> DataFrame:
    """Kendall's τ-b rank correlation with full tie correction — the
    concordance-based sibling of :func:`spearman_corr` (τ counts
    agreeing pair ORDERINGS; ρ correlates ranks), preferred when the
    data are ordinal or the pair-level interpretation matters::

        τ_b = (C − D) / sqrt((n0 − n1)(n0 − n2))

    Naively O(n²) pairs; here everything reduces to the (x, y)
    CONTINGENCY grid: C and D are grid sums of each cell's count times
    the strictly-lower-left / lower-right cumulative — two windows,
    each PARTITIONED by one grid axis (never global, never the
    corpus), over a zero-filled |X|·|Y| grid.  Exact integer arithmetic
    in DECIMAL(38,0) through C, D, and the tie terms; τ is one final
    double, micro-quantized.

    Bounded-domain contract, ENFORCED: the grid must hold at most
    ``max_cells`` cells (a count probe on the two marginals raises
    loudly first — the :func:`theil_sen` discipline).  Quantize or
    bucket continuous columns upstream; τ on deciles/integer scores is
    the standard large-scale shape.  Returns one row: (n, n_cells,
    concordant, discordant, tau_b).
    """
    from pyspark.sql import Window

    cells = (
        df.where(f"({x_col}) IS NOT NULL AND ({y_col}) IS NOT NULL")
        .groupBy(
            F.expr(f"CAST(({x_col}) AS DOUBLE)").alias("x"),
            F.expr(f"CAST(({y_col}) AS DOUBLE)").alias("y"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    marg = cells.agg(
        F.countDistinct("x").alias("dx"),
        F.countDistinct("y").alias("dy"),
        F.sum("c").cast("long").alias("n_total"),
    ).collect()[0]
    if marg["dx"] * marg["dy"] > max_cells:
        raise ValueError(
            f"kendall_tau_b: grid {marg['dx']}x{marg['dy']} exceeds "
            f"max_cells={max_cells}; quantize/bucket the columns "
            "upstream (deciles, integer scores) or raise max_cells "
            "deliberately."
        )
    # concordant/discordant are emitted as BIGINT (the registry-wide
    # output-type convention: {BIGINT, DOUBLE, VARCHAR, BOOLEAN, DATE,
    # TIMESTAMP} only — DECIMAL outputs render differently between the
    # driver's Spark and DuckDB hash canons). C, D <= n(n-1)/2 fits
    # int64 while n < 2^32.5 ~ 4.29e9 rows; probe loudly past that.
    if (marg["n_total"] or 0) > 4_294_967_295:
        raise ValueError(
            f"kendall_tau_b: n={marg['n_total']} rows — n(n-1)/2 "
            "would overflow the BIGINT concordant/discordant outputs "
            "(limit n <= 4.29e9); pre-aggregate or sample upstream."
        )
    xs = cells.select("x").distinct()
    ys = cells.select("y").distinct()
    grid = (
        xs.crossJoin(ys)
        .join(cells, ["x", "y"], "left")
        .select(
            "x", "y",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
        )
    )
    w_cx = Window.partitionBy("y").orderBy("x").rowsBetween(
        Window.unboundedPreceding, -1)
    staged = grid.withColumn(
        "cxe", F.coalesce(F.sum("c").over(w_cx), F.lit(0)).cast("long")
    )
    w_lt = Window.partitionBy("x").orderBy("y").rowsBetween(
        Window.unboundedPreceding, -1)
    w_le = Window.partitionBy("x").orderBy("y").rowsBetween(
        Window.unboundedPreceding, 0)
    w_colx = Window.partitionBy("x").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    staged = (
        staged
        .withColumn("s_lt", F.coalesce(F.sum("cxe").over(w_lt),
                                       F.lit(0)).cast("long"))
        .withColumn("s_le", F.sum("cxe").over(w_le).cast("long"))
        .withColumn("colx", F.sum("cxe").over(w_colx).cast("long"))
        .withColumn("s_gt", (F.col("colx") - F.col("s_le"))
                    .cast("long"))
    )
    pair_sums = staged.agg(
        F.expr(
            "CAST(sum(CAST(c AS DECIMAL(38,0)) * s_lt) "
            "AS DECIMAL(38,0))"
        ).alias("cc"),
        F.expr(
            "CAST(sum(CAST(c AS DECIMAL(38,0)) * s_gt) "
            "AS DECIMAL(38,0))"
        ).alias("dd"),
    )
    tx = cells.groupBy("x").agg(F.sum("c").cast("long").alias("t")) \
        .agg(
            F.sum("t").cast("long").alias("n"),
            F.expr(
                "CAST(sum(CAST(t AS DECIMAL(38,0)) * (t - 1)) "
                "AS DECIMAL(38,0))"
            ).alias("tie_x2"),
        )
    ty = cells.groupBy("y").agg(F.sum("c").cast("long").alias("t")) \
        .agg(
            F.expr(
                "CAST(sum(CAST(t AS DECIMAL(38,0)) * (t - 1)) "
                "AS DECIMAL(38,0))"
            ).alias("tie_y2"),
        )
    n_cells = cells.count()
    tau = (
        "((CAST(cc AS DOUBLE) - CAST(dd AS DOUBLE)) "
        "/ nullif(sqrt("
        "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0d) / 2.0d "
        "- CAST(tie_x2 AS DOUBLE) / 2.0d) "
        "* (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0d) / 2.0d "
        "- CAST(tie_y2 AS DOUBLE) / 2.0d)), 0.0d))"
    )
    return pair_sums.crossJoin(tx).crossJoin(ty).select(
        "n",
        F.lit(n_cells).cast("long").alias("n_cells"),
        F.col("cc").cast("long").alias("concordant"),
        F.col("dd").cast("long").alias("discordant"),
        F.expr(
            f"CAST(round(({tau}) * 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("tau_b"),
    )


def anderson_darling_2s(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Anderson–Darling statistic (Scholz–Stephens 1987
    A²_akN, k = 2, tie-corrected via midranks) — the tail-weighted
    member of the distribution-test family: KS sees the max CDF gap,
    :func:`cramer_von_mises` the mean-square gap, AD up-weights the
    TAILS by 1/(H(1−H)) — the test to reach for when the risk lives in
    the extremes (latency tails, price outliers)::

        A² = (N−1)/N · Σ_i (1/n_i) Σ_j  l_j/N ·
             (N·M_ij − n_i·B_j)² / (B_j(N−B_j) − N·l_j/4)

    With 2×-scaled midrank integers (``M2 = 2·before_i + l_ij``,
    ``B2 = 2·before + l_j``) every factor is an exact BIGINT::

        term_j = l_j/N · (N·M2_ij − n_i·B2_j)² / (B2_j(2N−B2_j) − N·l_j)

    Shape: one shuffle to per-distinct-value pair counts, exact prefix
    counts via :func:`distributed_prefix_counts` (no single-task
    window), each term nano-quantized before the exact sum.  Values
    where the denominator vanishes (a tie block spanning an entire
    tail) contribute zero, per Scholz–Stephens.  A² near (k−1) = 1 is
    the null expectation.  Returns one row: (n_a, n_b, a2_akn).
    """
    cum, n_a, n_b = _cumulative_pair_counts(
        df, value_col, group_col, group_a, group_b
    )
    if n_a == 0 or n_b == 0:
        return local_frame(
            df.sparkSession,
            [(n_a, n_b)], "n_a long, n_b long"
        ).select(
            "n_a", "n_b",
            F.lit(None).cast("double").alias("a2_akn"),
        )
    n = n_a + n_b
    staged = cum.select(
        "na", "nb",
        (F.lit(2) * (F.col("ca") - F.col("na")) + F.col("na"))
        .cast("long").alias("m2a"),
        (F.lit(2) * (F.col("cb") - F.col("nb")) + F.col("nb"))
        .cast("long").alias("m2b"),
        (F.lit(2) * (F.col("ca") + F.col("cb") - F.col("na")
                     - F.col("nb")) + F.col("na") + F.col("nb"))
        .cast("long").alias("b2"),
    )
    denom = (
        f"(CAST(b2 AS DOUBLE) * ({2 * n}.0d - CAST(b2 AS DOUBLE)) "
        f"- {n}.0d * CAST(na + nb AS DOUBLE))"
    )
    term_a = (
        f"({n}.0d * CAST(m2a AS DOUBLE) "
        f"- {n_a}.0d * CAST(b2 AS DOUBLE))"
    )
    term_b = (
        f"({n}.0d * CAST(m2b AS DOUBLE) "
        f"- {n_b}.0d * CAST(b2 AS DOUBLE))"
    )
    contrib = (
        f"CASE WHEN ({denom}) <= 0.0d THEN CAST(0 AS BIGINT) "
        f"ELSE CAST(round((CAST(na + nb AS DOUBLE) / {n}.0d) "
        f"* (({term_a}) * ({term_a}) / {n_a}.0d "
        f"+ ({term_b}) * ({term_b}) / {n_b}.0d) "
        f"/ ({denom}) * 1000000000.0d) AS BIGINT) END"
    )
    return staged.agg(
        F.sum(F.expr(contrib)).cast("long").alias("__s_nano")
    ).select(
        F.lit(n_a).alias("n_a"),
        F.lit(n_b).alias("n_b"),
        F.expr(
            f"CAST(round(({n - 1}.0d / {n}.0d) "
            "* CAST(__s_nano AS DOUBLE) / 1000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("a2_akn"),
    )


def page_hinkley(
    series: DataFrame,
    idx_col: str,
    value_col: str,
    delta: float = 0.0,
) -> DataFrame:
    """Page–Hinkley sequential drift statistic over an aggregated
    series — the online-monitoring companion to the retrospective
    :func:`changepoint_mean_shift`: accumulate each period's deviation
    from the RUNNING mean (minus a slack ``delta``), and the statistic
    is how far that accumulator has climbed above its own historical
    minimum::

        m_T = Σ_{t≤T} (x_t − x̄_t − δ),   PH = max_T (m_T − min_{t≤T} m_t)

    Input is one row per period (the :func:`changepoint_mean_shift` /
    :func:`durbin_watson` series contract — the ordered windows run
    over the aggregated model frame, bounded by the time domain, never
    the corpus).  Each deviation is micro-quantized from exact decimal
    prefix means before the integer cumulative, so argmax ties break
    deterministically (earliest index).  Returns one row: (n_periods,
    ph_micro, ph_stat, peak_idx).
    """
    from pyspark.sql import Window

    pts = series.select(
        F.col(idx_col).alias("idx"),
        F.expr(f"CAST(({value_col}) AS DOUBLE)").alias("x"),
    ).where(F.col("idx").isNotNull() & F.col("x").isNotNull())
    w = Window.orderBy("idx").rowsBetween(Window.unboundedPreceding, 0)
    staged = (
        pts
        .withColumn("__s", F.sum(
            F.expr("CAST(round(x * 1000000.0d) AS BIGINT)")).over(w)
            .cast("long"))
        .withColumn("__t", F.count(F.lit(1)).over(w).cast("long"))
        .withColumn(
            "__dev",
            F.expr(
                "CAST(round(x * 1000000.0d) AS BIGINT) "
                "- CAST(round(CAST(__s AS DOUBLE) "
                "/ CAST(__t AS DOUBLE)) AS BIGINT) "
                f"- CAST(round({delta!r} * 1000000.0d) AS BIGINT)"
            ).cast("long"),
        )
        .withColumn("__m", F.sum("__dev").over(w).cast("long"))
        .withColumn("__mmin", F.min("__m").over(w).cast("long"))
        .withColumn("__ph", (F.col("__m") - F.col("__mmin"))
                    .cast("long"))
    )
    top = staged.orderBy(
        F.col("__ph").desc(), F.col("idx").asc()
    ).limit(1)
    n_frame = pts.agg(F.count(F.lit(1)).cast("long").alias("n_periods"))
    return n_frame.crossJoin(F.broadcast(top.select(
        F.col("__ph").alias("ph_micro"),
        (F.col("__ph").cast("double") / 1e6).alias("ph_stat"),
        F.col("idx").alias("peak_idx"),
    )))


def isotonic_calibration(
    df: DataFrame,
    score_expr: str,
    label_expr: str,
    n_buckets: int = 20,
) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration curve over score
    buckets — the non-parametric companion to
    :func:`~..operators.classify.calibration_report`: raw per-bucket
    rates can zig-zag from noise; the isotonic fit is the closest
    monotone curve in weighted least squares, which is what a
    probability calibrator actually deploys.  Scores are bucketed on a
    fixed [0, 1] grid (``floor(score·B)``, top-clamped).

    Instead of the sequential PAVA pool-adjacent loop, the fit uses
    the exact minimax identity — ``f_i = max_{j≤i} min_{k≥i} A(j,k)``
    with ``A(j,k)`` the weighted mean of buckets j..k — over the
    bounded B×B(×B) bucket-pair frame: two partitioned windows over
    prefix sums, never anything corpus-sized past the first aggregate
    (the grid is at most ``n_buckets²`` rows; one corpus scan total).
    Rates micro-quantized (exact integer ratios compared AFTER a
    shared quantization, so the argmax/argmin are engine-stable).

    Returns one row per non-empty bucket, ordered: (bucket, n, n_pos,
    raw_rate, iso_rate) with iso_rate monotone non-decreasing.
    """
    from pyspark.sql import Window

    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    b = (
        df.where(f"({score_expr}) IS NOT NULL "
                 f"AND ({label_expr}) IS NOT NULL")
        .select(
            F.expr(
                f"least(CAST(floor(CAST(({score_expr}) AS DOUBLE) "
                f"* {n_buckets}) AS INT), {n_buckets - 1})"
            ).alias("bucket"),
            F.expr(f"CAST(({label_expr}) AS INT)").alias("y"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
        )
    ).localCheckpoint(eager=False)
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0)
    pre = b.select(
        "bucket", "n", "n_pos",
        F.sum("n").over(w_cum).cast("long").alias("cw"),
        F.sum("n_pos").over(w_cum).cast("long").alias("cy"),
    )
    lo = pre.select(
        F.col("bucket").alias("j"),
        (F.col("cw") - F.col("n")).alias("cw_lo"),
        (F.col("cy") - F.col("n_pos")).alias("cy_lo"),
    )
    hi = pre.select(
        F.col("bucket").alias("k"),
        F.col("cw").alias("cw_hi"),
        F.col("cy").alias("cy_hi"),
    )
    pairs = lo.join(hi, F.col("j") <= F.col("k")).select(
        "j", "k",
        F.expr(
            "CAST(round(CAST(cy_hi - cy_lo AS DOUBLE) "
            "/ CAST(cw_hi - cw_lo AS DOUBLE) * 1000000.0d) AS BIGINT)"
        ).alias("a_micro"),
    )
    # f_i = max_{j<=i} min_{k>=i} A(j,k): expand over i via the bucket
    # spine (bounded: at most B^2 pair rows x B spine rows)
    spine = b.select(F.col("bucket").alias("i"))
    mins = (
        pairs.join(spine, F.col("k") >= F.col("i"))
        .where(F.col("j") <= F.col("i"))
        .groupBy("i", "j")
        .agg(F.min("a_micro").alias("min_k"))
        .groupBy("i")
        .agg(F.max("min_k").alias("iso_micro"))
    )
    return (
        b.join(mins, b["bucket"] == mins["i"])
        .select(
            "bucket", "n", "n_pos",
            F.expr(
                "CAST(round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) "
                "* 1000000.0d) AS BIGINT) / 1e6"
            ).cast("double").alias("raw_rate"),
            (F.col("iso_micro").cast("double") / 1e6).alias("iso_rate"),
        )
        .orderBy("bucket")
    )


def simpson_paradox(
    df: DataFrame,
    group_col: str,
    treat_expr: str,
    outcome_expr: str,
) -> DataFrame:
    """Simpson's-paradox screen: the pooled treated-vs-control rate
    difference next to every subgroup's own difference, with a flag
    where the subgroup REVERSES the pooled sign — the classic
    aggregation trap (a rollout that wins overall but loses in every
    region, because exposure is confounded with the region mix).  Run
    it before trusting any pooled A/B read across a segmented
    population.

    ONE conditional aggregation to the (group) frame computes all four
    cells per group; the pooled cells are an exact second aggregate of
    the same frame broadcast back (never a second corpus scan).  Rates
    micro-quantized from exact BIGINT counts; a reversal requires both
    differences non-zero after quantization.  Returns one row per
    group, ordered: (group, n_treat, n_ctrl, rate_treat, rate_ctrl,
    diff, overall_diff, reversed).
    """
    t = F.expr(f"coalesce(CAST(({treat_expr}) AS BOOLEAN), false)")
    y = F.expr(f"CAST(({outcome_expr}) AS INT)")
    cells = (
        df.where(f"({group_col}) IS NOT NULL "
                 f"AND ({outcome_expr}) IS NOT NULL")
        .groupBy(F.expr(f"CAST(({group_col}) AS STRING)").alias("group"))
        .agg(
            F.sum(F.when(t, 1).otherwise(0)).cast("long").alias("n_t"),
            F.sum(F.when(~t, 1).otherwise(0)).cast("long").alias("n_c"),
            F.sum(F.when(t, y).otherwise(0)).cast("long").alias("k_t"),
            F.sum(F.when(~t, y).otherwise(0)).cast("long").alias("k_c"),
        )
    )
    cells = cells.localCheckpoint(eager=False)
    tot = cells.agg(
        F.sum("n_t").cast("long").alias("tn_t"),
        F.sum("n_c").cast("long").alias("tn_c"),
        F.sum("k_t").cast("long").alias("tk_t"),
        F.sum("k_c").cast("long").alias("tk_c"),
    )
    rate = (
        "CAST(round(CAST({k} AS DOUBLE) "
        "/ nullif(CAST({n} AS DOUBLE), 0.0d) * 1000000.0d) AS BIGINT)"
    )
    staged = cells.crossJoin(F.broadcast(tot)).select(
        "group", "n_t", "n_c",
        F.expr(rate.format(k="k_t", n="n_t")).alias("__rt"),
        F.expr(rate.format(k="k_c", n="n_c")).alias("__rc"),
        F.expr(rate.format(k="tk_t", n="tn_t")).alias("__ot"),
        F.expr(rate.format(k="tk_c", n="tn_c")).alias("__oc"),
    )
    return staged.select(
        "group",
        F.col("n_t").alias("n_treat"),
        F.col("n_c").alias("n_ctrl"),
        (F.col("__rt").cast("double") / 1e6).alias("rate_treat"),
        (F.col("__rc").cast("double") / 1e6).alias("rate_ctrl"),
        ((F.col("__rt") - F.col("__rc")).cast("double") / 1e6)
        .alias("diff"),
        ((F.col("__ot") - F.col("__oc")).cast("double") / 1e6)
        .alias("overall_diff"),
        F.expr(
            "(__rt - __rc) * (__ot - __oc) < 0 "
            "AND __rt IS NOT NULL AND __rc IS NOT NULL"
        ).alias("reversed"),
    ).orderBy("group")


def ks_drift_leaderboard(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: int = 10,
) -> DataFrame:
    """Which SEGMENT'S value distribution sits farthest from everyone
    else's: per group, the exact two-sample KS distance between the
    group and the rest of the corpus, ranked — the segment-level drift
    leaderboard that one pooled :func:`ks_test` can't give you (a
    fleet-wide drift number hides WHICH cohort moved).

    Shape: one shuffle to per-(group, value) counts; the GLOBAL
    per-value cumulative rides :func:`distributed_prefix_counts` (no
    single-task window even for continuous values) and joins back by
    value; each group's own cumulative is a window PARTITIONED by
    group.  Between a group's own value points its CDF is flat while
    the rest's climbs, so the supremum over each flat run sits at the
    run's endpoints — per (group, value) cell the numerator is
    evaluated twice, AT the point and JUST BELOW it (group cum minus
    this cell; total cum minus this value's total), which covers every
    rest-only point exactly.  The D numerator ``|cum_g·n_rest −
    cum_rest·n_g|`` is an exact integer (the :func:`ks_test`
    discipline — overflow-safe through ~3e9 rows per side); only the
    final division is a double.  Top-k via the rank-filter shape
    Catalyst rewrites to a TakeOrderedAndProject.  Returns ≤ k rows:
    (group, n_group, n_rest, d_num, d_stat, rank).
    """
    from pyspark.sql import Window

    cells = (
        df.where(f"({group_col}) IS NOT NULL "
                 f"AND ({value_col}) IS NOT NULL")
        .groupBy(
            F.expr(f"CAST(({group_col}) AS STRING)").alias("g"),
            F.expr(f"CAST(({value_col}) AS DOUBLE)").alias("v"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    vals = cells.groupBy("v").agg(F.sum("c").cast("long").alias("ct"))
    cum_tot, totals = distributed_prefix_counts(vals, "v", ["ct"])
    n = totals["ct"]
    w_g = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0)
    w_grp = Window.partitionBy("g")
    at_point = (
        f"abs(cum_g * ({n} - n_g) - (cum_t - cum_g) * n_g)"
    )
    below_point = (
        f"abs((cum_g - c) * ({n} - n_g) "
        f"- ((cum_t - ct) - (cum_g - c)) * n_g)"
    )
    staged = (
        cells.join(
            cum_tot.select(
                "v", "ct", F.col("__cum_ct").alias("cum_t")
            ),
            "v",
        )
        .withColumn("cum_g", F.sum("c").over(w_g).cast("long"))
        .withColumn("n_g", F.sum("c").over(w_grp).cast("long"))
        .withColumn(
            "d_num",
            F.expr(f"greatest({at_point}, {below_point})")
            .cast("long"),
        )
    )
    per_group = staged.groupBy("g").agg(
        F.max("n_g").alias("n_group"),
        F.max("d_num").alias("d_num"),
    ).select(
        F.col("g").alias("group"),
        "n_group",
        (F.lit(n) - F.col("n_group")).cast("long").alias("n_rest"),
        "d_num",
        F.expr(
            f"CAST(round(CAST(d_num AS DOUBLE) / nullif("
            f"CAST(n_group AS DOUBLE) * (CAST({n} AS DOUBLE) "
            f"- CAST(n_group AS DOUBLE)), 0.0d) * 1000000.0d) "
            "AS BIGINT) / 1e6"
        ).cast("double").alias("d_stat"),
    )
    w_rank = Window.orderBy(F.col("d_stat").desc(), F.col("group").asc())
    return (
        per_group.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= k)
    )


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    observed_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator ``H(t) = Σ_{t_i≤t}
    d_i/n_i`` with the Fleming–Harrington survival ``exp(−H)`` — the
    additive companion to :func:`kaplan_meier`: hazard INCREMENTS are
    what rate-monitoring alerts on ("churn hazard doubled this week"),
    and the FH survival is the better small-risk-set estimator.

    Same distributed shape as KM: one hash aggregation to (group,
    duration) cells; grouped cumulatives ride group-partitioned
    windows, and the ungrouped path rides
    :func:`distributed_prefix_counts` (no single-task window — the
    distinct-duration frame can approach corpus size).  Each hazard
    increment ``d/n`` quantizes to nano before the exact cumulative
    sum.  Returns one row per (group,) EVENT time: (group?, t, n_risk,
    d_events, cum_hazard, survival_fh), rounded 6.
    """
    from pyspark.sql import Window

    gcols = [group_col] if group_col else []
    cells = (
        df.where(F.col(duration_col).isNotNull())
        .groupBy(*gcols, F.col(duration_col).alias("t"))
        .agg(
            F.sum(F.when(F.col(observed_col), 1).otherwise(0))
            .cast("long").alias("d"),
            F.count(F.lit(1)).cast("long").alias("all_at_t"),
        )
    )
    hz_expr = (
        "CAST(round(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) "
        "* 1000000000.0d) AS BIGINT)"
    )
    if gcols:
        w_all = Window.partitionBy(*gcols).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        w_prev = (
            Window.partitionBy(*gcols).orderBy(F.col("t").asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_cum = (
            Window.partitionBy(*gcols).orderBy(F.col("t").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        staged = cells.select(
            *gcols, "t", "d",
            (F.sum("all_at_t").over(w_all)
             - F.coalesce(F.sum("all_at_t").over(w_prev), F.lit(0)))
            .cast("long").alias("n_risk"),
        ).withColumn("__hz", F.expr(hz_expr))
        out = staged.select(
            *gcols, "t", "n_risk", F.col("d").alias("d_events"),
            F.sum("__hz").over(w_cum).cast("long").alias("__ch"),
            F.col("d").alias("__d"),
        )
    else:
        cum1, totals = distributed_prefix_counts(
            cells, "t", ["all_at_t"]
        )
        staged = cum1.select(
            "t", "d",
            (F.lit(totals["all_at_t"]) - F.col("__before_all_at_t"))
            .cast("long").alias("n_risk"),
        ).withColumn("__hz", F.expr(hz_expr))
        cum2, _ = distributed_prefix_counts(staged, "t", ["__hz"])
        out = cum2.select(
            "t", "n_risk", F.col("d").alias("d_events"),
            F.col("__cum___hz").alias("__ch"),
            F.col("d").alias("__d"),
        )
    return (
        out.where(F.col("__d") > 0)
        .select(
            *gcols, "t", "n_risk", "d_events",
            F.expr(
                "CAST(round(CAST(__ch AS DOUBLE) / 1000.0d) "
                "AS BIGINT) / 1e6"
            ).cast("double").alias("cum_hazard"),
            F.expr(
                "round(exp(-CAST(__ch AS DOUBLE) / 1000000000.0d), 6) "
                "+ 0.0d"
            ).alias("survival_fh"),
        )
    )


def uplift_deciles(
    df: DataFrame,
    score_expr: str,
    treat_expr: str,
    outcome_expr: str,
    id_expr: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Uplift-model evaluation by score decile: per bucket the treated
    and control response rates, their difference (the uplift the model
    promised for that slice), and the cumulative Qini-style
    incremental conversions ``Q(b) = cum_kt − cum_kc·cum_nt/cum_nc`` —
    the targeting curve that tells you where to STOP treating (the
    bucket where uplift goes flat or negative).  The causal sibling of
    :func:`~..operators.classify.gains_table`.

    Buckets come from ``insights.distributed_ntile`` over (score desc,
    id asc) — exact NTILE, no global window; everything after is one
    conditional aggregate per bucket plus bounded (``n_buckets``-row)
    cumulative windows.  Rates micro-quantized.  Returns one row per
    bucket, bucket 1 = highest scores: (bucket, n_treat, n_ctrl,
    rate_treat, rate_ctrl, uplift, qini_cum).
    """
    from pyspark.sql import Window

    from .insights import distributed_ntile

    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    scored = df.where(
        f"({score_expr}) IS NOT NULL AND ({outcome_expr}) IS NOT NULL"
    ).select(
        F.expr(
            f"CAST(round(CAST(({score_expr}) AS DOUBLE) * 1000000.0d) "
            "AS BIGINT)"
        ).alias("__s"),
        F.expr(f"coalesce(CAST(({treat_expr}) AS BOOLEAN), false)")
        .alias("__t"),
        F.expr(f"CAST(({outcome_expr}) AS INT)").alias("__y"),
        F.expr(f"({id_expr})").alias("__id"),
    )
    bucketed = distributed_ntile(
        scored,
        [F.col("__s").desc(), F.col("__id").asc()],
        n_buckets,
        out_col="bucket",
    )
    g = bucketed.groupBy("bucket").agg(
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).cast("long")
        .alias("n_t"),
        F.sum(F.when(~F.col("__t"), 1).otherwise(0)).cast("long")
        .alias("n_c"),
        F.sum(F.when(F.col("__t"), F.col("__y")).otherwise(0))
        .cast("long").alias("k_t"),
        F.sum(F.when(~F.col("__t"), F.col("__y")).otherwise(0))
        .cast("long").alias("k_c"),
    )
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0)
    staged = (
        g.withColumn("ckt", F.sum("k_t").over(w_cum).cast("long"))
        .withColumn("ckc", F.sum("k_c").over(w_cum).cast("long"))
        .withColumn("cnt", F.sum("n_t").over(w_cum).cast("long"))
        .withColumn("cnc", F.sum("n_c").over(w_cum).cast("long"))
    )
    rate = (
        "CAST(round(CAST({k} AS DOUBLE) "
        "/ nullif(CAST({n} AS DOUBLE), 0.0d) * 1000000.0d) AS BIGINT)"
    )
    return staged.select(
        "bucket",
        F.col("n_t").alias("n_treat"),
        F.col("n_c").alias("n_ctrl"),
        (F.expr(rate.format(k="k_t", n="n_t")).cast("double") / 1e6)
        .alias("rate_treat"),
        (F.expr(rate.format(k="k_c", n="n_c")).cast("double") / 1e6)
        .alias("rate_ctrl"),
        ((F.expr(rate.format(k="k_t", n="n_t"))
          - F.expr(rate.format(k="k_c", n="n_c"))).cast("double")
         / 1e6).alias("uplift"),
        F.expr(
            "CAST(round((CAST(ckt AS DOUBLE) - CAST(ckc AS DOUBLE) "
            "* CAST(cnt AS DOUBLE) / nullif(CAST(cnc AS DOUBLE), "
            "0.0d)) * 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("qini_cum"),
    ).orderBy("bucket")


def propensity_strata_ate(
    df: DataFrame,
    score_expr: str,
    treat_expr: str,
    outcome_expr: str,
    id_expr: str,
    n_strata: int = 5,
) -> DataFrame:
    """Propensity-score stratification ATE (Rosenbaum & Rubin 1984):
    bucket the population into propensity strata, take each stratum's
    treated-minus-control outcome difference, and weight by stratum
    size — the simple, auditable causal estimate when randomization
    wasn't available and :func:`diff_in_diff`'s before/after structure
    doesn't exist.  Strata missing an arm are dropped (standard
    practice) and reported.

    Strata come from ``insights.distributed_ntile`` over (score asc,
    id asc) — exact, no global window; the estimate is one bounded
    aggregate over the ``n_strata``-row frame, micro-quantized exact
    arithmetic.  Returns one row: (n_total, n_used, strata_used, ate).
    """
    from .insights import distributed_ntile

    if n_strata < 2:
        raise ValueError("n_strata must be >= 2")
    scored = df.where(
        f"({score_expr}) IS NOT NULL AND ({outcome_expr}) IS NOT NULL"
    ).select(
        F.expr(
            f"CAST(round(CAST(({score_expr}) AS DOUBLE) * 1000000.0d) "
            "AS BIGINT)"
        ).alias("__s"),
        F.expr(f"coalesce(CAST(({treat_expr}) AS BOOLEAN), false)")
        .alias("__t"),
        F.expr(
            f"CAST(round(CAST(({outcome_expr}) AS DOUBLE) "
            "* 1000000.0d) AS BIGINT)"
        ).alias("__y"),
        F.expr(f"({id_expr})").alias("__id"),
    )
    strata = distributed_ntile(
        scored,
        [F.col("__s").asc(), F.col("__id").asc()],
        n_strata,
        out_col="stratum",
    )
    g = strata.groupBy("stratum").agg(
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).cast("long")
        .alias("n_t"),
        F.sum(F.when(~F.col("__t"), 1).otherwise(0)).cast("long")
        .alias("n_c"),
        F.sum(F.when(F.col("__t"), F.col("__y")).otherwise(0))
        .cast("long").alias("s_t"),
        F.sum(F.when(~F.col("__t"), F.col("__y")).otherwise(0))
        .cast("long").alias("s_c"),
    )
    diff = (
        "(CAST(round(CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)) "
        "AS BIGINT) "
        "- CAST(round(CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE)) "
        "AS BIGINT))"
    )
    return g.agg(
        F.sum(F.expr("n_t + n_c")).cast("long").alias("n_total"),
        F.sum(F.expr(
            "CASE WHEN n_t > 0 AND n_c > 0 THEN n_t + n_c ELSE 0 END"
        )).cast("long").alias("n_used"),
        F.sum(F.expr(
            "CASE WHEN n_t > 0 AND n_c > 0 THEN 1 ELSE 0 END"
        )).cast("long").alias("strata_used"),
        F.sum(F.expr(
            f"CASE WHEN n_t > 0 AND n_c > 0 "
            f"THEN (n_t + n_c) * {diff} ELSE CAST(0 AS BIGINT) END"
        )).cast("long").alias("__w_micro"),
    ).select(
        "n_total", "n_used", "strata_used",
        F.expr(
            "CAST(round(CAST(__w_micro AS DOUBLE) "
            "/ nullif(CAST(n_used AS DOUBLE), 0.0d)) AS BIGINT) / 1e6"
        ).cast("double").alias("ate"),
    )


def poisson_rate_test(
    df: DataFrame,
    group_col: str,
    group_a,
    group_b,
    events_expr: str,
    exposure_expr: str,
) -> DataFrame:
    """Two-group Poisson rate-ratio test with unequal exposures — the
    count-data companion to :func:`ab_test` (which compares binomial
    proportions): error/defect/arrival RATES per unit of exposure
    (machine-hours, sessions, GB scanned).  Uses the standard
    conditional binomial form: given ``k = k_a + k_b`` total events,
    under H0 the A-share is ``Bin(k, e_a/(e_a+e_b))``, so::

        z = (k_a − k·p) / sqrt(k·p·(1−p)),   p = e_a/(e_a+e_b)

    ONE conditional aggregation computes both groups' exact event and
    exposure sums (events BIGINT; exposures micro-quantized BIGINT);
    the rate ratio and z are one fixed-order double projection,
    micro-quantized.  Returns one row: (k_a, k_b, exposure_a,
    exposure_b, rate_a, rate_b, rate_ratio, z).
    """
    in_a = F.col(group_col) == F.lit(group_a)
    in_b = F.col(group_col) == F.lit(group_b)
    k = F.expr(f"CAST(({events_expr}) AS BIGINT)")
    e = F.expr(
        f"CAST(round(CAST(({exposure_expr}) AS DOUBLE) * 1000000.0d) "
        "AS BIGINT)"
    )
    m = df.where(
        (in_a | in_b)
        & F.expr(f"({events_expr}) IS NOT NULL "
                 f"AND ({exposure_expr}) IS NOT NULL")
    ).agg(
        F.sum(F.when(in_a, k).otherwise(0)).cast("long").alias("k_a"),
        F.sum(F.when(in_b, k).otherwise(0)).cast("long").alias("k_b"),
        F.sum(F.when(in_a, e).otherwise(0)).cast("long").alias("ea_u"),
        F.sum(F.when(in_b, e).otherwise(0)).cast("long").alias("eb_u"),
    )
    p = ("(CAST(ea_u AS DOUBLE) "
         "/ nullif(CAST(ea_u AS DOUBLE) + CAST(eb_u AS DOUBLE), 0.0d))")
    z = (f"((CAST(k_a AS DOUBLE) "
         f"- CAST(k_a + k_b AS DOUBLE) * ({p})) "
         f"/ nullif(sqrt(CAST(k_a + k_b AS DOUBLE) * ({p}) "
         f"* (1.0d - ({p}))), 0.0d))")
    rate = ("(CAST({k} AS DOUBLE) "
            "/ nullif(CAST({e} AS DOUBLE) / 1000000.0d, 0.0d))")
    ra = rate.format(k="k_a", e="ea_u")
    rb = rate.format(k="k_b", e="eb_u")
    return m.select(
        "k_a", "k_b",
        (F.col("ea_u").cast("double") / 1e6).alias("exposure_a"),
        (F.col("eb_u").cast("double") / 1e6).alias("exposure_b"),
        F.expr(
            f"CAST(round(({ra}) * 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("rate_a"),
        F.expr(
            f"CAST(round(({rb}) * 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("rate_b"),
        F.expr(
            f"CAST(round(({ra}) / nullif({rb}, 0.0d) * 1000000.0d) "
            "AS BIGINT) / 1e6"
        ).cast("double").alias("rate_ratio"),
        F.expr(
            f"CAST(round(({z}) * 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("z"),
    )


def sprt_test(
    series: DataFrame,
    idx_col: str,
    successes_expr: str,
    trials_expr: str,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.2,
) -> DataFrame:
    """Wald's sequential probability ratio test over an ordered series
    of (successes, trials) — the ALWAYS-VALID alternative to a
    fixed-horizon :func:`ab_test`: the cumulative log-likelihood ratio
    crosses ``ln((1−β)/α)`` → accept H1 (p = p1), crosses
    ``ln(β/(1−α))`` → accept H0 (p = p0), else keep sampling.  Run it
    on an experiment's per-period conversion series and read off the
    EARLIEST decision point — the sample-size win SPRT exists for.

    Shape: one aggregate to the per-index frame, then the cumulative
    LLR rides :func:`distributed_prefix_counts` (no single-task window
    even for fine-grained indexes); per-index LLR contributions are
    nano-quantized integers, so the crossing index is engine-stable.
    Returns one row: (n_periods, llr_final, decision, crossing_idx) —
    decision 'accept_h1' / 'accept_h0' / 'continue', crossing_idx NULL
    while 'continue'.

    Construction is billed eager in the bench: the prefix-count
    pass materializes its partition boundaries at construction (see
    :func:`_friedman_ranks` for the cost-note convention).  Not a
    cardinality probe; nothing to pre-declare.
    """
    import math

    if not (0 < p0 < 1 and 0 < p1 < 1 and p0 != p1):
        raise ValueError("need 0 < p0, p1 < 1 and p0 != p1")
    if not (0 < alpha < 1 and 0 < beta < 1):
        raise ValueError("alpha/beta must be in (0, 1)")
    w_s = round(math.log(p1 / p0) * 1e9)
    w_f = round(math.log((1 - p1) / (1 - p0)) * 1e9)
    up = round(math.log((1 - beta) / alpha) * 1e9)
    lo = round(math.log(beta / (1 - alpha)) * 1e9)
    cells = (
        series.where(f"({idx_col}) IS NOT NULL "
                     f"AND ({successes_expr}) IS NOT NULL "
                     f"AND ({trials_expr}) IS NOT NULL")
        .groupBy(F.col(idx_col).alias("idx"))
        .agg(
            F.expr(f"CAST(sum({successes_expr}) AS BIGINT)").alias("s"),
            F.expr(f"CAST(sum({trials_expr}) AS BIGINT)").alias("t"),
        )
        .select(
            "idx",
            F.expr(f"s * CAST({w_s} AS BIGINT) "
                   f"+ (t - s) * CAST({w_f} AS BIGINT)")
            .cast("long").alias("llr_c"),
        )
    )
    cum, totals = distributed_prefix_counts(cells, "idx", ["llr_c"])
    crossings = cum.select(
        "idx",
        F.col("__cum_llr_c").alias("llr"),
    ).where(f"llr >= {up} OR llr <= {lo}")
    first = crossings.orderBy(F.col("idx").asc()).limit(1)
    n_frame = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_periods")
    )
    final_llr = totals["llr_c"]
    decided = first.select(
        F.col("idx").alias("crossing_idx"),
        F.expr(
            f"CASE WHEN llr >= {up} THEN 'accept_h1' "
            "ELSE 'accept_h0' END"
        ).alias("decision"),
    )
    # 1 row left-joined against the 0-or-1-row earliest crossing
    return (
        n_frame.join(F.broadcast(decided), F.lit(True), "left")
        .select(
            "n_periods",
            F.lit(final_llr / 1e9).cast("double").alias("llr_final"),
            F.coalesce(F.col("decision"), F.lit("continue"))
            .alias("decision"),
            "crossing_idx",
        )
    )


# Deterministic random-Fourier-feature grid for mmd_rff: 8 standard
# normal quantiles at probs (j+.5)/8 (Rahimi & Recht 2007 use random
# draws; a quantile grid is the deterministic, engine-replayable
# stand-in) and evenly spaced phases over [0, 2pi).
_MMD_W = (-1.534121, -0.887147, -0.488776, -0.157311,
          0.157311, 0.488776, 0.887147, 1.534121)
_MMD_B = tuple(round(2.0 * 3.141592653589793 * j / 8.0, 6)
               for j in range(8))


def mmd_rff(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Kernel two-sample MMD² between two groups' 1-D distributions,
    approximated with a deterministic random-Fourier-feature grid
    (Gretton et al. 2012; Rahimi & Recht 2007): each value maps to 8
    features ``z_j(x) = sqrt(2/D)·cos(w_j·x/σ + b_j)`` with the
    bandwidth σ = the pooled standard deviation (one exact-moment
    pass), and ``MMD² = ‖mean_A z − mean_B z‖²``.  The Gaussian-kernel
    member of the drift family (PSI/KS/CvM/AD/W1/energy) — smooth,
    bounded, robust to outliers because cos is.

    Two passes total: pooled moments (exact decimals), then one
    conditional aggregation where each per-row cos term quantizes to
    micro before the exact per-feature sums.  MMD² is a fixed-order
    double over the 16 feature means.  Returns one row: (n_a, n_b,
    sigma, mmd2).
    """
    import math

    in_a = F.col(group_col) == F.lit(group_a)
    in_b = F.col(group_col) == F.lit(group_b)
    x = F.expr(f"CAST(({value_col}) AS DOUBLE)")
    base = df.where(
        (in_a | in_b) & F.col(value_col).isNotNull()
    ).select(in_a.alias("__a"), x.alias("__x"))
    mom = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr(
            "CAST(round(__x * 1000000.0d) AS BIGINT)"
        )).alias("sx_u"),
        F.expr(
            "CAST(sum(CAST(CAST(round(__x) AS BIGINT) "
            "AS DECIMAL(38,0)) * CAST(round(__x) AS BIGINT)) "
            "AS DECIMAL(38,0))"
        ).alias("sxx_unit"),
    ).collect()[0]
    n = mom["n"]
    if n < 2:
        return local_frame(
            df.sparkSession,
            [(0, 0)], "n_a long, n_b long"
        ).select(
            "n_a", "n_b",
            F.lit(None).cast("double").alias("sigma"),
            F.lit(None).cast("double").alias("mmd2"),
        )
    mean = (mom["sx_u"] / 1e6) / n
    var = max(
        float(mom["sxx_unit"]) / n - mean * mean, 1e-12
    )
    # unit-quantized second moment: at price magnitudes the micro
    # product overflows; whole units are exact enough for a BANDWIDTH.
    # Half-away micro rounding (floor(x+.5), NOT Python's banker's
    # round) so the SQL replay's round() lands on the same literal.
    sigma = math.floor(math.sqrt(var) * 1e6 + 0.5) / 1e6
    feats = []
    for j in range(8):
        arg = (
            f"round({_MMD_W[j]!r}d * __x / {sigma!r}d "
            f"+ {_MMD_B[j]!r}d, 6)"
        )
        feats.append(
            f"CAST(round(cos({arg}) * 1000000.0d) AS BIGINT)"
        )
    aggs = []
    for j, fexpr in enumerate(feats):
        aggs.append(F.sum(F.when(F.col("__a"), F.expr(fexpr))
                          .otherwise(0)).cast("long").alias(f"za{j}"))
        aggs.append(F.sum(F.when(~F.col("__a"), F.expr(fexpr))
                          .otherwise(0)).cast("long").alias(f"zb{j}"))
    m = base.agg(
        F.sum(F.when(F.col("__a"), 1).otherwise(0)).cast("long")
        .alias("n_a"),
        F.sum(F.when(~F.col("__a"), 1).otherwise(0)).cast("long")
        .alias("n_b"),
        *aggs,
    )
    # sqrt(2/D) scaling folds into the squared-difference sum: 2/D
    diff_sq = " + ".join(
        f"(CAST(za{j} AS DOUBLE) / 1000000.0d "
        f"/ nullif(CAST(n_a AS DOUBLE), 0.0d) "
        f"- CAST(zb{j} AS DOUBLE) / 1000000.0d "
        f"/ nullif(CAST(n_b AS DOUBLE), 0.0d)) "
        f"* (CAST(za{j} AS DOUBLE) / 1000000.0d "
        f"/ nullif(CAST(n_a AS DOUBLE), 0.0d) "
        f"- CAST(zb{j} AS DOUBLE) / 1000000.0d "
        f"/ nullif(CAST(n_b AS DOUBLE), 0.0d))"
        for j in range(8)
    )
    return m.select(
        "n_a", "n_b",
        F.lit(sigma).cast("double").alias("sigma"),
        F.expr(
            f"CAST(round((2.0d / 8.0d) * ({diff_sq}) * 1000000.0d) "
            "AS BIGINT) / 1e6"
        ).cast("double").alias("mmd2"),
    )



def mmd_reference_features(
    df: DataFrame,
    value_col: str,
    sigma: float,
) -> DataFrame:
    """Reference-side RFF feature sums for the MMD drift monitor —
    the deployment step between :func:`mmd_rff` (the retrospective
    two-sample test, which also calibrates σ) and
    ``streaming.windows.mmd_monitor_stream`` (the live twin): freeze
    σ, aggregate the training window's 8 exact micro-quantized
    feature sums ONCE, and hand them to the monitor as literals.
    Identical per-row expression text to :func:`mmd_rff`'s group-A
    branch, so the monitor's mmd2 against a replayed group B matches
    the batch test bit-for-bit.  Returns one row: (n_ref, z0..z7).
    """
    if not sigma or sigma <= 0:
        raise ValueError("sigma must be positive (freeze it from "
                         "mmd_rff's calibration output)")
    base = df.where(f"({value_col}) IS NOT NULL").select(
        F.expr(f"CAST(({value_col}) AS DOUBLE)").alias("__x")
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_ref")]
    for j in range(8):
        arg = (
            f"round({_MMD_W[j]!r}d * __x / {sigma!r}d "
            f"+ {_MMD_B[j]!r}d, 6)"
        )
        aggs.append(
            F.sum(F.expr(
                f"CAST(round(cos({arg}) * 1000000.0d) AS BIGINT)"
            )).cast("long").alias(f"z{j}")
        )
    return base.agg(*aggs)


def cuped_adjusted_effect(
    df: DataFrame,
    metric_expr: str,
    covariate_expr: str,
    treat_expr: str,
    dec: str = _DEC,
) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013): use a
    PRE-EXPERIMENT covariate X (last month's spend, baseline activity)
    to shrink the metric's variance before comparing arms::

        θ  = cov(Y, X) / var(X)          (pooled)
        Y' = Y − θ·(X − E[X]),  effect = E[Y'|T] − E[Y'|C]

    The workhorse that cuts experiment runtimes ~proportionally to
    corr(Y, X)² — reported here as ``var_reduction``.

    ONE conditional aggregation computes every pooled and per-arm
    exact decimal moment (n, ΣX, ΣY, ΣXY, ΣXX, ΣYY per arm); θ, the
    adjusted effect, and the variance-reduction ratio are a
    fixed-shape double projection over that single row,
    micro-quantized.  The adjusted effect equals the raw effect minus
    ``θ·(E[X|T] − E[X|C])`` — algebraically identical to adjusting
    every row, with no second scan.  Returns one row: (n_treat,
    n_ctrl, theta, effect_raw, effect_cuped, var_reduction).
    """
    t = F.expr(f"coalesce(CAST(({treat_expr}) AS BOOLEAN), false)")
    y = _m(metric_expr, dec)
    x = _m(covariate_expr, dec)
    m = df.where(
        f"({metric_expr}) IS NOT NULL AND ({covariate_expr}) IS NOT NULL"
    ).agg(
        F.sum(F.when(t, 1).otherwise(0)).cast("long").alias("n_t"),
        F.sum(F.when(~t, 1).otherwise(0)).cast("long").alias("n_c"),
        F.sum(F.when(t, y)).alias("syt"),
        F.sum(F.when(~t, y)).alias("syc"),
        F.sum(F.when(t, x)).alias("sxt"),
        F.sum(F.when(~t, x)).alias("sxc"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"),
    ).select(
        "n_t", "n_c",
        (F.col("n_t") + F.col("n_c")).cast("double").alias("n_d"),
        F.col("n_t").cast("double").alias("nt_d"),
        F.col("n_c").cast("double").alias("nc_d"),
        *[F.col(c).cast("double").alias(f"{c}_d")
          for c in ("syt", "syc", "sxt", "sxc", "sx", "sy", "sxx",
                    "sxy", "syy")],
    )
    theta = ("((n_d * sxy_d - sx_d * sy_d) "
             "/ nullif(n_d * sxx_d - sx_d * sx_d, 0.0d))")
    raw = ("(syt_d / nullif(nt_d, 0.0d) - syc_d / nullif(nc_d, 0.0d))")
    xdiff = ("(sxt_d / nullif(nt_d, 0.0d) "
             "- sxc_d / nullif(nc_d, 0.0d))")
    # var reduction = corr(Y,X)^2 (the CUPED identity)
    corr2 = ("((n_d * sxy_d - sx_d * sy_d) "
             "* (n_d * sxy_d - sx_d * sy_d) "
             "/ nullif((n_d * sxx_d - sx_d * sx_d) "
             "* (n_d * syy_d - sy_d * sy_d), 0.0d))")
    return m.select(
        F.col("n_t").alias("n_treat"),
        F.col("n_c").alias("n_ctrl"),
        F.expr(
            f"CAST(round(({theta}) * 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("theta"),
        F.expr(
            f"CAST(round(({raw}) * 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("effect_raw"),
        F.expr(
            f"CAST(round((({raw}) - ({theta}) * ({xdiff})) "
            "* 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("effect_cuped"),
        F.expr(
            f"CAST(round(({corr2}) * 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("var_reduction"),
    )


def ab_sample_size_proportion(
    df: DataFrame,
    success_expr: str,
    mde_pct_micro: int = 100_000,
    z_alpha_micro: int = 1_959_964,
    z_beta_micro: int = 841_621,
) -> DataFrame:
    """A/B sample-size planner for PROPORTIONS — the conversion-rate
    sibling of :func:`ab_sample_size` (which plans for means): from the
    observed base rate p̂, the per-arm n to detect a relative lift of
    ``mde_pct_micro`` (micro-units, 100_000 = +10%) at the given
    normal quantiles (defaults: α = .05 two-sided, power = .8)::

        n = (z_α + z_β)² · (p₁(1−p₁) + p₂(1−p₂)) / (p₂ − p₁)²

    ONE exact-count aggregate; the plan is a fixed-order double
    projection, micro-quantized.  Returns one row: (n, base_rate,
    target_rate, n_per_arm).
    """
    m = df.where(f"({success_expr}) IS NOT NULL").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(f"CAST(sum(CAST(({success_expr}) AS INT)) AS BIGINT)")
        .alias("k"),
    )
    p1 = "(CAST(k AS DOUBLE) / nullif(CAST(n AS DOUBLE), 0.0d))"
    p2 = (f"({p1} * (1.0d + CAST({mde_pct_micro} AS DOUBLE) "
          "/ 1000000.0d))")
    z = (f"(CAST({z_alpha_micro} AS DOUBLE) / 1000000.0d "
         f"+ CAST({z_beta_micro} AS DOUBLE) / 1000000.0d)")
    n_arm = (f"(({z}) * ({z}) * ({p1} * (1.0d - {p1}) "
             f"+ ({p2}) * (1.0d - ({p2}))) "
             f"/ nullif((({p2}) - {p1}) * (({p2}) - {p1}), 0.0d))")
    return m.select(
        "n",
        F.expr(
            f"CAST(round({p1} * 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("base_rate"),
        F.expr(
            f"CAST(round(({p2}) * 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("target_rate"),
        F.expr(f"CAST(ceil({n_arm}) AS BIGINT)").alias("n_per_arm"),
    )


def brown_forsythe(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Brown–Forsythe test for equality of VARIANCES across k groups —
    Levene's test with median centers (the robust variant): the
    homoscedasticity check to run before trusting :func:`one_way_anova`
    (whose F assumes equal variances) on skewed money/latency columns.
    The statistic is literally a one-way ANOVA F over the absolute
    deviations ``z = |x − median_g|``.

    Per-group medians are EXACT interpolation quantiles via
    ``analytics.distributed_group_quantiles`` (parallel at any scale),
    broadcast back onto the fact frame; the deviations then flow
    through the exact-decimal ANOVA moment pass (micro-quantized
    deviations — the shared discipline).  Returns one row: (n, k, ssb,
    ssw, f_stat, eta_sq) — the :func:`one_way_anova` output shape over
    the deviation frame.
    """
    from .analytics import distributed_group_quantiles

    base = df.where(
        f"({group_col}) IS NOT NULL AND ({value_col}) IS NOT NULL"
    ).select(
        F.expr(f"CAST(({group_col}) AS STRING)").alias("__g"),
        F.expr(f"CAST(({value_col}) AS DOUBLE)").alias("__v"),
    )
    med = distributed_group_quantiles(base, "__g", "__v", [0.5]) \
        .select(F.col("__g"), F.col("q0").alias("__med"))
    dev = base.join(F.broadcast(med), "__g").select(
        "__g",
        F.expr(
            "CAST(CAST(round(abs(__v - __med) * 1000000.0d) AS BIGINT)"
            " AS DOUBLE) / 1e6"
        ).alias("__z"),
    )
    return one_way_anova(dev, "__g", "__z")


def srm_check(
    df: DataFrame,
    arm_col: str,
    expected_shares: dict,
) -> DataFrame:
    """Sample-ratio-mismatch check (Fabijan et al. 2019): the FIRST
    thing to read on any experiment dashboard — a chi-square of the
    observed arm counts against the design's expected shares.  An SRM
    (z far from 0, here |z| of the per-arm standardized residual and
    the pooled chi²) means the assignment/logging pipeline is broken
    and every downstream metric read is invalid.

    ONE exact-count aggregate over the assignment frame; per-arm
    expected counts and residuals are a fixed-order double projection
    over the k-row arm frame (expected shares broadcast as literals),
    micro-quantized.  Arms observed but not in ``expected_shares`` get
    NULL expectations (they ARE the mismatch); if NO observed arm is
    in the design (k_known = 0) the pooled chi2_total/df_total are
    NULL too — a 0.0/-1 pair would read as a clean result.  Returns
    one row per arm plus the pooled statistic columns repeated: (arm,
    n_observed, expected_share, n_expected, residual_z, chi2_total,
    df_total), ordered by arm.
    """
    if not expected_shares:
        raise ValueError("expected_shares must be non-empty")
    total_share = sum(expected_shares.values())
    if not 0.999999 <= total_share <= 1.000001:
        raise ValueError(
            f"expected_shares must sum to 1 (got {total_share})"
        )
    counts = (
        df.where(f"({arm_col}) IS NOT NULL")
        .groupBy(F.expr(f"CAST(({arm_col}) AS STRING)").alias("arm"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_observed"))
    ).localCheckpoint(eager=False)
    share_map = F.create_map(
        *[F.lit(v) for kv in expected_shares.items() for v in kv]
    )
    tot = counts.agg(F.sum("n_observed").cast("long").alias("__n"))
    staged = counts.crossJoin(F.broadcast(tot)).withColumn(
        "expected_share",
        F.element_at(share_map, F.col("arm")).cast("double"),
    ).withColumn(
        "n_expected",
        F.expr(
            "CAST(round(expected_share * CAST(__n AS DOUBLE) "
            "* 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double"),
    ).withColumn(
        "residual_z",
        F.expr(
            "CAST(round((CAST(n_observed AS DOUBLE) "
            "- expected_share * CAST(__n AS DOUBLE)) "
            "/ nullif(sqrt(expected_share * CAST(__n AS DOUBLE) "
            "* (1.0d - expected_share)), 0.0d) * 1000000.0d) "
            "AS BIGINT) / 1e6"
        ).cast("double"),
    )
    chi = staged.agg(
        F.sum(F.expr(
            "CASE WHEN expected_share IS NULL THEN CAST(0 AS BIGINT) "
            "ELSE CAST(round((CAST(n_observed AS DOUBLE) "
            "- expected_share * CAST(__n AS DOUBLE)) "
            "* (CAST(n_observed AS DOUBLE) "
            "- expected_share * CAST(__n AS DOUBLE)) "
            "/ nullif(expected_share * CAST(__n AS DOUBLE), 0.0d) "
            "* 1000000.0d) AS BIGINT) END"
        )).cast("long").alias("__chi_micro"),
        F.sum(F.expr(
            "CASE WHEN expected_share IS NULL THEN 0 ELSE 1 END"
        )).cast("long").alias("__k_known"),
    )
    return (
        staged.crossJoin(F.broadcast(chi))
        .select(
            "arm", "n_observed", "expected_share", "n_expected",
            "residual_z",
            F.expr(
                "CASE WHEN __k_known = 0 THEN NULL "
                "ELSE CAST(__chi_micro AS DOUBLE) / 1e6 END"
            ).cast("double").alias("chi2_total"),
            F.expr(
                "CASE WHEN __k_known = 0 THEN NULL "
                "ELSE __k_known - 1 END"
            ).cast("long").alias("df_total"),
        )
        .orderBy("arm")
    )


def _big_d(expr: str) -> str:
    """DECIMAL(38,0) → DOUBLE through an exact string render: both
    engines' direct decimal→double casts are NOT guaranteed correctly
    rounded above 2⁵³ (Java BigDecimal.doubleValue; DuckDB's int128
    scaled-mantissa divide), but decimal→string is exact and
    string→double IS correctly rounded on both — so the round trip
    lands on the identical double.  Use for every high moment the
    :func:`jarque_bera` family accumulates."""
    return f"CAST(CAST({expr} AS STRING) AS DOUBLE)"


def jarque_bera(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Jarque–Bera normality test from exact integer raw moments::

        S = m₃/m₂^1.5,  K = m₄/m₂² − 3,  JB = n/6·(S² + K²/4)

    The cheapest distribution-shape gate there is — one scan, four
    sums — and the right first check before trusting z-based rules
    (3-sigma outliers, control limits) on money columns.

    Values quantize to a CENTS lattice (scale-2 BIGINT — xq⁴ of a
    micro lattice would pass 10³⁸); Σxq..Σxq⁴ accumulate as exact
    DECIMAL(38,0), convert to doubles through the string render
    (:func:`_big_d`), and the central-moment expansion runs as one
    fixed-order double expression, micro-quantized.  The 38-digit
    envelope (n·max|xq|⁴ < 10³⁸, i.e. |value| ≲ 10⁷ at n = 10⁹ —
    non-ANSI Spark would return silent NULLs past it) is ENFORCED by
    an in-plan ``assert_true`` that raises loudly instead.  Returns
    one row: (n, skewness, ex_kurtosis, jb_stat).
    """
    xq = f"CAST(round(CAST(({value_col}) AS DOUBLE) * 100.0d) AS BIGINT)"
    m = df.where(f"({value_col}) IS NOT NULL").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(f"CAST(sum(CAST({xq} AS DECIMAL(38,0))) "
               "AS DECIMAL(38,0))").alias("s1"),
        F.expr(f"CAST(sum(CAST({xq} AS DECIMAL(38,0)) * ({xq})) "
               "AS DECIMAL(38,0))").alias("s2"),
        F.expr(f"CAST(sum(CAST({xq} AS DECIMAL(38,0)) * ({xq}) "
               f"* ({xq})) AS DECIMAL(38,0))").alias("s3"),
        F.expr(f"CAST(sum(CAST({xq} AS DECIMAL(38,0)) * ({xq}) "
               f"* ({xq}) * ({xq})) AS DECIMAL(38,0))").alias("s4"),
        F.expr(f"CAST(max(abs({xq})) AS DOUBLE)").alias("xq_max_d"),
    ).select(
        "n",
        F.col("n").cast("double").alias("n_d"),
        F.expr(_big_d("s1")).alias("s1_d"),
        F.expr(_big_d("s2")).alias("s2_d"),
        F.expr(_big_d("s3")).alias("s3_d"),
        F.expr(_big_d("s4")).alias("s4_d"),
        "xq_max_d",
    ).where(F.expr(
        # overflow guard: the fourth raw-moment sum must stay inside
        # DECIMAL(38,0); raise loudly rather than emit silent NULLs
        "assert_true(coalesce(n_d * pow(xq_max_d, 4.0d) < 1e38, true), "
        "'jarque_bera: n * max|value*100|^4 exceeds the DECIMAL(38,0) "
        "envelope (~|value| <= 1e7 at n = 1e9) — the fourth-moment sum "
        "would silently NULL; rescale or pre-trim the column') IS NULL"
    ))
    mu = "(s1_d / n_d)"
    m2 = f"(s2_d / n_d - {mu} * {mu})"
    m3 = (f"(s3_d / n_d - 3.0d * {mu} * (s2_d / n_d) "
          f"+ 2.0d * {mu} * {mu} * {mu})")
    m4 = (f"(s4_d / n_d - 4.0d * {mu} * (s3_d / n_d) "
          f"+ 6.0d * {mu} * {mu} * (s2_d / n_d) "
          f"- 3.0d * {mu} * {mu} * {mu} * {mu})")
    skew = f"(({m3}) / nullif(sqrt({m2}) * ({m2}), 0.0d))"
    exk = f"(({m4}) / nullif(({m2}) * ({m2}), 0.0d) - 3.0d)"
    jb = (f"(n_d / 6.0d * (({skew}) * ({skew}) "
          f"+ ({exk}) * ({exk}) / 4.0d))")
    return m.select(
        "n",
        F.expr(f"CAST(round(({skew}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("skewness"),
        F.expr(f"CAST(round(({exk}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("ex_kurtosis"),
        F.expr(f"CAST(round(({jb}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("jb_stat"),
    )


def welch_anova(
    df: DataFrame,
    group_col: str,
    value_col: str,
    dec: str = _DEC,
) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA (Welch 1951) — the k-group
    test to reach for when :func:`brown_forsythe` REJECTS equal
    variances and the classic :func:`one_way_anova` F is invalid::

        w_g = n_g/s²_g,  F* = Σw(m_g − m̄_w)²/(k−1) / (1 + 2(k−2)Λ/(k²−1))
        Λ   = Σ (1 − w/W)²/(n_g − 1) · 3/(k²−1)⁻¹-ish (df₂ = (k²−1)/3Λ)

    ONE hash aggregation to per-group exact decimal moments; the
    cross-group reductions quantize each group's summand on a fixed
    PICO lattice (1e-12) and sum exact DECIMAL(38,0)s — deterministic
    on any partition order, identical text in the oracle.  DECIMAL
    (not BIGINT) accumulation matters: w_g = n_g/var_g is unbounded
    (n_g = 1e6 at var 0.01 is w_g = 1e8, pico 1e20), and a BIGINT
    lattice would silently saturate at Long.MaxValue in non-ANSI
    Spark, corrupting f_stat/df2 with no error.  Groups with n < 2
    or zero variance are excluded (their weight is undefined).
    Returns one row: (n, k, f_stat, df1, df2).
    """
    x = _m(value_col, dec)
    g = (
        df.where(f"({group_col}) IS NOT NULL "
                 f"AND ({value_col}) IS NOT NULL")
        .groupBy(F.expr(f"CAST(({group_col}) AS STRING)").alias("g"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum(x).alias("s_g"),
            F.sum(x * x).alias("q_g"),
        )
        .select(
            "n_g",
            F.col("n_g").cast("double").alias("ng_d"),
            F.expr("CAST(s_g AS DOUBLE)").alias("s_d"),
            F.expr("CAST(q_g AS DOUBLE)").alias("q_d"),
        )
        .withColumn("mean_g", F.expr("s_d / ng_d"))
        .withColumn(
            "var_g",
            F.expr("(q_d - s_d * s_d / ng_d) / (ng_d - 1.0d)"),
        )
        .where("n_g >= 2 AND var_g > 0.0d")
        .withColumn("w_g", F.expr("ng_d / var_g"))
    )
    # stage 1: exact pico-lattice sums of w and w·mean
    s1 = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.expr(
            "CAST(sum(CAST(round(w_g * 1000000000000.0d) "
            "AS DECIMAL(38,0))) AS DECIMAL(38,0))"
        ).alias("w_p"),
        F.expr(
            "CAST(sum(CAST(round(w_g * mean_g * 1000000000000.0d) "
            "AS DECIMAL(38,0))) AS DECIMAL(38,0))"
        ).alias("wm_p"),
    )
    row = s1.collect()[0]
    n_tot, k = int(row["n"] or 0), int(row["k"] or 0)
    if k < 2 or not row["w_p"]:
        return local_frame(
            df.sparkSession,
            [(n_tot, k)], "n long, k long"
        ).select(
            "n", "k",
            F.lit(None).cast("double").alias("f_stat"),
            F.lit(max(k - 1, 0)).cast("long").alias("df1"),
            F.lit(None).cast("double").alias("df2"),
        )
    w_tot = int(row["w_p"]) / 1e12
    mw = (int(row["wm_p"]) / 1e12) / w_tot
    # stage 2: exact pico sums of the two Welch summands, the weighted
    # between-group term and the Λ correction, with mw/W as literals
    s2 = g.agg(
        F.expr(
            f"CAST(sum(CAST(round(w_g * (mean_g - {mw!r}) "
            f"* (mean_g - {mw!r}) * 1000000000000.0d) "
            "AS DECIMAL(38,0))) AS DECIMAL(38,0))"
        ).alias("a_p"),
        F.expr(
            f"CAST(sum(CAST(round((1.0d - w_g / {w_tot!r}) "
            f"* (1.0d - w_g / {w_tot!r}) / (ng_d - 1.0d) "
            "* 1000000000000.0d) AS DECIMAL(38,0))) "
            "AS DECIMAL(38,0))"
        ).alias("l_p"),
    ).select(
        F.lit(n_tot).cast("long").alias("n"),
        F.lit(k).cast("long").alias("k"),
        F.expr(f"{_big_d('a_p')} / 1e12").alias("a_d"),
        F.expr(f"{_big_d('l_p')} / 1e12").alias("lam_d"),
    )
    k_d = float(k)
    fstar = (
        f"((a_d / ({k_d!r} - 1.0d)) "
        f"/ (1.0d + 2.0d * ({k_d!r} - 2.0d) * lam_d "
        f"/ ({k_d!r} * {k_d!r} - 1.0d)))"
    )
    df2 = (f"(({k_d!r} * {k_d!r} - 1.0d) / (3.0d * lam_d))")
    return s2.select(
        "n", "k",
        F.expr(f"CAST(round(({fstar}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("f_stat"),
        F.lit(k - 1).cast("long").alias("df1"),
        F.expr(f"CAST(round(({df2}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("df2"),
    )


def tukey_hsd(
    df: DataFrame,
    group_col: str,
    value_col: str,
    dec: str = _DEC,
) -> DataFrame:
    """Tukey HSD pairwise comparisons after a significant
    :func:`one_way_anova`: for every group pair the studentized-range
    statistic::

        q_ij = |m_i − m_j| / sqrt(MSW/2 · (1/n_i + 1/n_j))

    ONE aggregation to per-group exact decimal moments; MSW reduces
    with the unit-lattice exact-sum discipline the ANOVA itself uses;
    the pair frame is the k-row model frame self-joined (k², tiny —
    never the fact table).  Returns (group_a, group_b, mean_a, mean_b,
    mean_diff, q_stat) ordered by (group_a, group_b).
    """
    x = _m(value_col, dec)
    g = (
        df.where(f"({group_col}) IS NOT NULL "
                 f"AND ({value_col}) IS NOT NULL")
        .groupBy(F.expr(f"CAST(({group_col}) AS STRING)").alias("g"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum(x).alias("s_g"),
            F.sum(x * x).alias("q_g"),
        )
    ).localCheckpoint(eager=False)
    tot = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.expr("CAST(sum(q_g) AS DOUBLE)").alias("q_d"),
        F.sum(F.expr(
            "CAST(round(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) "
            "/ CAST(n_g AS DOUBLE)) AS BIGINT)"
        )).cast("long").alias("sq_unit"),
    ).select(
        "n", "k",
        F.expr(
            "(q_d - CAST(sq_unit AS DOUBLE)) "
            "/ (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))"
        ).alias("msw"),
    )
    means = g.select(
        "g", "n_g",
        F.expr("CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE)").alias("m_g"),
    )
    a, b = means.alias("a"), means.alias("b")
    pairs = a.join(b, F.col("a.g") < F.col("b.g")) \
        .crossJoin(F.broadcast(tot))
    qstat = (
        "abs(a.m_g - b.m_g) / nullif(sqrt(msw / 2.0d "
        "* (1.0d / CAST(a.n_g AS DOUBLE) "
        "+ 1.0d / CAST(b.n_g AS DOUBLE))), 0.0d)"
    )
    return pairs.select(
        F.col("a.g").alias("group_a"),
        F.col("b.g").alias("group_b"),
        F.expr("CAST(round(a.m_g * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("mean_a"),
        F.expr("CAST(round(b.m_g * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("mean_b"),
        F.expr(
            "CAST(round((a.m_g - b.m_g) * 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("mean_diff"),
        F.expr(f"CAST(round(({qstat}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("q_stat"),
    ).orderBy("group_a", "group_b")


def partial_correlation(
    df: DataFrame,
    x_col: str,
    y_col: str,
    z_col: str,
    dec: str = _DEC,
) -> DataFrame:
    """First-order partial correlation — the X↔Y association with the
    confounder Z regressed out of both sides::

        r_xy.z = (r_xy − r_xz·r_yz) / sqrt((1 − r_xz²)(1 − r_yz²))

    The confounding check every observational metric read needs (is
    price↔discount real, or do both just follow quantity?).  ONE
    aggregation to the nine exact decimal cross-moments; the three
    Pearson r's and the partial are one fixed-order double projection,
    micro-quantized.  Returns one row: (n, r_xy, r_xz, r_yz,
    partial_r).
    """
    x, y, z = _m(x_col, dec), _m(y_col, dec), _m(z_col, dec)
    m = df.where(
        f"({x_col}) IS NOT NULL AND ({y_col}) IS NOT NULL "
        f"AND ({z_col}) IS NOT NULL"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(z).alias("sz"),
        F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
        F.sum(z * z).alias("szz"),
        F.sum(x * y).alias("sxy"), F.sum(x * z).alias("sxz"),
        F.sum(y * z).alias("syz"),
    ).select(
        "n",
        F.col("n").cast("double").alias("n_d"),
        *[F.expr(f"CAST({c} AS DOUBLE)").alias(f"{c}_d")
          for c in ("sx", "sy", "sz", "sxx", "syy", "szz",
                    "sxy", "sxz", "syz")],
    )

    def _r(sa, sb, sab, saa, sbb):
        return (
            f"((n_d * {sab} - {sa} * {sb}) "
            f"/ nullif(sqrt(n_d * {saa} - {sa} * {sa}) "
            f"* sqrt(n_d * {sbb} - {sb} * {sb}), 0.0d))"
        )

    rxy = _r("sx_d", "sy_d", "sxy_d", "sxx_d", "syy_d")
    rxz = _r("sx_d", "sz_d", "sxz_d", "sxx_d", "szz_d")
    ryz = _r("sy_d", "sz_d", "syz_d", "syy_d", "szz_d")
    pr = (
        f"((({rxy}) - ({rxz}) * ({ryz})) "
        f"/ nullif(sqrt((1.0d - ({rxz}) * ({rxz})) "
        f"* (1.0d - ({ryz}) * ({ryz}))), 0.0d))"
    )
    return m.select(
        "n",
        *[
            F.expr(f"CAST(round(({e}) * 1000000.0d) AS BIGINT) / 1e6")
            .cast("double").alias(name)
            for e, name in
            ((rxy, "r_xy"), (rxz, "r_xz"), (ryz, "r_yz"),
             (pr, "partial_r"))
        ],
    )


def point_biserial(
    df: DataFrame,
    flag_expr: str,
    value_col: str,
    dec: str = _DEC,
) -> DataFrame:
    """Point-biserial correlation — Pearson r between a BINARY flag and
    a continuous metric, in its textbook two-group form::

        r_pb = (m₁ − m₀)/σ_n · sqrt(n₁·n₀/n²)

    The effect-size twin of :func:`welch_t_test` (monotone in t):
    answers "how much of the metric's spread does membership explain"
    — on a 100 TB table everything is significant, r_pb says whether
    it matters.  ONE aggregation to exact decimal conditional moments;
    fixed-order double projection, micro-quantized.  Returns one row:
    (n, n_pos, mean_pos, mean_neg, r_pb).
    """
    t = F.expr(f"coalesce(CAST(({flag_expr}) AS BOOLEAN), false)")
    v = _m(value_col, dec)
    m = df.where(f"({value_col}) IS NOT NULL").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(t, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(t, v)).alias("s1"),
        F.sum(F.when(~t, v)).alias("s0"),
        F.sum(v).alias("s"),
        F.sum(v * v).alias("q"),
    ).select(
        "n", "n1",
        F.col("n").cast("double").alias("n_d"),
        F.col("n1").cast("double").alias("n1_d"),
        (F.col("n") - F.col("n1")).cast("double").alias("n0_d"),
        F.expr("CAST(s1 AS DOUBLE)").alias("s1_d"),
        F.expr("CAST(s0 AS DOUBLE)").alias("s0_d"),
        F.expr("CAST(s AS DOUBLE)").alias("s_d"),
        F.expr("CAST(q AS DOUBLE)").alias("q_d"),
    )
    m1 = "(s1_d / nullif(n1_d, 0.0d))"
    m0 = "(s0_d / nullif(n0_d, 0.0d))"
    sd_n = "sqrt(q_d / n_d - (s_d / n_d) * (s_d / n_d))"
    rpb = (
        f"((({m1}) - ({m0})) / nullif({sd_n}, 0.0d) "
        f"* sqrt(n1_d * n0_d / (n_d * n_d)))"
    )
    return m.select(
        "n",
        F.col("n1").alias("n_pos"),
        F.expr(f"CAST(round(({m1}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("mean_pos"),
        F.expr(f"CAST(round(({m0}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("mean_neg"),
        F.expr(f"CAST(round(({rpb}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("r_pb"),
    )


def grubbs_test(
    df: DataFrame,
    value_col: str,
    dec: str = _DEC,
) -> DataFrame:
    """Grubbs' maximum-studentized-deviate test — is the single most
    extreme value an outlier?::

        G = max(x̄ − min x, max x − x̄) / s

    The one-outlier complement to the bulk :func:`events_mad_outliers`
    rule: G against its critical value decides whether the worst point
    is noise or a data-quality incident.  ONE aggregation — the max
    deviation needs only (min, max, mean), never a deviation scan.
    Returns one row: (n, mean, sd, g_stat, suspect_value).
    """
    v = _m(value_col, dec)
    m = df.where(f"({value_col}) IS NOT NULL").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).alias("s"),
        F.sum(v * v).alias("q"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
    ).select(
        "n",
        F.col("n").cast("double").alias("n_d"),
        F.expr("CAST(s AS DOUBLE)").alias("s_d"),
        F.expr("CAST(q AS DOUBLE)").alias("q_d"),
        F.expr("CAST(mn AS DOUBLE)").alias("mn_d"),
        F.expr("CAST(mx AS DOUBLE)").alias("mx_d"),
    )
    mean = "(s_d / n_d)"
    sd = ("sqrt((q_d - s_d * s_d / n_d) "
          "/ nullif(n_d - 1.0d, 0.0d))")
    g = (f"(greatest({mean} - mn_d, mx_d - {mean}) "
         f"/ nullif({sd}, 0.0d))")
    suspect = (f"(CASE WHEN mx_d - {mean} >= {mean} - mn_d "
               "THEN mx_d ELSE mn_d END)")
    return m.select(
        "n",
        F.expr(f"CAST(round(({mean}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("mean"),
        F.expr(f"CAST(round(({sd}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("sd"),
        F.expr(f"CAST(round(({g}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("g_stat"),
        F.expr(f"CAST(({suspect}) AS DOUBLE)").alias("suspect_value"),
    )


def mcnemar_test(
    df: DataFrame,
    flag_a_expr: str,
    flag_b_expr: str,
) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes — did classifier/rule
    B change the positives of rule A on the SAME rows?  Only the
    discordant cells matter::

        χ² = (|n₁₀ − n₀₁| − 1)² / (n₁₀ + n₀₁)     (continuity-corrected)

    The right significance gate when comparing two quality heuristics
    or two model versions scored over one corpus (a two-proportion z
    test would wrongly treat the samples as independent).  ONE exact
    count aggregation; the statistic is a fixed-order double over the
    2×2 cells, micro-quantized.  Returns one row: (n, n_10, n_01,
    mcnemar_chi2, discordant_ratio).
    """
    a = F.expr(f"coalesce(CAST(({flag_a_expr}) AS BOOLEAN), false)")
    b = F.expr(f"coalesce(CAST(({flag_b_expr}) AS BOOLEAN), false)")
    m = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(a & ~b, 1).otherwise(0)).cast("long").alias("n10"),
        F.sum(F.when(~a & b, 1).otherwise(0)).cast("long").alias("n01"),
    )
    chi = (
        "((abs(CAST(n10 AS DOUBLE) - CAST(n01 AS DOUBLE)) - 1.0d) "
        "* (abs(CAST(n10 AS DOUBLE) - CAST(n01 AS DOUBLE)) - 1.0d) "
        "/ nullif(CAST(n10 AS DOUBLE) + CAST(n01 AS DOUBLE), 0.0d))"
    )
    ratio = ("(CAST(n10 AS DOUBLE) "
             "/ nullif(CAST(n01 AS DOUBLE), 0.0d))")
    return m.select(
        "n",
        F.col("n10").alias("n_10"),
        F.col("n01").alias("n_01"),
        F.expr(f"CAST(round(({chi}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("mcnemar_chi2"),
        F.expr(f"CAST(round(({ratio}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("discordant_ratio"),
    )


def cochran_armitage(
    df: DataFrame,
    score_expr: str,
    success_expr: str,
) -> DataFrame:
    """Cochran–Armitage trend test — is a binary rate MONOTONE in an
    ordered factor (does failure rate climb with priority tier)?
    Strictly more powerful than the omnibus chi-square when the
    alternative is ordered.  With integer scores sᵢ the whole z
    reduces to exact integer sums::

        z = (N·Σsᵢkᵢ − K·Σsᵢnᵢ)
            / sqrt(K(N−K)(N·Σnᵢsᵢ² − (Σnᵢsᵢ)²) / N)

    ONE aggregation over the fact table (the per-group frame never
    materializes); the two big integers ride DECIMAL(38,0) and convert
    through the exact string render.  Returns one row: (n, k_success,
    z_stat).
    """
    s = f"CAST(({score_expr}) AS BIGINT)"
    k = f"CAST(CAST(({success_expr}) AS BOOLEAN) AS INT)"
    m = df.where(
        f"({score_expr}) IS NOT NULL AND ({success_expr}) IS NOT NULL"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(f"CAST(sum({k}) AS BIGINT)").alias("ksum"),
        F.expr(f"CAST(sum({s}) AS BIGINT)").alias("sns"),
        F.expr(f"CAST(sum(({s}) * ({k})) AS BIGINT)").alias("sks"),
        F.expr(f"CAST(sum(({s}) * ({s})) AS BIGINT)").alias("snss"),
    ).select(
        "n", F.col("ksum").alias("k_success"),
        # both terms are DECIMAL(38,0) × BIGINT (never decimal×decimal
        # — a 38×38 product overflows DuckDB's precision derivation)
        F.expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * sks "
            "- CAST(ksum AS DECIMAL(38,0)) * sns AS DECIMAL(38,0))"
        ).alias("a_big"),
        F.expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * snss "
            "- CAST(sns AS DECIMAL(38,0)) * sns AS DECIMAL(38,0))"
        ).alias("inner_big"),
    )
    # K(N−K) stays in doubles (overflow-free at any N); the big inner
    # term rides the exact string render
    kn = ("(CAST(k_success AS DOUBLE) "
          "* (CAST(n AS DOUBLE) - CAST(k_success AS DOUBLE)))")
    z = (f"({_big_d('a_big')} "
         f"/ nullif(sqrt({kn} * {_big_d('inner_big')} "
         "/ CAST(n AS DOUBLE)), 0.0d))")
    return m.select(
        "n", "k_success",
        F.expr(f"CAST(round(({z}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("z_stat"),
    )


def mantel_haenszel(
    df: DataFrame,
    stratum_col: str,
    exposed_expr: str,
    outcome_expr: str,
) -> DataFrame:
    """Mantel–Haenszel stratified 2×2 analysis — the pooled
    exposure→outcome odds ratio that CONTROLS for a confounding
    stratum (the formal fix for the :func:`simpson_paradox` report)::

        OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ)
        CMH   = (|Σaᵢ − ΣEᵢ| − ½)² / ΣVᵢ

    ONE aggregation to per-stratum exact 2×2 counts (k rows); the
    cross-stratum reductions quantize each stratum's summand on the
    micro lattice and sum exact BIGINTs.  Returns one row:
    (k_strata, n, or_mh, cmh_chi2).
    """
    e = F.expr(f"coalesce(CAST(({exposed_expr}) AS BOOLEAN), false)")
    y = F.expr(f"coalesce(CAST(({outcome_expr}) AS BOOLEAN), false)")
    g = (
        df.where(f"({stratum_col}) IS NOT NULL")
        .groupBy(F.expr(f"CAST(({stratum_col}) AS STRING)").alias("st"))
        .agg(
            F.sum(F.when(e & y, 1).otherwise(0)).cast("long").alias("a"),
            F.sum(F.when(e & ~y, 1).otherwise(0)).cast("long")
            .alias("b"),
            F.sum(F.when(~e & y, 1).otherwise(0)).cast("long")
            .alias("c"),
            F.sum(F.when(~e & ~y, 1).otherwise(0)).cast("long")
            .alias("d"),
        )
        .withColumn("nn", F.expr("a + b + c + d"))
        .where("nn >= 2")
        .select(
            "a", "b", "c", "d",
            F.col("a").cast("double").alias("a_d"),
            F.col("b").cast("double").alias("b_d"),
            F.col("c").cast("double").alias("c_d"),
            F.col("d").cast("double").alias("d_d"),
            F.col("nn").cast("long").alias("n_s"),
            F.col("nn").cast("double").alias("n_d"),
        )
    )
    m = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_s").cast("long").alias("n"),
        F.sum("a").cast("long").alias("a_tot"),
        F.sum(F.expr(
            "CAST(round(a_d * d_d / n_d * 1000000.0d) AS BIGINT)"
        )).cast("long").alias("ad_p"),
        F.sum(F.expr(
            "CAST(round(b_d * c_d / n_d * 1000000.0d) AS BIGINT)"
        )).cast("long").alias("bc_p"),
        F.sum(F.expr(
            "CAST(round((a_d + b_d) * (a_d + c_d) / n_d "
            "* 1000000.0d) AS BIGINT)"
        )).cast("long").alias("e_p"),
        F.sum(F.expr(
            "CAST(round((a_d + b_d) * (c_d + d_d) * (a_d + c_d) "
            "* (b_d + d_d) / (n_d * n_d * (n_d - 1.0d)) "
            "* 1000000.0d) AS BIGINT)"
        )).cast("long").alias("v_p"),
    )
    or_mh = ("((CAST(ad_p AS DOUBLE) / 1e6) "
             "/ nullif(CAST(bc_p AS DOUBLE) / 1e6, 0.0d))")
    cmh = (
        "((abs(CAST(a_tot AS DOUBLE) - CAST(e_p AS DOUBLE) / 1e6) "
        "- 0.5d) * (abs(CAST(a_tot AS DOUBLE) "
        "- CAST(e_p AS DOUBLE) / 1e6) - 0.5d) "
        "/ nullif(CAST(v_p AS DOUBLE) / 1e6, 0.0d))"
    )
    return m.select(
        F.col("k").alias("k_strata"), "n",
        F.expr(f"CAST(round(({or_mh}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("or_mh"),
        F.expr(f"CAST(round(({cmh}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("cmh_chi2"),
    )


def mood_median_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Mood's median test — do k groups share a common median?  The
    coarsest, most outlier-immune k-group location test: classify
    every value as above / not-above the GRAND median and chi-square
    the resulting 2×k table.  The robust sanity check to run alongside
    :func:`kruskal_wallis` when the tails are wild enough to distrust
    even rank sums.

    The grand median is the exact distributed interpolation quantile
    (:func:`~..operators.analytics.distributed_group_quantiles` — no
    single-task sort), broadcast back; counts are exact; the 2×k
    chi-square quantizes per-cell summands on the micro lattice and
    exact-sums them.  Returns one row: (n, k, grand_median, chi2, df).
    """
    from .analytics import distributed_group_quantiles

    base = df.where(
        f"({group_col}) IS NOT NULL AND ({value_col}) IS NOT NULL"
    ).select(
        F.expr(f"CAST(({group_col}) AS STRING)").alias("g"),
        F.expr(f"CAST(({value_col}) AS DOUBLE)").alias("v"),
        F.lit("all").alias("__all"),
    )
    med = distributed_group_quantiles(base, "__all", "v", [0.5]) \
        .select(F.col("q0").alias("med"))
    counts = (
        base.crossJoin(F.broadcast(med))
        .groupBy("g")
        .agg(
            F.sum(F.expr("CASE WHEN v > med THEN 1 ELSE 0 END"))
            .cast("long").alias("gt"),
            F.sum(F.expr("CASE WHEN v <= med THEN 1 ELSE 0 END"))
            .cast("long").alias("le"),
            F.max("med").alias("med"),
        )
    )
    tot = counts.agg(
        F.sum(F.expr("gt + le")).cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("gt").cast("long").alias("gt_tot"),
        F.sum("le").cast("long").alias("le_tot"),
        F.max("med").alias("med_t"),
    )
    cell = (
        "CAST(round((CAST({o} AS DOUBLE) - {e}) "
        "* (CAST({o} AS DOUBLE) - {e}) / nullif({e}, 0.0d) "
        "* 1000000.0d) AS BIGINT)"
    )
    e_gt = ("(CAST(gt + le AS DOUBLE) * CAST(gt_tot AS DOUBLE) "
            "/ CAST(n AS DOUBLE))")
    e_le = ("(CAST(gt + le AS DOUBLE) * CAST(le_tot AS DOUBLE) "
            "/ CAST(n AS DOUBLE))")
    chi = (
        counts.drop("med").crossJoin(F.broadcast(tot))
        .agg(
            F.sum(F.expr(cell.format(o="gt", e=e_gt))
                  + F.expr(cell.format(o="le", e=e_le)))
            .cast("long").alias("chi_p"),
            F.max("n").alias("n"), F.max("k").alias("k"),
            F.max("med_t").alias("med"),
        )
    )
    return chi.select(
        "n", "k",
        F.col("med").cast("double").alias("grand_median"),
        F.expr("CAST(chi_p AS DOUBLE) / 1e6").alias("chi2"),
        (F.col("k") - F.lit(1)).cast("long").alias("df"),
    )


def cronbach_alpha(
    df: DataFrame,
    item_cols: list[str],
    dec: str = _DEC,
) -> DataFrame:
    """Cronbach's α — internal-consistency reliability of a k-item
    scale (do the items move together enough to justify summing them
    into one score?)::

        α = k/(k−1) · (1 − Σ var(itemᵢ) / var(Σ items))

    The composite-metric sanity check before shipping any "quality =
    weighted sum of signals" column.  ONE aggregation computes every
    per-item and total exact decimal moment; α is a fixed-order double
    projection with the item variances summed in declaration order
    (text-identical in the oracle).  Returns one row: (n, k_items,
    alpha, var_total).
    """
    if len(item_cols) < 2:
        raise ValueError("need at least 2 items")
    items = [_m(c, dec) for c in item_cols]
    total = items[0]
    for it in items[1:]:
        total = total + it
    not_null = " AND ".join(f"({c}) IS NOT NULL" for c in item_cols)
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i, it in enumerate(items):
        aggs.append(F.sum(it).alias(f"s{i}"))
        aggs.append(F.sum(it * it).alias(f"q{i}"))
    aggs.append(F.sum(total).alias("st"))
    aggs.append(F.sum(total * total).alias("qt"))
    m = df.where(not_null).agg(*aggs)
    sel = ["n", F.col("n").cast("double").alias("n_d")]
    for i in range(len(items)):
        sel.append(F.expr(f"CAST(s{i} AS DOUBLE)").alias(f"s{i}_d"))
        sel.append(F.expr(f"CAST(q{i} AS DOUBLE)").alias(f"q{i}_d"))
    sel.append(F.expr("CAST(st AS DOUBLE)").alias("st_d"))
    sel.append(F.expr("CAST(qt AS DOUBLE)").alias("qt_d"))
    m = m.select(*sel)
    var_i = " + ".join(
        f"((q{i}_d - s{i}_d * s{i}_d / n_d) / (n_d - 1.0d))"
        for i in range(len(items))
    )
    var_t = "((qt_d - st_d * st_d / n_d) / (n_d - 1.0d))"
    k = float(len(items))
    alpha = (f"({k!r} / ({k!r} - 1.0d) "
             f"* (1.0d - ({var_i}) / nullif({var_t}, 0.0d)))")
    return m.select(
        "n",
        F.lit(len(items)).cast("long").alias("k_items"),
        F.expr(f"CAST(round(({alpha}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("alpha"),
        F.expr(f"CAST(round(({var_t}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("var_total"),
    )


def cusum_control(
    series: DataFrame,
    idx_col: str,
    value_col: str,
    k_slack: float = 0.0,
) -> DataFrame:
    """Two-sided CUSUM control statistic over an aggregated series —
    the classic "small persistent shift" detector that complements
    :func:`page_hinkley` (PH tracks drift from the RUNNING mean; CUSUM
    tracks drift from the series' GLOBAL level, the retrospective
    control-chart form).  The textbook recurrence ``C⁺ᵢ = max(0, C⁺ᵢ₋₁
    + xᵢ − μ₀ − k)`` is exactly a prefix sum minus its running
    minimum, so the whole statistic is two cumulative windows — no
    iteration::

        C⁺ᵢ = Pᵢ − min_{j≤i} Pⱼ,  P = Σ (x − μ₀ − k)     (and mirrored)

    Input is one row per period (the :func:`page_hinkley` series
    contract — bounded by the time domain).  Deviations quantize to
    the micro lattice against the micro-quantized global mean, so the
    cumulatives are exact integers and peak ties break on earliest
    index.  Returns one row: (n_periods, mu, cusum_pos_max,
    cusum_neg_max, pos_peak_idx, neg_peak_idx).
    """
    from pyspark.sql import Window

    pts = series.select(
        F.col(idx_col).alias("idx"),
        F.expr(f"CAST(({value_col}) AS DOUBLE)").alias("x"),
    ).where(F.col("idx").isNotNull() & F.col("x").isNotNull()) \
        .localCheckpoint(eager=False)  # referenced by mu AND staged
    # explicit exact-sum/count mean (avg() internals differ per engine)
    mu = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_periods"),
        F.expr(
            "CAST(round(CAST(sum(CAST(round(x * 1000000.0d) "
            "AS BIGINT)) AS DOUBLE) / CAST(count(1) AS DOUBLE)) "
            "AS BIGINT)"
        ).alias("mu_q"),
    )
    kq = int(round(k_slack * 1e6))
    w = Window.orderBy("idx").rowsBetween(Window.unboundedPreceding, 0)
    staged = (
        pts.crossJoin(F.broadcast(mu))
        .withColumn(
            "__dp",
            F.expr(
                "CAST(round(x * 1000000.0d) AS BIGINT) - mu_q "
                f"- CAST({kq} AS BIGINT)"
            ).cast("long"),
        )
        .withColumn(
            "__dn",
            F.expr(
                "mu_q - CAST(round(x * 1000000.0d) AS BIGINT) "
                f"- CAST({kq} AS BIGINT)"
            ).cast("long"),
        )
        .withColumn("__pp", F.sum("__dp").over(w).cast("long"))
        .withColumn("__pn", F.sum("__dn").over(w).cast("long"))
        .withColumn(
            "__cp",
            (F.col("__pp")
             - F.least(F.min("__pp").over(w), F.lit(0).cast("long")))
            .cast("long"),
        )
        .withColumn(
            "__cn",
            (F.col("__pn")
             - F.least(F.min("__pn").over(w), F.lit(0).cast("long")))
            .cast("long"),
        )
    )
    top_p = staged.orderBy(
        F.col("__cp").desc(), F.col("idx").asc()
    ).limit(1).select(
        F.col("__cp").alias("cp_max"), F.col("idx").alias("cp_idx"),
    )
    top_n = staged.orderBy(
        F.col("__cn").desc(), F.col("idx").asc()
    ).limit(1).select(
        F.col("__cn").alias("cn_max"), F.col("idx").alias("cn_idx"),
    )
    return (
        mu.crossJoin(F.broadcast(top_p)).crossJoin(F.broadcast(top_n))
        .select(
            "n_periods",
            F.expr("CAST(mu_q AS DOUBLE) / 1e6").alias("mu"),
            F.expr("CAST(greatest(cp_max, CAST(0 AS BIGINT)) "
                   "AS DOUBLE) / 1e6").alias("cusum_pos_max"),
            F.expr("CAST(greatest(cn_max, CAST(0 AS BIGINT)) "
                   "AS DOUBLE) / 1e6").alias("cusum_neg_max"),
            F.col("cp_idx").cast("long").alias("pos_peak_idx"),
            F.col("cn_idx").cast("long").alias("neg_peak_idx"),
        )
    )


def holm_adjust(
    results: DataFrame,
    p_col: str = "p_value",
    key_col: str | None = None,
    alpha: float = 0.05,
) -> DataFrame:
    """Holm–Bonferroni step-DOWN adjustment — the family-wise-error
    companion to :func:`bh_adjust` (which controls FDR): when a false
    positive is expensive (shipping a config change per significant
    segment), FWER is the right guarantee and Holm dominates plain
    Bonferroni at no cost::

        p̃_(i) = max_{j≤i} min(1, p_(j)·(m − j + 1))

    Same small-frame contract as :func:`bh_adjust` (one row per
    hypothesis — the deliberate bounded-window exception); ties break
    on ``key_col``; NULL p-values sort last and stay NULL.  Adds
    (p_rank, p_holm, significant_holm).
    """
    from pyspark.sql import Window

    key = key_col or p_col
    order = [F.col(p_col).asc_nulls_last(), F.col(key).asc()]
    w_rank = Window.orderBy(*order)
    ranked = results.withColumn(
        "__m",
        F.count(F.when(F.col(p_col).isNotNull(), 1))
        .over(w_rank.rowsBetween(Window.unboundedPreceding,
                                 Window.unboundedFollowing)),
    ).withColumn("__rk", F.row_number().over(w_rank))
    raw = (
        f"CASE WHEN {p_col} IS NULL THEN CAST(NULL AS DOUBLE) "
        f"ELSE least(1.0d, {p_col} "
        "* (CAST(__m AS DOUBLE) - CAST(__rk AS DOUBLE) + 1.0d)) END"
    )
    adjusted = ranked.withColumn("__hr", F.expr(raw)).withColumn(
        "p_holm",
        F.expr("round(max(__hr) OVER (ORDER BY __rk ASC "
               "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 8)"),
    )
    return adjusted.select(
        *[c for c in results.columns],
        F.col("__rk").alias("p_rank"),
        F.when(F.col(p_col).isNull(), F.lit(None).cast("double"))
        .otherwise(F.col("p_holm")).alias("p_holm"),
        F.when(F.col(p_col).isNull(), F.lit(None).cast("boolean"))
        .otherwise(F.col("p_holm") <= alpha).alias("significant_holm"),
    )


def breusch_pagan(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Breusch–Pagan heteroscedasticity test for the simple OLS fit —
    does the residual VARIANCE move with x?  If it does,
    :func:`ols_fit`'s standard errors are fiction and money/latency
    regressions need robust errors::

        LM = n · R²(e² ~ x)

    Stage 1 reduces the fact table to the exact-decimal OLS moment row
    (one scan, :func:`ols_fit` shape) and micro-quantizes (slope,
    intercept) IN SQL; stage 2 broadcasts that one row back, forms
    each residual on a cents lattice (e² and e²·x stay inside
    DECIMAL(38,0) where a micro lattice would overflow), and reduces
    the auxiliary regression's five exact sums.  LM and the aux R² are
    fixed-order doubles over string-rendered bigints.  Returns one
    row: (n, slope, intercept, lm_stat, r2_aux).
    """
    base = df.where(
        f"({x_col}) IS NOT NULL AND ({y_col}) IS NOT NULL"
    ).select(
        F.expr(f"CAST(({x_col}) AS DOUBLE)").alias("xd"),
        F.expr(f"CAST(({y_col}) AS DOUBLE)").alias("yd"),
        _m(x_col).alias("x"),
        _m(y_col).alias("y"),
    )
    m = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    ).select(
        "n",
        F.col("n").cast("double").alias("n_d"),
        *[F.expr(f"CAST({c} AS DOUBLE)").alias(f"{c}_d")
          for c in ("sx", "sy", "sxx", "sxy")],
    ).select(
        "n", "n_d",
        F.expr(
            "CAST(round((n_d * sxy_d - sx_d * sy_d) "
            "/ nullif(n_d * sxx_d - sx_d * sx_d, 0.0d) "
            "* 1000000.0d) AS BIGINT)"
        ).alias("b_q"),
        "sx_d", "sy_d", "sxx_d", "sxy_d",
    ).select(
        "n", "n_d", "b_q", "sx_d", "sy_d",
        F.expr(
            "CAST(round((sy_d - CAST(b_q AS DOUBLE) / 1e6 * sx_d) "
            "/ n_d * 1000000.0d) AS BIGINT)"
        ).alias("a_q"),
    )
    # stage 2: residuals on a cents lattice against the broadcast model
    aux = (
        base.crossJoin(F.broadcast(m))
        .select(
            "n", "n_d", "b_q", "a_q",
            F.expr(
                "CAST(round((yd - (CAST(a_q AS DOUBLE) / 1e6 "
                "+ CAST(b_q AS DOUBLE) / 1e6 * xd)) * 100.0d) "
                "AS BIGINT)"
            ).alias("eq"),
            F.expr("CAST(round(xd * 100.0d) AS BIGINT)").alias("xq"),
        )
        .groupBy("n", "n_d", "b_q", "a_q")
        .agg(
            F.expr("CAST(sum(CAST(xq AS DECIMAL(38,0))) "
                   "AS DECIMAL(38,0))").alias("u1"),
            F.expr("CAST(sum(CAST(xq AS DECIMAL(38,0)) * xq) "
                   "AS DECIMAL(38,0))").alias("u2"),
            F.expr("CAST(sum(CAST(eq AS DECIMAL(38,0)) * eq) "
                   "AS DECIMAL(38,0))").alias("v1"),
            F.expr("CAST(sum(CAST(eq AS DECIMAL(38,0)) * eq * eq "
                   "* eq) AS DECIMAL(38,0))").alias("v2"),
            F.expr("CAST(sum(CAST(eq AS DECIMAL(38,0)) * eq * xq) "
                   "AS DECIMAL(38,0))").alias("uv"),
        )
        .select(
            "n", "n_d", "b_q", "a_q",
            F.expr(_big_d("u1")).alias("u1_d"),
            F.expr(_big_d("u2")).alias("u2_d"),
            F.expr(_big_d("v1")).alias("v1_d"),
            F.expr(_big_d("v2")).alias("v2_d"),
            F.expr(_big_d("uv")).alias("uv_d"),
        )
    )
    r2 = (
        "((n_d * uv_d - u1_d * v1_d) * (n_d * uv_d - u1_d * v1_d) "
        "/ nullif((n_d * u2_d - u1_d * u1_d) "
        "* (n_d * v2_d - v1_d * v1_d), 0.0d))"
    )
    return aux.select(
        "n",
        F.expr("CAST(b_q AS DOUBLE) / 1e6").alias("slope"),
        F.expr("CAST(a_q AS DOUBLE) / 1e6").alias("intercept"),
        F.expr(
            f"CAST(round(n_d * ({r2}) * 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("lm_stat"),
        F.expr(f"CAST(round(({r2}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("r2_aux"),
    )


def cooks_distance(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    top_k: int = 20,
) -> DataFrame:
    """Cook's distance for the simple OLS fit — which individual rows
    BEND the regression line?  The influence audit that catches the
    one corrupted record quietly steering a revenue model::

        h_i = 1/n + (x_i − x̄)²/Sxx
        D_i = e_i²·h_i / (p·s²·(1 − h_i)²),  p = 2

    Stage 1 reduces to the exact OLS moment row (micro-quantized
    slope/intercept IN SQL — no driver state); stage 2 broadcasts it
    and scores every row with fixed-order doubles; only the top-k by
    (D desc, id asc) survive.  Returns (id, x, y, residual, leverage,
    cooks_d) — k rows.
    """
    base = df.where(
        f"({x_col}) IS NOT NULL AND ({y_col}) IS NOT NULL"
    ).select(
        F.col(id_col).alias("id"),
        F.expr(f"CAST(({x_col}) AS DOUBLE)").alias("xd"),
        F.expr(f"CAST(({y_col}) AS DOUBLE)").alias("yd"),
        _m(x_col).alias("x"),
        _m(y_col).alias("y"),
    )
    # s² comes from the quantized-(a, b) residual identity
    # SSE = Σ(y − a − bx)² expanded over the exact moments, so the
    # per-row residuals and the variance share the SAME (a_q, b_q)
    m = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    ).select(
        F.col("n").cast("double").alias("n_d"),
        *[F.expr(f"CAST({c} AS DOUBLE)").alias(f"{c}_d")
          for c in ("sx", "sy", "sxx", "sxy", "syy")],
    ).select(
        "n_d", "sx_d", "sxx_d", "sy_d", "sxy_d", "syy_d",
        F.expr(
            "CAST(round((n_d * sxy_d - sx_d * sy_d) "
            "/ nullif(n_d * sxx_d - sx_d * sx_d, 0.0d) "
            "* 1000000.0d) AS BIGINT)"
        ).alias("b_q"),
    ).select(
        "n_d", "sx_d", "sxx_d", "sy_d", "sxy_d", "syy_d", "b_q",
        F.expr(
            "CAST(round((sy_d - CAST(b_q AS DOUBLE) / 1e6 * sx_d) "
            "/ n_d * 1000000.0d) AS BIGINT)"
        ).alias("a_q"),
    ).select(
        "n_d", "sx_d", "sxx_d", "b_q", "a_q",
        # SSE = Σ(y − a − bx)² expanded over the exact moments with
        # the SAME quantized (a_q, b_q) the per-row residuals use
        F.expr(
            "((syy_d - 2.0d * (CAST(b_q AS DOUBLE) / 1e6) * sxy_d "
            "- 2.0d * (CAST(a_q AS DOUBLE) / 1e6) * sy_d "
            "+ 2.0d * (CAST(b_q AS DOUBLE) / 1e6) "
            "* (CAST(a_q AS DOUBLE) / 1e6) * sx_d "
            "+ (CAST(b_q AS DOUBLE) / 1e6) * (CAST(b_q AS DOUBLE) "
            "/ 1e6) * sxx_d "
            "+ n_d * (CAST(a_q AS DOUBLE) / 1e6) "
            "* (CAST(a_q AS DOUBLE) / 1e6)) "
            "/ (n_d - 2.0d))"
        ).alias("s2"),
    )
    h = ("(1.0d / n_d + (xd - sx_d / n_d) * (xd - sx_d / n_d) "
         "/ nullif(sxx_d - sx_d * sx_d / n_d, 0.0d))")
    e = ("(yd - (CAST(a_q AS DOUBLE) / 1e6 "
         "+ CAST(b_q AS DOUBLE) / 1e6 * xd))")
    cd = (f"(({e}) * ({e}) * ({h}) "
          f"/ nullif(2.0d * s2 * (1.0d - ({h})) * (1.0d - ({h})), "
          "0.0d))")
    return (
        base.crossJoin(F.broadcast(m))
        .select(
            "id",
            F.col("xd").alias("x"),
            F.col("yd").alias("y"),
            F.expr(f"CAST(round(({e}) * 1000000.0d) AS BIGINT) / 1e6")
            .cast("double").alias("residual"),
            F.expr(f"CAST(round(({h}) * 1000000000.0d) AS BIGINT) "
                   "/ 1e9")
            .cast("double").alias("leverage"),
            F.expr(f"CAST(round(({cd}) * 1000000000.0d) AS BIGINT) "
                   "/ 1e9")
            .cast("double").alias("cooks_d"),
        )
        .orderBy(F.col("cooks_d").desc(), F.col("id").asc())
        .limit(top_k)
    )


def vif_report(
    df: DataFrame,
    cols: list[str],
    dec: str = _DEC,
) -> DataFrame:
    """Variance-inflation factors for a THREE-feature design — the
    multicollinearity check before trusting any multi-feature
    regression's coefficients: VIF_j = 1/(1 − R²_j) where R²_j
    regresses feature j on the other two (closed form from the three
    pairwise correlations — no matrix solve)::

        R²_1 = (r₁₂² + r₁₃² − 2·r₁₂·r₁₃·r₂₃) / (1 − r₂₃²)

    ONE aggregation to the nine exact decimal cross-moments (the
    :func:`partial_correlation` shape); the three VIFs are a fixed
    projection.  Returns (feature, r_squared, vif) — 3 rows ordered by
    feature.
    """
    if len(cols) != 3:
        raise ValueError("vif_report is specified for exactly 3 cols")
    c1, c2, c3 = cols
    x, y, z = _m(c1, dec), _m(c2, dec), _m(c3, dec)
    m = df.where(
        " AND ".join(f"({c}) IS NOT NULL" for c in cols)
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(z).alias("sz"),
        F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
        F.sum(z * z).alias("szz"),
        F.sum(x * y).alias("sxy"), F.sum(x * z).alias("sxz"),
        F.sum(y * z).alias("syz"),
    ).select(
        "n",
        F.col("n").cast("double").alias("n_d"),
        *[F.expr(f"CAST({c} AS DOUBLE)").alias(f"{c}_d")
          for c in ("sx", "sy", "sz", "sxx", "syy", "szz",
                    "sxy", "sxz", "syz")],
    )

    def _r(sa, sb, sab, saa, sbb):
        return (
            f"((n_d * {sab} - {sa} * {sb}) "
            f"/ nullif(sqrt(n_d * {saa} - {sa} * {sa}) "
            f"* sqrt(n_d * {sbb} - {sb} * {sb}), 0.0d))"
        )

    r12 = _r("sx_d", "sy_d", "sxy_d", "sxx_d", "syy_d")
    r13 = _r("sx_d", "sz_d", "sxz_d", "sxx_d", "szz_d")
    r23 = _r("sy_d", "sz_d", "syz_d", "syy_d", "szz_d")

    def _r2(ra, rb, rc):
        # feature regressed on the other two: ra/rb link it to them,
        # rc links the two regressors to each other
        return (
            f"((({ra}) * ({ra}) + ({rb}) * ({rb}) "
            f"- 2.0d * ({ra}) * ({rb}) * ({rc})) "
            f"/ nullif(1.0d - ({rc}) * ({rc}), 0.0d))"
        )

    parts = [
        (c1, _r2(r12, r13, r23)),
        (c2, _r2(r12, r23, r13)),
        (c3, _r2(r13, r23, r12)),
    ]
    frames = []
    for name, r2 in parts:
        frames.append(m.select(
            F.lit(name).alias("feature"),
            F.expr(
                f"CAST(round(({r2}) * 1000000.0d) AS BIGINT) / 1e6"
            ).cast("double").alias("r_squared"),
            F.expr(
                f"CAST(round((1.0d / nullif(1.0d - ({r2}), 0.0d)) "
                "* 1000000.0d) AS BIGINT) / 1e6"
            ).cast("double").alias("vif"),
        ))
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("feature")


def ljung_box(
    series: DataFrame,
    idx_col: str,
    value_col: str,
    max_lag: int = 10,
) -> DataFrame:
    """Ljung–Box portmanteau test over an aggregated series — is there
    ANY autocorrelation left in the first m lags?::

        Q_m = n(n+2) Σ_{k≤m} r_k²/(n−k)

    The residual-whiteness gate after a seasonal fit, and the formal
    companion to the raw :func:`autocorrelation` profile.  Input is
    one row per period (the :func:`page_hinkley` series contract).
    Values quantize to the micro lattice; each lag's centered
    cross-product reduces to EXACT integers via the n²-scaled
    expansion ``n²·Σxy − n·S·(H+T) + (n−k)·S²`` (DECIMAL(38,0),
    BIGINT×decimal sub-products only), so every r_k is a ratio of two
    exactly-summed integers — no pre-centering float pass.  The lag
    join is ONE range self-join grouped by offset.  Returns one row
    per lag: (lag, r_k, q_stat, df) ordered by lag.
    """
    from pyspark.sql import Window

    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    pts = series.select(
        F.col(idx_col).alias("idx"),
        F.expr(f"CAST(round(CAST(({value_col}) AS DOUBLE) "
               "* 1000000.0d) AS BIGINT)").alias("xq"),
    ).where(F.col("idx").isNotNull() & F.col("xq").isNotNull())
    # densify: the series contract allows calendar gaps; ranks make
    # lag-k mean "k periods later" (bounded global window — the series
    # frame is aggregated, never the fact table)
    pts = pts.withColumn(
        "rn", F.row_number().over(Window.orderBy("idx")).cast("long")
    )
    tot = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("CAST(sum(xq) AS BIGINT)").alias("s"),
        F.expr("CAST(sum(CAST(xq AS DECIMAL(38,0)) * xq) "
               "AS DECIMAL(38,0))").alias("q2"),
    )
    a, b = pts.alias("a"), pts.alias("b")
    lags = (
        a.join(
            b,
            (F.col("b.rn") - F.col("a.rn") >= 1)
            & (F.col("b.rn") - F.col("a.rn") <= max_lag),
        )
        .groupBy((F.col("b.rn") - F.col("a.rn")).alias("lag"))
        .agg(
            F.expr("CAST(sum(CAST(a.xq AS DECIMAL(38,0)) * b.xq) "
                   "AS DECIMAL(38,0))").alias("c_k"),
            F.expr("CAST(sum(a.xq) AS BIGINT)").alias("h_k"),
            F.expr("CAST(sum(b.xq) AS BIGINT)").alias("t_k"),
        )
    )
    big = (
        lags.crossJoin(F.broadcast(tot))
        .select(
            "lag", "n",
            F.expr(
                "CAST(CAST(n * n AS BIGINT) * c_k "
                "- CAST(n * s AS DECIMAL(38,0)) * (h_k + t_k) "
                "+ CAST(s AS DECIMAL(38,0)) * s * (n - lag) "
                "AS DECIMAL(38,0))"
            ).alias("num"),
            F.expr(
                "CAST(CAST(n * n AS BIGINT) * q2 "
                "- CAST(n AS DECIMAL(38,0)) * s * s "
                "AS DECIMAL(38,0))"
            ).alias("den"),
        )
        .select(
            "lag", "n",
            F.expr(
                f"({_big_d('num')} / nullif({_big_d('den')}, 0.0d))"
            ).alias("r_k"),
        )
        .withColumn(
            "__sq_nano",
            F.expr(
                "CAST(round(r_k * r_k "
                "/ (CAST(n AS DOUBLE) - CAST(lag AS DOUBLE)) "
                "* 1000000000.0d) AS BIGINT)"
            ).cast("long"),
        )
        .withColumn(
            "__cum",
            F.sum("__sq_nano").over(
                Window.orderBy("lag")
                .rowsBetween(Window.unboundedPreceding, 0)
            ).cast("long"),
        )
    )
    return big.select(
        F.col("lag").cast("long").alias("lag"),
        F.expr("CAST(round(r_k * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("r_k"),
        F.expr(
            "CAST(round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) "
            "+ 2.0d) * (CAST(__cum AS DOUBLE) / 1e9) * 1000000.0d) "
            "AS BIGINT) / 1e6"
        ).cast("double").alias("q_stat"),
        F.col("lag").cast("long").alias("df"),
    ).orderBy("lag")


def permutation_test_mean(
    df: DataFrame,
    value_col: str,
    group_expr: str,
    id_col: str,
    n_perm: int = 48,
    salt: str = "perm",
    dec: str = _DEC,
) -> DataFrame:
    """Deterministic permutation (randomization) test for a two-group
    mean difference — the assumption-free alternative to
    :func:`welch_t_test` when distributions are too wild for t: how
    often does a RANDOM relabeling beat the observed gap?  RNG is the
    repo's md5 discipline, amortized harder than the bootstrap's
    16-bit lanes because a permutation needs only a SIGN BIT per
    replicate: ONE md5 per row yields 128 independent bits (one per
    digest bit, 4 per hex char), so up to 128 replicates cost a single
    hash per row — measured 5.7× faster than the lane scheme at B=48
    on sf0.1 orders.  Every engine replays identical permutations.

    ONE scan: each row emits its n_perm assignment bits as one array;
    a single aggregation reduces the observed group sums AND every
    replicate's (Σ₁, n₁) — map-side combined, no row explosion.  Each
    replicate's |mean gap| compares against the observed gap on the
    micro lattice (both sides quantized — no boundary jitter); the
    p-value uses the add-one permutation convention.  Returns one row:
    (n, obs_diff, n_extreme, n_perm, p_value).
    """
    if not 1 <= n_perm <= 48:
        raise ValueError("n_perm must be in 1..48 (one 12-hex word)")
    # parse the digest's first 12 hex chars into ONE 48-bit word and
    # shift bits out of it — a per-bit conv(substring(...)) ladder
    # measured 6× slower (48 string parses per row vs one); bit b is
    # bit (3 - b % 4) of hex char b DIV 4, i.e. word bit 47 - b
    bits = (
        f"transform(sequence(0, {n_perm - 1}), b -> "
        "CAST(shiftright(w, 47 - b) & 1 AS INT))"
    )
    # scale-4 BIGINT lattice (== the DECIMAL(12,4) values exactly, but
    # long adds: the 48 replicate sums are (B+3)·n additions — decimal
    # accumulation measured ~4× slower at B = 48 on sf0.1)
    staged = df.where(f"({value_col}) IS NOT NULL").select(
        F.expr(
            "transform(array(CAST(conv(substring(md5(concat("
            f"CAST({id_col} AS STRING), ':{salt}')), 1, 12), 16, 10) "
            f"AS BIGINT)), w -> {bits})[0]"
        ).alias("__bits"),
        F.expr(
            f"CAST(round(CAST(({value_col}) AS DOUBLE) * 10000.0d) "
            "AS BIGINT)"
        ).alias("__v"),
        F.expr(f"coalesce(CAST(({group_expr}) AS BOOLEAN), false)")
        .alias("__g"),
    )
    # observed totals: one scan. Per-replicate sums: a posexplode of
    # the bit array into (replicate, bit) rows and ONE map-side-
    # combined groupBy — NOT 2B aggregate columns over the array,
    # which CollapseProject punishes by re-inlining the digest
    # extraction into every aggregate expression (measured 96×
    # recompute at B = 48).
    tot = staged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__v").cast("long").alias("sv"),
        F.sum(F.when(F.col("__g"), F.col("__v"))).cast("long")
        .alias("sg"),
        F.sum(F.when(F.col("__g"), 1).otherwise(0)).cast("long")
        .alias("ng"),
    ).select(
        "n", "ng",
        F.col("n").cast("double").alias("n_d"),
        F.col("ng").cast("double").alias("ng_d"),
        F.expr("CAST(sv AS DOUBLE) / 1e4").alias("sv_d"),
        F.expr("CAST(sg AS DOUBLE) / 1e4").alias("sg_d"),
    )
    # repartition ahead of the B× explode: the generator+partial-agg
    # is the hot loop and must spread across cores even when the scan
    # arrives as one file split (measured 8.8 s single-task → 0.9 s)
    rep = (
        staged.repartition(
            staged.sparkSession.sparkContext.defaultParallelism
        )
        .select(
            F.posexplode("__bits").alias("b", "bit"), F.col("__v")
        )
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("bit") == 1, F.col("__v")))
            .cast("long").alias("sb"),
            F.sum(F.col("bit").cast("long")).cast("long").alias("cb"),
        )
        .select(
            F.expr("CAST(sb AS DOUBLE) / 1e4").alias("sb_d"),
            F.col("cb").cast("double").alias("cb_d"),
        )
    )
    obs = (
        "(sg_d / nullif(ng_d, 0.0d) "
        "- (sv_d - sg_d) / nullif(n_d - ng_d, 0.0d))"
    )
    obs_q = f"CAST(round(abs({obs}) * 1000000.0d) AS BIGINT)"
    d = (
        "(sb_d / nullif(cb_d, 0.0d) "
        "- (sv_d - sb_d) / nullif(n_d - cb_d, 0.0d))"
    )
    ext = (
        rep.crossJoin(F.broadcast(tot))
        .agg(F.sum(F.expr(
            f"CASE WHEN CAST(round(abs({d}) * 1000000.0d) AS BIGINT) "
            f">= {obs_q} THEN 1 ELSE 0 END"
        )).cast("long").alias("n_extreme"))
    )
    return tot.crossJoin(F.broadcast(ext)).select(
        "n",
        F.expr(f"CAST(round(({obs}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("obs_diff"),
        "n_extreme",
        F.lit(n_perm).cast("long").alias("n_perm"),
        F.expr(
            f"CAST(round((CAST(n_extreme AS DOUBLE) + 1.0d) "
            f"/ (CAST({n_perm} AS DOUBLE) + 1.0d) * 1000000.0d) "
            "AS BIGINT) / 1e6"
        ).cast("double").alias("p_value"),
    )


def hurst_exponent(
    series: DataFrame,
    idx_col: str,
    value_col: str,
    block_sizes: tuple = (8, 16, 32, 64),
) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis over an
    aggregated series — long-range dependence in one number: H ≈ 0.5
    is memoryless, H > 0.5 persistent (trends feed themselves, common
    in demand series), H < 0.5 mean-reverting.  The check that decides
    whether a simple seasonal-naive forecast can work at all.

    For each block size w the ranked series splits into ⌊n/w⌋ full
    blocks; inside a block the cumulative mean-deviations Z_t scale to
    EXACT integers via ``w·Z_t = w·P_t − t·S_b`` (P = running sum, S_b
    = block sum — micro lattice, no float pre-centering), so the range
    R is exact; S is the block's population σ from exact moments.
    Per-w mean R/S quantizes block summands micro and exact-sums
    (partition-order free); H is the OLS slope of ln(mean R/S) on
    ln(w) over the |block_sizes| model points.  All per-block windows
    are partitioned by block id — bounded by w, never the series.
    Returns one row per w: (block_w, n_blocks, mean_rs, hurst) with
    the slope repeated.

    CONSTRUCTION COST (billed as construction-eager in the bench):
    the global row_number order pin is an eager localCheckpoint — one
    series scan at construction; every per-w pass then reads the pin
    instead of re-sorting.  Not a cardinality probe; there is nothing
    a caller could pre-declare to skip it.
    """
    from pyspark.sql import Window

    ws = sorted(set(int(w) for w in block_sizes))
    if any(w < 4 for w in ws) or len(ws) < 2:
        raise ValueError("need >= 2 block sizes, each >= 4")
    pts = series.select(
        F.col(idx_col).alias("idx"),
        F.expr(f"CAST(round(CAST(({value_col}) AS DOUBLE) "
               "* 1000000.0d) AS BIGINT)").alias("xq"),
    ).where(F.col("idx").isNotNull() & F.col("xq").isNotNull())
    pts = pts.withColumn(
        "rn",
        (F.row_number().over(Window.orderBy("idx")) - 1).cast("long"),
    ).localCheckpoint(eager=True)
    per_w = []
    for w in ws:
        blk = (
            pts.withColumn("b", F.expr(f"CAST(rn DIV {w} AS BIGINT)"))
            .withColumn("t", F.expr(f"CAST(rn % {w} AS BIGINT) + 1"))
        )
        sizes = blk.groupBy("b").agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("xq").cast("long").alias("sb"),
            F.expr("CAST(sum(CAST(xq AS DECIMAL(38,0)) * xq) "
                   "AS DECIMAL(38,0))").alias("qb"),
        ).where(F.col("cnt") == w)
        wjoin = blk.join(sizes, "b")
        zw = wjoin.withColumn(
            "pt",
            F.sum("xq").over(
                Window.partitionBy("b").orderBy("t")
                .rowsBetween(Window.unboundedPreceding, 0)
            ).cast("long"),
        ).withColumn(
            "zw",
            F.expr(f"CAST({w} AS BIGINT) * pt - t * sb").cast("long"),
        )
        blocks = zw.groupBy("b").agg(
            F.max("zw").alias("zmax"),
            F.min("zw").alias("zmin"),
            F.max("sb").alias("sb"),
            F.max("qb").alias("qb"),
        ).select(
            "b",
            # R = (max wZ − min wZ)/w, back to value units (/1e6)
            F.expr(
                f"(CAST(zmax - zmin AS DOUBLE) / {float(w)!r} / 1e6)"
            ).alias("r_b"),
            # population σ from exact moments, value units
            F.expr(
                f"(sqrt(({_big_d('qb')} / {float(w)!r} "
                f"- (CAST(sb AS DOUBLE) / {float(w)!r}) "
                f"* (CAST(sb AS DOUBLE) / {float(w)!r})) ) / 1e6)"
            ).alias("s_b"),
        ).where(F.col("s_b") > 0.0)
        per_w.append(
            blocks.agg(
                F.count(F.lit(1)).cast("long").alias("n_blocks"),
                F.sum(F.expr(
                    "CAST(round(r_b / s_b * 1000000.0d) AS BIGINT)"
                )).cast("long").alias("rs_p"),
            ).select(
                F.lit(w).cast("long").alias("block_w"),
                "n_blocks",
                F.expr(
                    "CAST(round(CAST(rs_p AS DOUBLE) / 1e6 "
                    "/ CAST(n_blocks AS DOUBLE) * 1000000.0d) "
                    "AS BIGINT) / 1e6"
                ).cast("double").alias("mean_rs"),
            )
        )
    rs = per_w[0]
    for p in per_w[1:]:
        rs = rs.unionByName(p)
    # the model frame is |block_sizes| rows — exact micro-lattice sums
    # make the tiny OLS partition-order free
    pts4 = rs.select(
        "block_w", "n_blocks", "mean_rs",
        F.expr(
            "CAST(round(ln(CAST(block_w AS DOUBLE)) * 1000000.0d) "
            "AS BIGINT)"
        ).alias("lx_q"),
        F.expr(
            "CAST(round(ln(mean_rs) * 1000000.0d) AS BIGINT)"
        ).alias("ly_q"),
    ).where(F.col("mean_rs") > 0.0)
    fit = pts4.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("lx_q").cast("long").alias("sx"),
        F.sum("ly_q").cast("long").alias("sy"),
        F.sum(F.expr("lx_q * lx_q")).cast("long").alias("sxx"),
        F.sum(F.expr("lx_q * ly_q")).cast("long").alias("sxy"),
    ).select(
        F.expr(
            "CAST(round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) "
            "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) "
            "/ nullif(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) "
            "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0d) "
            "* 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("hurst"),
    )
    return rs.crossJoin(F.broadcast(fit)).select(
        "block_w", "n_blocks", "mean_rs", "hurst",
    ).orderBy("block_w")


def granger_causality(
    pairs: DataFrame,
    y_col: str,
    ylag_col: str,
    xlag_col: str,
) -> DataFrame:
    """Lag-1 Granger causality — does yesterday's X improve today's Y
    forecast beyond yesterday's Y?::

        restricted:    y_t ~ 1 + y_{t−1}           (RSS_r)
        unrestricted:  y_t ~ 1 + y_{t−1} + x_{t−1} (RSS_u)
        F = (RSS_r − RSS_u) / (RSS_u / (n − 3))

    The cross-series dependency screen for metric dashboards (does
    signup volume lead purchase volume?).  Input is the LAGGED pair
    frame (one row per period with y, y_lag, x_lag — built by the
    caller's bounded series window).  ONE aggregation to the nine
    exact micro-lattice integer cross-moments in DECIMAL(38,0); the
    3×3 normal equations solve by Cramer's rule as one fixed-order
    double projection (string-rendered sums), no iteration.  Returns
    one row: (n, f_stat, rss_restricted, rss_unrestricted).
    """
    q = "CAST(round(CAST(({c}) AS DOUBLE) * 1000000.0d) AS BIGINT)"
    base = pairs.where(
        f"({y_col}) IS NOT NULL AND ({ylag_col}) IS NOT NULL "
        f"AND ({xlag_col}) IS NOT NULL"
    ).select(
        F.expr(q.format(c=y_col)).alias("yq"),
        F.expr(q.format(c=ylag_col)).alias("aq"),
        F.expr(q.format(c=xlag_col)).alias("bq"),
    )
    d38 = "CAST(sum(CAST({a} AS DECIMAL(38,0)) * {b}) AS DECIMAL(38,0))"
    m = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("CAST(sum(yq) AS BIGINT)").alias("sy"),
        F.expr("CAST(sum(aq) AS BIGINT)").alias("sa"),
        F.expr("CAST(sum(bq) AS BIGINT)").alias("sb"),
        F.expr(d38.format(a="yq", b="yq")).alias("syy"),
        F.expr(d38.format(a="aq", b="aq")).alias("saa"),
        F.expr(d38.format(a="bq", b="bq")).alias("sbb"),
        F.expr(d38.format(a="yq", b="aq")).alias("sya"),
        F.expr(d38.format(a="yq", b="bq")).alias("syb"),
        F.expr(d38.format(a="aq", b="bq")).alias("sab"),
    ).select(
        "n",
        F.col("n").cast("double").alias("n_d"),
        F.expr("CAST(sy AS DOUBLE) / 1e6").alias("sy_d"),
        F.expr("CAST(sa AS DOUBLE) / 1e6").alias("sa_d"),
        F.expr("CAST(sb AS DOUBLE) / 1e6").alias("sb_d"),
        F.expr(f"{_big_d('syy')} / 1e12").alias("syy_d"),
        F.expr(f"{_big_d('saa')} / 1e12").alias("saa_d"),
        F.expr(f"{_big_d('sbb')} / 1e12").alias("sbb_d"),
        F.expr(f"{_big_d('sya')} / 1e12").alias("sya_d"),
        F.expr(f"{_big_d('syb')} / 1e12").alias("syb_d"),
        F.expr(f"{_big_d('sab')} / 1e12").alias("sab_d"),
    )
    # restricted 2-param closed form
    b_r = ("((n_d * sya_d - sa_d * sy_d) "
           "/ nullif(n_d * saa_d - sa_d * sa_d, 0.0d))")
    rss_r = (
        f"(syy_d - sy_d * sy_d / n_d "
        f"- ({b_r}) * ({b_r}) "
        "* (saa_d - sa_d * sa_d / n_d))"
    )
    # unrestricted 3×3 via Cramer on the normal equations
    det = (
        "(n_d * (saa_d * sbb_d - sab_d * sab_d) "
        "- sa_d * (sa_d * sbb_d - sab_d * sb_d) "
        "+ sb_d * (sa_d * sab_d - saa_d * sb_d))"
    )
    det0 = (
        "(sy_d * (saa_d * sbb_d - sab_d * sab_d) "
        "- sa_d * (sya_d * sbb_d - sab_d * syb_d) "
        "+ sb_d * (sya_d * sab_d - saa_d * syb_d))"
    )
    det1 = (
        "(n_d * (sya_d * sbb_d - sab_d * syb_d) "
        "- sy_d * (sa_d * sbb_d - sab_d * sb_d) "
        "+ sb_d * (sa_d * syb_d - sya_d * sb_d))"
    )
    det2 = (
        "(n_d * (saa_d * syb_d - sya_d * sab_d) "
        "- sa_d * (sa_d * syb_d - sya_d * sb_d) "
        "+ sy_d * (sa_d * sab_d - saa_d * sb_d))"
    )
    rss_u = (
        f"(syy_d - (({det0}) / nullif({det}, 0.0d)) * sy_d "
        f"- (({det1}) / nullif({det}, 0.0d)) * sya_d "
        f"- (({det2}) / nullif({det}, 0.0d)) * syb_d)"
    )
    f_stat = (
        f"((({rss_r}) - ({rss_u})) "
        f"/ nullif(({rss_u}) / (n_d - 3.0d), 0.0d))"
    )
    # round(x, 6), not the micro-BIGINT lattice: a near-perfect fit
    # legitimately sends F → 1e15+, which overflows round(F·1e6)
    return m.select(
        "n",
        F.expr(f"round(({f_stat}), 6)").cast("double").alias("f_stat"),
        F.expr(f"round(({rss_r}), 6)").cast("double")
        .alias("rss_restricted"),
        F.expr(f"round(({rss_u}), 6)").cast("double")
        .alias("rss_unrestricted"),
    )


def lin_ccc(
    df: DataFrame,
    x_col: str,
    y_col: str,
    dec: str = _DEC,
) -> DataFrame:
    """Lin's concordance correlation coefficient — agreement between
    two MEASUREMENTS of the same quantity (new scorer vs old scorer,
    cheap sensor vs reference), which Pearson r alone overstates: r
    ignores scale and location bias, CCC penalizes both::

        CCC = 2·s_xy / (s_x² + s_y² + (x̄ − ȳ)²)

    ONE aggregation to exact decimal cross-moments (population-n
    denominators, Lin 1989); CCC and r are one fixed-order double
    projection, micro-quantized.  Returns one row: (n, pearson_r,
    ccc, location_shift).
    """
    x, y = _m(x_col, dec), _m(y_col, dec)
    m = df.where(
        f"({x_col}) IS NOT NULL AND ({y_col}) IS NOT NULL"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    ).select(
        "n",
        F.col("n").cast("double").alias("n_d"),
        *[F.expr(f"CAST({c} AS DOUBLE)").alias(f"{c}_d")
          for c in ("sx", "sy", "sxx", "syy", "sxy")],
    )
    vx = "(sxx_d / n_d - (sx_d / n_d) * (sx_d / n_d))"
    vy = "(syy_d / n_d - (sy_d / n_d) * (sy_d / n_d))"
    cxy = "(sxy_d / n_d - (sx_d / n_d) * (sy_d / n_d))"
    dm = "((sx_d / n_d) - (sy_d / n_d))"
    r = f"(({cxy}) / nullif(sqrt({vx}) * sqrt({vy}), 0.0d))"
    ccc = (f"(2.0d * ({cxy}) "
           f"/ nullif(({vx}) + ({vy}) + ({dm}) * ({dm}), 0.0d))")
    return m.select(
        "n",
        F.expr(f"CAST(round(({r}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("pearson_r"),
        F.expr(f"CAST(round(({ccc}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("ccc"),
        F.expr(f"CAST(round(({dm}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("location_shift"),
    )


def bland_altman(
    df: DataFrame,
    x_col: str,
    y_col: str,
    z_crit: float = 1.959964,
) -> DataFrame:
    """Bland–Altman limits of agreement — the method-comparison plot's
    numbers: the mean of the paired differences, its SD, the ±z·SD
    limits, and how many pairs fall OUTSIDE them (the rows a "the two
    scorers agree" claim has to explain).  The clinical-statistics
    standard that transfers directly to comparing two quality scorers
    over one corpus.

    Stage 1 reduces the differences to exact decimal moments and
    micro-quantizes (mean, sd) IN SQL; stage 2 broadcasts that row and
    counts pairs outside [lo, hi] with exact integer comparisons on
    the micro lattice — deterministic at the boundary.  Returns one
    row: (n, mean_diff, sd_diff, loa_lo, loa_hi, n_outside,
    pct_outside).
    """
    base = df.where(
        f"({x_col}) IS NOT NULL AND ({y_col}) IS NOT NULL"
    ).select(
        F.expr(
            f"CAST(round((CAST(({x_col}) AS DOUBLE) "
            f"- CAST(({y_col}) AS DOUBLE)) * 1000000.0d) AS BIGINT)"
        ).alias("dq"),
    )
    m = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("CAST(sum(dq) AS BIGINT)").alias("s"),
        F.expr("CAST(sum(CAST(dq AS DECIMAL(38,0)) * dq) "
               "AS DECIMAL(38,0))").alias("q"),
    ).select(
        "n",
        F.col("n").cast("double").alias("n_d"),
        F.expr("CAST(s AS DOUBLE)").alias("s_d"),
        F.expr(_big_d("q")).alias("q_d"),
    ).select(
        "n", "n_d",
        F.expr("CAST(round(s_d / n_d) AS BIGINT)").alias("mean_q"),
        F.expr(
            "CAST(round(sqrt((q_d - s_d * s_d / n_d) "
            "/ nullif(n_d - 1.0d, 0.0d))) AS BIGINT)"
        ).alias("sd_q"),
    ).select(
        "n", "n_d", "mean_q", "sd_q",
        F.expr(
            f"mean_q - CAST(round({z_crit!r} "
            "* CAST(sd_q AS DOUBLE)) AS BIGINT)"
        ).alias("lo_q"),
        F.expr(
            f"mean_q + CAST(round({z_crit!r} "
            "* CAST(sd_q AS DOUBLE)) AS BIGINT)"
        ).alias("hi_q"),
    )
    counts = (
        base.crossJoin(F.broadcast(m))
        .agg(
            F.sum(F.expr(
                "CASE WHEN dq < lo_q OR dq > hi_q THEN 1 ELSE 0 END"
            )).cast("long").alias("n_outside"),
            F.max("n").alias("n"), F.max("n_d").alias("n_d"),
            F.max("mean_q").alias("mean_q"),
            F.max("sd_q").alias("sd_q"),
            F.max("lo_q").alias("lo_q"), F.max("hi_q").alias("hi_q"),
        )
    )
    return counts.select(
        "n",
        F.expr("CAST(mean_q AS DOUBLE) / 1e6").alias("mean_diff"),
        F.expr("CAST(sd_q AS DOUBLE) / 1e6").alias("sd_diff"),
        F.expr("CAST(lo_q AS DOUBLE) / 1e6").alias("loa_lo"),
        F.expr("CAST(hi_q AS DOUBLE) / 1e6").alias("loa_hi"),
        "n_outside",
        F.expr(
            "CAST(round(CAST(n_outside AS DOUBLE) / n_d "
            "* 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("pct_outside"),
    )


# public X̄-R control-chart constants (subgroup size → A2, D3, D4;
# Montgomery, "Statistical Quality Control", appendix VI)
_XBAR_A2 = {2: 1.880, 3: 1.023, 4: 0.729, 5: 0.577, 6: 0.483,
            7: 0.419, 8: 0.373, 9: 0.337, 10: 0.308}
_XBAR_D3 = {2: 0.0, 3: 0.0, 4: 0.0, 5: 0.0, 6: 0.0,
            7: 0.076, 8: 0.136, 9: 0.184, 10: 0.223}
_XBAR_D4 = {2: 3.267, 3: 2.574, 4: 2.282, 5: 2.114, 6: 2.004,
            7: 1.924, 8: 1.864, 9: 1.816, 10: 1.777}


def shewhart_xbar_r(
    df: DataFrame,
    subgroup_col: str,
    value_col: str,
    subgroup_size: int,
) -> DataFrame:
    """Shewhart X̄-R control chart over fixed-size subgroups — the
    classic SPC pair: the X̄ chart flags level shifts, the R chart
    flags dispersion blow-ups, with limits from the published A2/D3/D4
    range-based constants (subgroup sizes 2-10).  Only COMPLETE
    subgroups chart (the standard practice — a short subgroup has a
    different sampling distribution).

    One aggregation to per-subgroup exact micro sums (mean, min, max);
    center lines reduce with micro-quantized summand sums (partition-
    order free); limits and out-of-control flags are fixed-order
    doubles.  Returns one row per complete subgroup: (subgroup, n,
    xbar, r, xbar_ucl, xbar_lcl, r_ucl, r_lcl, ooc_mean, ooc_range)
    ordered by subgroup.
    """
    if subgroup_size not in _XBAR_A2:
        raise ValueError("subgroup_size must be in 2..10")
    a2 = _XBAR_A2[subgroup_size]
    d3 = _XBAR_D3[subgroup_size]
    d4 = _XBAR_D4[subgroup_size]
    g = (
        df.where(f"({subgroup_col}) IS NOT NULL "
                 f"AND ({value_col}) IS NOT NULL")
        .groupBy(F.expr(f"CAST(({subgroup_col}) AS STRING)")
                 .alias("subgroup"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.expr(
                f"CAST(sum(CAST(round(CAST(({value_col}) AS DOUBLE) "
                "* 1000000.0d) AS BIGINT)) AS BIGINT)"
            ).alias("s_q"),
            F.expr(
                f"CAST(min(CAST(round(CAST(({value_col}) AS DOUBLE) "
                "* 1000000.0d) AS BIGINT)) AS BIGINT)"
            ).alias("mn_q"),
            F.expr(
                f"CAST(max(CAST(round(CAST(({value_col}) AS DOUBLE) "
                "* 1000000.0d) AS BIGINT)) AS BIGINT)"
            ).alias("mx_q"),
        )
        .where(F.col("n") == subgroup_size)
        .select(
            "subgroup", "n",
            F.expr(
                "CAST(round(CAST(s_q AS DOUBLE) / CAST(n AS DOUBLE)) "
                "AS BIGINT)"
            ).alias("xbar_q"),
            F.expr("CAST(mx_q - mn_q AS BIGINT)").alias("r_q"),
        )
    )
    center = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.expr("CAST(sum(xbar_q) AS BIGINT)").alias("sx_q"),
        F.expr("CAST(sum(r_q) AS BIGINT)").alias("sr_q"),
    ).select(
        F.expr(
            "CAST(round(CAST(sx_q AS DOUBLE) / CAST(k AS DOUBLE)) "
            "AS BIGINT)"
        ).alias("gx_q"),
        F.expr(
            "CAST(round(CAST(sr_q AS DOUBLE) / CAST(k AS DOUBLE)) "
            "AS BIGINT)"
        ).alias("rb_q"),
    )
    lim = (
        f"(CAST(gx_q AS DOUBLE) {{sign}} {a2!r} "
        "* CAST(rb_q AS DOUBLE)) / 1e6"
    )
    return (
        g.crossJoin(F.broadcast(center))
        .select(
            "subgroup", "n",
            F.expr("CAST(xbar_q AS DOUBLE) / 1e6").alias("xbar"),
            F.expr("CAST(r_q AS DOUBLE) / 1e6").alias("r"),
            F.expr(
                f"CAST(round({lim.format(sign='+')} * 1000000.0d) "
                "AS BIGINT) / 1e6"
            ).cast("double").alias("xbar_ucl"),
            F.expr(
                f"CAST(round({lim.format(sign='-')} * 1000000.0d) "
                "AS BIGINT) / 1e6"
            ).cast("double").alias("xbar_lcl"),
            F.expr(
                f"CAST(round({d4!r} * CAST(rb_q AS DOUBLE) / 1e6 "
                "* 1000000.0d) AS BIGINT) / 1e6"
            ).cast("double").alias("r_ucl"),
            F.expr(
                f"CAST(round({d3!r} * CAST(rb_q AS DOUBLE) / 1e6 "
                "* 1000000.0d) AS BIGINT) / 1e6"
            ).cast("double").alias("r_lcl"),
        )
        .withColumn(
            "ooc_mean",
            F.expr("xbar > xbar_ucl OR xbar < xbar_lcl"),
        )
        .withColumn(
            "ooc_range",
            F.expr("r > r_ucl OR r < r_lcl"),
        )
        .orderBy("subgroup")
    )


def bollinger_bands(
    series: DataFrame,
    idx_col: str,
    value_col: str,
    window: int = 20,
    k: float = 2.0,
) -> DataFrame:
    """Bollinger bands over an aggregated series — the rolling-window
    mean ± k·σ envelope, with breach flags: the continuous-monitoring
    sibling of the fixed-limit :func:`shewhart_xbar_r` (limits adapt
    to the local level, so slow drifts don't poison them).

    Input is one row per period (the :func:`page_hinkley` series
    contract — the ordered window runs over the bounded aggregated
    frame, never the corpus).  Micro-lattice integer window sums make
    mean and σ exact-deterministic; only FULL windows emit.  Returns
    (idx, value, sma, band_lo, band_hi, breach) ordered by idx.
    """
    from pyspark.sql import Window

    if window < 2:
        raise ValueError("window must be >= 2")
    pts = series.select(
        F.col(idx_col).alias("idx"),
        F.expr(f"CAST(({value_col}) AS DOUBLE)").alias("v"),
        F.expr(f"CAST(round(CAST(({value_col}) AS DOUBLE) "
               "* 1000000.0d) AS BIGINT)").alias("xq"),
    ).where(F.col("idx").isNotNull() & F.col("xq").isNotNull())
    w = Window.orderBy("idx").rowsBetween(-(window - 1), 0)
    staged = (
        pts
        .withColumn("__cnt", F.count(F.lit(1)).over(w).cast("long"))
        .withColumn("__s", F.sum("xq").over(w).cast("long"))
        .withColumn(
            "__q",
            F.sum(F.expr("CAST(xq AS DECIMAL(38,0)) * xq")).over(w),
        )
        .where(F.col("__cnt") == window)
    )
    n_d = float(window)
    mean = f"(CAST(__s AS DOUBLE) / {n_d!r} / 1e6)"
    sd = (
        f"(sqrt(({_big_d('__q')} - CAST(__s AS DOUBLE) "
        f"* CAST(__s AS DOUBLE) / {n_d!r}) "
        f"/ ({n_d!r} - 1.0d)) / 1e6)"
    )
    return staged.select(
        "idx",
        F.col("v").alias("value"),
        F.expr(f"CAST(round(({mean}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("sma"),
        F.expr(
            f"CAST(round((({mean}) - {k!r} * ({sd})) * 1000000.0d) "
            "AS BIGINT) / 1e6"
        ).cast("double").alias("band_lo"),
        F.expr(
            f"CAST(round((({mean}) + {k!r} * ({sd})) * 1000000.0d) "
            "AS BIGINT) / 1e6"
        ).cast("double").alias("band_hi"),
        F.expr(
            f"(v < CAST(round((({mean}) - {k!r} * ({sd})) "
            "* 1000000.0d) AS BIGINT) / 1e6 "
            f"OR v > CAST(round((({mean}) + {k!r} * ({sd})) "
            "* 1000000.0d) AS BIGINT) / 1e6)"
        ).alias("breach"),
    ).orderBy("idx")


def jonckheere_terpstra(
    df: DataFrame,
    group_score_expr: str,
    value_col: str,
    max_groups: int = 100,
    known_groups: list | None = None,
) -> DataFrame:
    """Jonckheere–Terpstra ordered-alternative test — are the group
    distributions stochastically ORDERED along the factor (tier 1 <
    tier 2 < … )?  Strictly more powerful than Kruskal-Wallis when the
    alternative is monotone, and the continuous-value companion to the
    binary :func:`cochran_armitage` trend test::

        JT = Σ_{g<h} U_gh,   U_gh = #{x_i < x_j} + ½·ties

    Distributed via the house rank primitive: one aggregation to the
    distinct-value frame with per-group counts, ONE
    :func:`distributed_prefix_counts` pass for every group's exclusive
    below-v count (no un-partitioned window, no pair join — the same
    collapse that makes :func:`energy_distance` one-pass), then the
    doubled statistic ``2·JT = Σ_v (2·Σ_h c_h·before_{g<h} +
    Σ_{g<h} c_g c_h)`` sums exact integers in DECIMAL(38,0).  The
    group-score list is a bounded collect (k ≤ dozens), ENFORCED by a
    ``max_groups`` probe (the :func:`kendall_tau_b` ``max_cells``
    discipline): a continuous ``group_score_expr`` would otherwise be
    an unbounded driver collect and a thousand-column aggregate at
    100× scale — it raises loudly instead.  z uses the
    standard no-tie null moments (ties make it conservative —
    documented contract).  Returns one row: (n, k, jt_stat, z_stat).

    PROBE COST: the ``max_groups`` guard runs one distinct+limit scan
    of the group expression per invocation — a real per-call tax at
    100 TB.  Callers that already know the group scores (a dimension
    table, an enum column) pass ``known_groups`` and the probe never
    runs; the list is trusted as COMPLETE — rows whose score is not
    in it are silently excluded from the statistic.
    """
    base = df.where(
        f"({group_score_expr}) IS NOT NULL "
        f"AND ({value_col}) IS NOT NULL"
    ).select(
        F.expr(f"CAST(({group_score_expr}) AS BIGINT)").alias("g"),
        F.expr(
            f"CAST(round(CAST(({value_col}) AS DOUBLE) "
            "* 1000000.0d) AS BIGINT)"
        ).alias("vq"),
    )
    if known_groups is not None:
        scores = sorted({int(v) for v in known_groups})
        if len(scores) > max_groups:
            raise ValueError(
                f"jonckheere_terpstra: known_groups has "
                f"{len(scores)} entries > max_groups={max_groups}"
            )
        _assert_known_groups_complete(
            base, "g", scores, "jonckheere_terpstra")
    else:
        # limit(max_groups+1) bounds BOTH the driver transfer and the
        # probe to one job; one extra row proves the contract broken
        score_rows = (
            base.select("g").distinct().limit(max_groups + 1).collect()
        )
        if len(score_rows) > max_groups:
            raise ValueError(
                f"jonckheere_terpstra: > max_groups={max_groups} "
                f"distinct group scores from ({group_score_expr}) — "
                "the per-score aggregate columns and driver collect "
                "are bounded by contract to k <= dozens; "
                "quantize/bucket the expression (tiers, deciles), "
                "raise max_groups deliberately, or pass known_groups "
                "to skip the probe scan."
            )
        scores = sorted(r["g"] for r in score_rows)
    k = len(scores)
    if k < 2:
        raise ValueError("need >= 2 ordered groups")
    vals = base.groupBy("vq").agg(*[
        F.sum(F.when(F.col("g") == s, 1).otherwise(0)).cast("long")
        .alias(f"c{i}")
        for i, s in enumerate(scores)
    ])
    cum, totals = distributed_prefix_counts(
        vals, "vq", [f"c{i}" for i in range(k)]
    )
    lt = " + ".join(
        f"c{h} * ({' + '.join(f'__before_c{g}' for g in range(h))})"
        for h in range(1, k)
    )
    tie = " + ".join(
        f"c{g} * c{h}"
        for g in range(k) for h in range(g + 1, k)
    )
    jt2 = cum.agg(
        F.expr(
            f"CAST(sum(CAST(2 AS DECIMAL(38,0)) * ({lt}) + ({tie})) "
            "AS DECIMAL(38,0))"
        ).alias("jt2"),
    )
    n_g = [int(totals[f"c{i}"]) for i in range(k)]
    n = sum(n_g)
    sum_sq = sum(v * v for v in n_g)
    # exact integer null moments, stamped as literals on both engines
    e2 = n * n - sum_sq  # = 4·E[JT] → compare against 2·JT doubled
    var72 = n * n * (2 * n + 3) - sum(
        v * v * (2 * v + 3) for v in n_g
    )
    z = (
        f"(({_big_d('jt2')} / 2.0d - {float(e2)!r} / 4.0d) "
        f"/ nullif(sqrt({float(var72)!r} / 72.0d), 0.0d))"
    )
    return jt2.select(
        F.lit(n).cast("long").alias("n"),
        F.lit(k).cast("long").alias("k"),
        F.expr(f"{_big_d('jt2')} / 2.0d").alias("jt_stat"),
        F.expr(f"CAST(round(({z}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("z_stat"),
    )


def dunns_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    max_groups: int = 100,
    known_groups: list | None = None,
) -> DataFrame:
    """Dunn's post-hoc pairwise comparisons after a significant
    :func:`kruskal_wallis` — WHICH groups differ, on the same global
    tie-averaged ranks (Dunn 1964)::

        z_gh = (R̄_g − R̄_h) / sqrt([n(n+1)/12 − Σ(t³−t)/(12(n−1))]
                                    · (1/n_g + 1/n_h))

    The rank-based twin of :func:`tukey_hsd` (pair the p-values with
    :func:`holm_adjust` for the family-wise read).  Identical rank
    machinery to Kruskal-Wallis: per-(value, group) counts, exclusive
    prefix counts from :func:`distributed_prefix_counts` (never a
    global single-task window), 2×-scaled exact integer rank sums;
    the k-row group frame self-joins for the pairs.  Returns
    (group_a, group_b, mean_rank_a, mean_rank_b, z_stat) ordered by
    (group_a, group_b).

    The k² pairwise output only makes sense for a handful of named
    treatments, so ``max_groups`` is probed loudly (the
    :func:`jonckheere_terpstra` / :func:`bradley_terry` house pattern):
    a continuous group column raises instead of silently exploding
    into an enormous pairwise frame.

    PROBE COST: the guard runs one distinct+limit scan of the group
    column per invocation — a real per-call tax at 100 TB.  Dunn's
    machinery derives the group frame distributedly, so the probe is
    PURELY a guard here: callers that already know the cardinality
    pass ``known_groups`` (only its length is used — a trust
    declaration) and the probe scan never runs.
    """
    if known_groups is not None:
        if len(set(known_groups)) > max_groups:
            raise ValueError(
                f"dunns_test: known_groups has "
                f"{len(set(known_groups))} entries "
                f"> max_groups={max_groups}"
            )
        _assert_known_groups_complete(
            df.where(f"({group_col}) IS NOT NULL")
            .select(F.expr(f"CAST(({group_col}) AS STRING)").alias("g")),
            "g", sorted({str(v) for v in known_groups}), "dunns_test")
    else:
        # limit(max_groups+1) bounds BOTH the driver transfer and the
        # probe scan itself — one extra row proves the overflow
        g_probe = (
            df.where(f"({group_col}) IS NOT NULL")
            .select(F.expr(f"CAST(({group_col}) AS STRING)").alias("g"))
            .distinct().limit(max_groups + 1).collect()
        )
        if len(g_probe) > max_groups:
            raise ValueError(
                f"dunns_test: > max_groups={max_groups} distinct "
                f"values in {group_col!r}; post-hoc pairwise "
                "comparisons need a small set of named treatments — "
                "bucket the column first (tiers, deciles), raise "
                "max_groups deliberately, or pass known_groups to "
                "skip the probe scan."
            )
    cells = (
        df.where(f"({group_col}) IS NOT NULL "
                 f"AND ({value_col}) IS NOT NULL")
        .groupBy(
            F.expr(f"CAST(({value_col}) AS DOUBLE)").alias("v"),
            F.expr(f"CAST(({group_col}) AS STRING)").alias("g"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    vals = cells.groupBy("v").agg(F.sum("c").cast("long").alias("t"))
    vals, _ = distributed_prefix_counts(vals, "v", ["t"])
    vals = vals.select("v", "t", F.col("__before_t").alias("__before"))
    ranked = cells.join(vals, "v").select(
        "g", "c",
        F.expr("2 * __before + t + 1").cast("long").alias("__r2"),
    )
    grp = ranked.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_g"),
        F.sum(F.expr("c * __r2")).cast("long").alias("__rsum2"),
    ).localCheckpoint(eager=False)
    tot = grp.agg(
        F.sum("n_g").cast("long").alias("n"),
    )
    ties = vals.agg(
        F.expr(
            "CAST(coalesce(sum(CAST(t AS DECIMAL(38,0)) * t * t - t), "
            "0) AS DECIMAL(38,0))"
        ).alias("t3"),
    )
    means = grp.select(
        "g", "n_g",
        F.expr(
            "(CAST(__rsum2 AS DOUBLE) / 2.0d / CAST(n_g AS DOUBLE))"
        ).alias("mr"),
    )
    a, b = means.alias("a"), means.alias("b")
    var = (
        "((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0d) / 12.0d "
        f"- {_big_d('t3')} "
        "/ (12.0d * (CAST(n AS DOUBLE) - 1.0d))) "
        "* (1.0d / CAST(a.n_g AS DOUBLE) "
        "+ 1.0d / CAST(b.n_g AS DOUBLE)))"
    )
    z = f"((a.mr - b.mr) / nullif(sqrt({var}), 0.0d))"
    return (
        a.join(b, F.col("a.g") < F.col("b.g"))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("a.g").alias("group_a"),
            F.col("b.g").alias("group_b"),
            F.expr("CAST(round(a.mr * 1000000.0d) AS BIGINT) / 1e6")
            .cast("double").alias("mean_rank_a"),
            F.expr("CAST(round(b.mr * 1000000.0d) AS BIGINT) / 1e6")
            .cast("double").alias("mean_rank_b"),
            F.expr(
                f"CAST(round(({z}) * 1000000.0d) AS BIGINT) / 1e6"
            ).cast("double").alias("z_stat"),
        )
        .orderBy("group_a", "group_b")
    )


def sample_entropy(
    series: DataFrame,
    idx_col: str,
    value_col: str,
    r_tol: float,
    max_points: int = 20000,
) -> DataFrame:
    """Sample entropy SampEn(m=1, r) over an aggregated series — the
    regularity measure (Richman & Moorman 2000): how often do pairs of
    periods that match within tolerance ``r`` at length 1 STILL match
    at length 2?  Low SampEn = repetitive/templated dynamics, high =
    irregular::

        SampEn = −ln(A/B),  B = #{|xᵢ−xⱼ| ≤ r},  A = adds xᵢ₊₁,xⱼ₊₁

    The estimator is all-pairs BY DEFINITION (the
    :func:`hodges_lehmann` contract): a ``max_points`` count probe
    raises loudly before the self-join materializes — the series
    contract already bounds input to the aggregated time domain.
    Comparisons run on the exact micro lattice (|Δ| ≤ r decided on
    integers — no float boundary jitter); counts are exact.  Returns
    one row: (n_periods, b_pairs, a_pairs, samp_en).
    """
    from pyspark.sql import Window

    n = series.count()
    if n > max_points:
        raise ValueError(
            f"sample_entropy is O(n²) by definition: {n} points "
            f"> max_points={max_points}; aggregate coarser first"
        )
    rq = int(round(r_tol * 1e6))
    pts = series.select(
        F.col(idx_col).alias("idx"),
        F.expr(f"CAST(round(CAST(({value_col}) AS DOUBLE) "
               "* 1000000.0d) AS BIGINT)").alias("xq"),
    ).where(F.col("idx").isNotNull() & F.col("xq").isNotNull())
    # the bounded series window (page_hinkley contract) builds the
    # length-2 templates
    w = Window.orderBy("idx")
    tpl = pts.select(
        F.row_number().over(w).cast("long").alias("rn"),
        "xq",
        F.lead("xq", 1).over(w).alias("xq1"),
    ).where(F.col("xq1").isNotNull()).localCheckpoint(eager=True)
    a_, b_ = tpl.alias("a"), tpl.alias("b")
    pairs = a_.join(b_, F.col("a.rn") < F.col("b.rn")).select(
        F.expr(f"CASE WHEN abs(a.xq - b.xq) <= {rq} "
               "THEN 1 ELSE 0 END").alias("m1"),
        F.expr(f"CASE WHEN abs(a.xq - b.xq) <= {rq} "
               f"AND abs(a.xq1 - b.xq1) <= {rq} "
               "THEN 1 ELSE 0 END").alias("m2"),
    )
    m = pairs.agg(
        F.sum("m1").cast("long").alias("b_pairs"),
        F.sum("m2").cast("long").alias("a_pairs"),
    )
    return m.select(
        F.lit(n).cast("long").alias("n_periods"),
        "b_pairs", "a_pairs",
        F.expr(
            "CAST(round(-ln(CAST(a_pairs AS DOUBLE) "
            "/ nullif(CAST(b_pairs AS DOUBLE), 0.0d)) "
            "* 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("samp_en"),
    )


def runs_test(
    series: DataFrame,
    idx_col: str,
    value_col: str,
) -> DataFrame:
    """Wald–Wolfowitz runs test around the series median — is the
    sign pattern of deviations RANDOM, or does it cluster (trend /
    regime persistence) or alternate (over-correction)?::

        z = (R − E[R]) / sqrt(Var[R]),
        E[R] = 2·n₊·n₋/n + 1

    The cheapest independence check on a monitored series, reading
    only signs — immune to any monotone transform of the values.
    Median = the exact distributed interpolation quantile; values
    equal to the median drop (the standard convention); the run count
    is one bounded-series lag comparison.  Returns one row:
    (n_pos, n_neg, n_runs, z_stat).
    """
    from pyspark.sql import Window

    from .analytics import distributed_group_quantiles

    base = series.select(
        F.col(idx_col).alias("idx"),
        F.expr(f"CAST(({value_col}) AS DOUBLE)").alias("v"),
        F.lit("all").alias("__all"),
    ).where(F.col("idx").isNotNull() & F.col("v").isNotNull())
    med = distributed_group_quantiles(base, "__all", "v", [0.5]) \
        .select(F.col("q0").alias("med"))
    signs = (
        base.crossJoin(F.broadcast(med))
        .where(F.col("v") != F.col("med"))
        .select(
            "idx",
            F.expr("CASE WHEN v > med THEN 1 ELSE 0 END").alias("s"),
        )
    )
    w = Window.orderBy("idx")
    flagged = signs.select(
        "s",
        F.when(F.lag("s", 1).over(w).isNull()
               | (F.lag("s", 1).over(w) != F.col("s")), 1)
        .otherwise(0).alias("new_run"),
    )
    m = flagged.agg(
        F.sum("s").cast("long").alias("n_pos"),
        F.sum(F.expr("1 - s")).cast("long").alias("n_neg"),
        F.sum("new_run").cast("long").alias("n_runs"),
    ).select(
        "n_pos", "n_neg", "n_runs",
        F.col("n_pos").cast("double").alias("p_d"),
        F.col("n_neg").cast("double").alias("m_d"),
        F.col("n_runs").cast("double").alias("r_d"),
    )
    er = "(2.0d * p_d * m_d / (p_d + m_d) + 1.0d)"
    vr = (
        f"((({er}) - 1.0d) * (({er}) - 2.0d) / (p_d + m_d - 1.0d))"
    )
    return m.select(
        "n_pos", "n_neg", "n_runs",
        F.expr(
            f"CAST(round(((r_d - ({er})) / nullif(sqrt({vr}), 0.0d)) "
            "* 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("z_stat"),
    )


def bartlett_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    dec: str = _DEC,
) -> DataFrame:
    """Bartlett's test for equality of variances — the high-power
    normal-theory sibling of :func:`brown_forsythe` (use Bartlett when
    :func:`jarque_bera` clears the groups, Brown-Forsythe when it
    doesn't)::

        M = (N−k)·ln(s²_p) − Σ(n_g−1)·ln(s²_g)
        C = 1 + (Σ 1/(n_g−1) − 1/(N−k)) / (3(k−1)),   T = M/C

    ONE aggregation to per-group exact decimal moments; the pooled-
    variance numerator reduces with the :func:`one_way_anova`
    unit-lattice discipline, and the cross-group ln/(1/(n−1)) terms
    quantize per group on the nano lattice before exact BIGINT sums —
    partition-order free.  Groups with n < 2 or zero variance are
    excluded.  Returns one row: (n, k, pooled_var, bartlett_stat).
    """
    x = _m(value_col, dec)
    g = (
        df.where(f"({group_col}) IS NOT NULL "
                 f"AND ({value_col}) IS NOT NULL")
        .groupBy(F.expr(f"CAST(({group_col}) AS STRING)").alias("g"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum(x).alias("s_g"),
            F.sum(x * x).alias("q_g"),
        )
        .select(
            "n_g",
            F.col("n_g").cast("double").alias("ng_d"),
            F.expr("CAST(s_g AS DOUBLE)").alias("s_d"),
            F.expr("CAST(q_g AS DOUBLE)").alias("q_d"),
        )
        .withColumn(
            "var_g",
            F.expr("(q_d - s_d * s_d / ng_d) / (ng_d - 1.0d)"),
        )
        .where("n_g >= 2 AND var_g > 0.0d")
    )
    m = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        # Σ(n_g−1)s²_g on the unit lattice (magnitudes ~1e15)
        F.sum(F.expr(
            "CAST(round((ng_d - 1.0d) * var_g) AS BIGINT)"
        )).cast("long").alias("num_unit"),
        F.sum(F.expr(
            "CAST(round((ng_d - 1.0d) * ln(var_g) * 1000000000.0d) "
            "AS BIGINT)"
        )).cast("long").alias("lnsum_n"),
        F.sum(F.expr(
            "CAST(round(1.0d / (ng_d - 1.0d) * 1000000000.0d) "
            "AS BIGINT)"
        )).cast("long").alias("inv_n"),
    ).select(
        "n", "k",
        F.col("n").cast("double").alias("n_d"),
        F.col("k").cast("double").alias("k_d"),
        F.expr("CAST(num_unit AS DOUBLE)").alias("num_d"),
        F.expr("CAST(lnsum_n AS DOUBLE) / 1e9").alias("lnsum_d"),
        F.expr("CAST(inv_n AS DOUBLE) / 1e9").alias("inv_d"),
    )
    sp2 = "(num_d / (n_d - k_d))"
    big_m = f"((n_d - k_d) * ln({sp2}) - lnsum_d)"
    c = (f"(1.0d + (inv_d - 1.0d / (n_d - k_d)) "
         f"/ (3.0d * (k_d - 1.0d)))")
    return m.select(
        "n", "k",
        F.expr(f"CAST(round(({sp2}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("pooled_var"),
        F.expr(
            f"CAST(round((({big_m}) / ({c})) * 1000000.0d) "
            "AS BIGINT) / 1e6"
        ).cast("double").alias("bartlett_stat"),
    )


def levene_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Levene's original variance-equality test (MEAN centers) — the
    middle option between Bartlett (normal theory, most power) and
    :func:`brown_forsythe` (median centers, most robust): the ANOVA F
    over the absolute deviations ``z = |x − x̄_g|``.

    Per-group means come from ONE exact-decimal moment pass
    (micro-quantized — no distributed-quantile machinery needed, the
    one structural difference from Brown-Forsythe), broadcast back;
    the deviations then flow through the shared exact-decimal ANOVA
    moment pass.  Returns the :func:`one_way_anova` shape over the
    deviation frame: (n, k, ssb, ssw, f_stat, eta_sq).
    """
    base = df.where(
        f"({group_col}) IS NOT NULL AND ({value_col}) IS NOT NULL"
    ).select(
        F.expr(f"CAST(({group_col}) AS STRING)").alias("__g"),
        F.expr(f"CAST(({value_col}) AS DOUBLE)").alias("__v"),
    )
    means = base.groupBy("__g").agg(
        F.expr(
            "CAST(round(CAST(sum(CAST(round(__v * 1000000.0d) "
            "AS BIGINT)) AS DOUBLE) / CAST(count(1) AS DOUBLE)) "
            "AS BIGINT)"
        ).alias("__mq"),
    )
    dev = base.join(F.broadcast(means), "__g").select(
        "__g",
        F.expr(
            "CAST(CAST(abs(CAST(round(__v * 1000000.0d) AS BIGINT) "
            "- __mq) AS DOUBLE) / 1e6 AS DECIMAL(12,4))"
        ).alias("__z"),
    )
    return one_way_anova(dev, "__g", "__z")


def _friedman_ranks(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
):
    """Shared rank machinery for :func:`friedman_test` /
    :func:`kendalls_w` / :func:`page_trend_test`: within-block
    tie-averaged ranks (2×-scaled exact integers) over COMPLETE
    blocks only.  The per-block window is bounded by k treatments —
    never the fact table.  Returns
    (ranked frame with (t, r2), b_blocks, k, tie sum Σ(t³−t)).

    CONSTRUCTION COST (billed as construction-eager in the bench):
    the closed-form statistics need k and b driver-side, so
    construction runs two count jobs — the k count materializes the
    pinned per-cell frame (THE one fact-table scan), the b count then
    reads the pin.  Unlike the ``known_groups`` family this cannot be
    skipped by declaration: b is data-dependent (complete blocks
    only), and the pin already bounds the cost to one fact scan +
    two cheap counts over blocks×k rows."""
    from pyspark.sql import Window

    base = df.where(
        f"({block_col}) IS NOT NULL AND ({treatment_col}) IS NOT NULL "
        f"AND ({value_col}) IS NOT NULL"
    ).select(
        F.expr(f"CAST(({block_col}) AS STRING)").alias("blk"),
        F.expr(f"CAST(({treatment_col}) AS STRING)").alias("t"),
        F.expr(f"CAST(round(CAST(({value_col}) AS DOUBLE) "
               "* 1000000.0d) AS BIGINT)").alias("vq"),
    )
    # one value per (block, treatment): deterministic min if dupes
    # PIN the per-cell frame: it feeds the k-probe action, the block
    # sizes, and the rank join — blocks x k rows, one materialization
    cells = base.groupBy("blk", "t").agg(F.min("vq").alias("vq")) \
        .localCheckpoint(eager=False)
    k_row = cells.groupBy("t").count().select("t")
    k = k_row.count()
    sizes = cells.groupBy("blk").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).where(F.col("cnt") == k).select("blk")
    full = cells.join(sizes, "blk")
    # tie-averaged rank within block, 2×-scaled: 2·before + t + 1
    w = Window.partitionBy("blk")
    grpv = full.groupBy("blk", "vq").agg(
        F.count(F.lit(1)).cast("long").alias("tt")
    )
    grpv = grpv.withColumn(
        "before",
        F.coalesce(
            F.sum("tt").over(
                Window.partitionBy("blk").orderBy("vq")
                .rowsBetween(Window.unboundedPreceding, -1)
            ), F.lit(0)
        ).cast("long"),
    )
    ranked = full.join(grpv, ["blk", "vq"]).select(
        "blk", "t",
        F.expr("2 * before + tt + 1").cast("long").alias("r2"),
        "tt",
    )
    b = sizes.count()
    ties = grpv.agg(
        F.expr(
            "CAST(coalesce(sum(CAST(tt AS DECIMAL(38,0)) * tt * tt "
            "- tt), 0) AS DECIMAL(38,0))"
        ).alias("t3"),
    )
    return ranked, b, k, ties


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Friedman's test — the BLOCKED rank ANOVA: do k treatments
    differ when every block (week, user, machine) sees all k?  The
    non-parametric twin of a two-way ANOVA without interactions, and
    the right k-group test when blocks carry their own level (weekday
    effects inside weeks)::

        χ²_F = 12/(b·k(k+1)) · Σ_j R_j² − 3·b(k+1)    (÷ tie factor)

    Within-block tie-averaged ranks are exact 2×-scaled integers over
    a window bounded by k (never the fact table); complete blocks
    only; the tie correction divides by ``1 − Σ(t³−t)/(b·k(k²−1))``.
    Returns one row: (b_blocks, k, chi2_f, tie_correction,
    chi2_corrected).
    """
    ranked, b, k, ties = _friedman_ranks(
        df, block_col, treatment_col, value_col
    )
    if b == 0 or k < 2:
        raise ValueError("need >= 1 complete block and >= 2 treatments")
    rj = ranked.groupBy("t").agg(
        F.sum("r2").cast("long").alias("rsum2")
    )
    m = rj.agg(
        F.sum(F.expr(
            "CAST(round(CAST(rsum2 AS DOUBLE) * CAST(rsum2 AS DOUBLE) "
            "/ 4.0d) AS BIGINT)"
        )).cast("long").alias("rr_unit"),
    ).crossJoin(F.broadcast(ties))
    b_d, k_d = float(b), float(k)
    chi = (
        f"(12.0d / ({b_d!r} * {k_d!r} * ({k_d!r} + 1.0d)) "
        "* CAST(rr_unit AS DOUBLE) "
        f"- 3.0d * {b_d!r} * ({k_d!r} + 1.0d))"
    )
    corr = (
        f"(1.0d - {_big_d('t3')} "
        f"/ ({b_d!r} * {k_d!r} * ({k_d!r} * {k_d!r} - 1.0d)))"
    )
    return m.select(
        F.lit(b).cast("long").alias("b_blocks"),
        F.lit(k).cast("long").alias("k"),
        F.expr(f"CAST(round(({chi}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("chi2_f"),
        F.expr(f"CAST(round(({corr}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("tie_correction"),
        F.expr(
            f"CAST(round((({chi}) / nullif({corr}, 0.0d)) "
            "* 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("chi2_corrected"),
    )


def kendalls_w(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Kendall's coefficient of concordance W — HOW MUCH do the blocks
    agree on the treatment ordering (0 = none, 1 = every block ranks
    identically)?  The effect size behind :func:`friedman_test` (W =
    χ²_F/(b(k−1))), reported with the tie-corrected denominator::

        W = 12·S / (b²k(k²−1) − b·Σ(t³−t)),  S = Σ_j (R_j − R̄)²

    Same exact blocked-rank machinery; S reduces on the unit lattice
    over the k-row treatment frame.  Returns one row: (b_blocks, k,
    w_stat, chi2).
    """
    ranked, b, k, ties = _friedman_ranks(
        df, block_col, treatment_col, value_col
    )
    if b == 0 or k < 2:
        raise ValueError("need >= 1 complete block and >= 2 treatments")
    rj = ranked.groupBy("t").agg(
        F.sum("r2").cast("long").alias("rsum2")
    )
    b_d, k_d = float(b), float(k)
    rbar = f"({b_d!r} * ({k_d!r} + 1.0d) / 2.0d)"
    m = rj.agg(
        F.sum(F.expr(
            f"CAST(round((CAST(rsum2 AS DOUBLE) / 2.0d - {rbar}) "
            f"* (CAST(rsum2 AS DOUBLE) / 2.0d - {rbar}) "
            "* 1000000.0d) AS BIGINT)"
        )).cast("long").alias("s_p"),
    ).crossJoin(F.broadcast(ties))
    w_expr = (
        "(12.0d * (CAST(s_p AS DOUBLE) / 1e6) "
        f"/ ({b_d!r} * {b_d!r} * {k_d!r} "
        f"* ({k_d!r} * {k_d!r} - 1.0d) "
        f"- {b_d!r} * {_big_d('t3')}))"
    )
    return m.select(
        F.lit(b).cast("long").alias("b_blocks"),
        F.lit(k).cast("long").alias("k"),
        F.expr(
            f"CAST(round(({w_expr}) * 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("w_stat"),
        F.expr(
            f"CAST(round(({b_d!r} * ({k_d!r} - 1.0d) * ({w_expr})) "
            "* 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("chi2"),
    )


def cochran_q(
    df: DataFrame,
    flag_exprs: list[str],
) -> DataFrame:
    """Cochran's Q — do k PAIRED binary treatments (k quality rules
    applied to the same rows) have equal pass rates?  The k-treatment
    generalization of :func:`mcnemar_test`::

        Q = k(k−1)·Σ_j(C_j − T/k)² / (k·T − Σ_i R_i²)

    (C_j = per-treatment pass totals, R_i = per-row pass count, T =
    ΣR).  ONE exact-count aggregation — the per-row pass count is a
    fixed expression over the k flags, so no reshaping pass.  Returns
    one row: (n, k, q_stat) plus the per-treatment totals as
    c_0..c_{k-1}.
    """
    k = len(flag_exprs)
    if k < 2:
        raise ValueError("need >= 2 paired flags")
    flags = [
        f"CAST(coalesce(CAST(({e}) AS BOOLEAN), false) AS INT)"
        for e in flag_exprs
    ]
    row_sum = " + ".join(flags)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(f"CAST(sum({row_sum}) AS BIGINT)").alias("t_tot"),
        F.expr(
            f"CAST(sum(({row_sum}) * ({row_sum})) AS BIGINT)"
        ).alias("r2_tot"),
    ]
    for j, f_ in enumerate(flags):
        aggs.append(F.expr(f"CAST(sum({f_}) AS BIGINT)").alias(f"c{j}"))
    m = df.agg(*aggs)
    k_d = float(k)
    dev = " + ".join(
        f"(CAST(c{j} AS DOUBLE) - CAST(t_tot AS DOUBLE) / {k_d!r}) "
        f"* (CAST(c{j} AS DOUBLE) - CAST(t_tot AS DOUBLE) / {k_d!r})"
        for j in range(k)
    )
    q = (
        f"({k_d!r} * ({k_d!r} - 1.0d) * ({dev}) "
        f"/ nullif({k_d!r} * CAST(t_tot AS DOUBLE) "
        "- CAST(r2_tot AS DOUBLE), 0.0d))"
    )
    return m.select(
        "n",
        F.lit(k).cast("long").alias("k"),
        F.expr(f"CAST(round(({q}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("q_stat"),
        *[F.col(f"c{j}") for j in range(k)],
    )


def fleiss_kappa(
    votes: DataFrame,
    subject_col: str,
    category_col: str,
    n_raters: int,
) -> DataFrame:
    """Fleiss' κ — chance-corrected agreement among m RATERS assigning
    categorical labels to the same subjects (the multi-rater
    generalization of Cohen's κ): the labeling-quality gate when
    several heuristics/annotators vote on every document::

        P_i = (Σ_c n_ic² − m) / (m(m−1)),   κ = (P̄ − P_e)/(1 − P_e)

    Input is the VOTES frame (subject, category) with exactly
    ``n_raters`` rows per subject (subjects with a different count are
    excluded — the complete-block rule).  Exact integer category
    counts; per-subject P_i reduces on the nano lattice; P_e comes
    from the exact pooled category proportions.  Returns one row:
    (n_subjects, n_raters, p_bar, p_e, kappa).
    """
    if n_raters < 2:
        raise ValueError("need >= 2 raters")
    base = votes.select(
        F.expr(f"CAST(({subject_col}) AS STRING)").alias("s"),
        F.expr(f"CAST(({category_col}) AS STRING)").alias("c"),
    )
    counts = base.groupBy("s", "c").agg(
        F.count(F.lit(1)).cast("long").alias("n_ic")
    )
    sizes = counts.groupBy("s").agg(
        F.sum("n_ic").cast("long").alias("m")
    ).where(F.col("m") == n_raters).select("s")
    # PIN the complete-block frame (referenced by the per-subject AND
    # the per-category aggregations) and the one-row agg1 below — the
    # multi-reference plan-audit class: un-pinned, this operator
    # re-scanned its votes derivation up to 18x
    full = counts.join(sizes, "s").localCheckpoint(eager=False)
    m_d = float(n_raters)
    per_subj = full.groupBy("s").agg(
        F.expr("CAST(sum(n_ic * n_ic) AS BIGINT)").alias("sq"),
    ).select(
        F.expr(
            f"CAST(round((CAST(sq AS DOUBLE) - {m_d!r}) "
            f"/ ({m_d!r} * ({m_d!r} - 1.0d)) * 1000000000.0d) "
            "AS BIGINT)"
        ).alias("pi_n"),
    )
    agg1 = per_subj.agg(
        F.count(F.lit(1)).cast("long").alias("n_subj"),
        F.sum("pi_n").cast("long").alias("pi_sum_n"),
    ).localCheckpoint(eager=False)
    cat = full.groupBy("c").agg(
        F.sum("n_ic").cast("long").alias("n_c")
    )
    agg2 = cat.crossJoin(F.broadcast(agg1)).agg(
        F.sum(F.expr(
            "CAST(round((CAST(n_c AS DOUBLE) "
            f"/ (CAST(n_subj AS DOUBLE) * {m_d!r})) "
            "* (CAST(n_c AS DOUBLE) "
            f"/ (CAST(n_subj AS DOUBLE) * {m_d!r})) "
            "* 1000000000.0d) AS BIGINT)"
        )).cast("long").alias("pe_n"),
    )
    m = agg1.crossJoin(F.broadcast(agg2)).select(
        "n_subj",
        F.expr(
            "(CAST(pi_sum_n AS DOUBLE) / 1e9 "
            "/ CAST(n_subj AS DOUBLE))"
        ).alias("p_bar_d"),
        F.expr("(CAST(pe_n AS DOUBLE) / 1e9)").alias("p_e_d"),
    )
    return m.select(
        F.col("n_subj").alias("n_subjects"),
        F.lit(n_raters).cast("long").alias("n_raters"),
        F.expr("CAST(round(p_bar_d * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("p_bar"),
        F.expr("CAST(round(p_e_d * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("p_e"),
        F.expr(
            "CAST(round(((p_bar_d - p_e_d) "
            "/ nullif(1.0d - p_e_d, 0.0d)) * 1000000.0d) AS BIGINT) "
            "/ 1e6"
        ).cast("double").alias("kappa"),
    )


def page_trend_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
    max_treatments: int = 100,
) -> DataFrame:
    """Page's L trend test — the ORDERED-alternative refinement of
    :func:`friedman_test` (exactly as :func:`jonckheere_terpstra`
    refines Kruskal-Wallis): are the treatments MONOTONE in their
    declared order, judged within blocks?::

        L = Σ_j j·R_j,   z = (L − b·k(k+1)²/4)
                              / sqrt(b·k²(k+1)(k²−1)/144)

    Treatments must be INTEGER scores (1..k order); same exact blocked
    rank machinery (complete blocks, 2×-scaled tie-averaged ranks).
    The treatment-score collect and the k-arm CASE are bounded by a
    ``max_treatments`` probe (the :func:`kendall_tau_b` ``max_cells``
    discipline) — a continuous treatment expression raises loudly
    instead of becoming an unbounded driver collect at 100× scale.
    Returns one row: (b_blocks, k, l_stat, z_stat).
    """
    ranked, b, k, _ = _friedman_ranks(
        df, block_col, treatment_col, value_col
    )
    if b == 0 or k < 2:
        raise ValueError("need >= 1 complete block and >= 2 treatments")
    if k > max_treatments:
        raise ValueError(
            f"page_trend_test: k={k} distinct treatments "
            f"> max_treatments={max_treatments} — the score collect "
            "and k-arm CASE are bounded by contract to k <= dozens; "
            "quantize the treatment column or raise max_treatments "
            "deliberately."
        )
    # map the treatments' integer scores onto 1..k in score order (the
    # classical L assumes consecutive weights; a bounded k-row collect,
    # the jonckheere_terpstra discipline)
    rj = ranked.groupBy("t").agg(
        F.sum("r2").cast("long").alias("rsum2")
    ).select(F.expr("CAST(t AS BIGINT)").alias("score"), "rsum2")
    order = {
        s: j + 1
        for j, s in enumerate(sorted(
            r["score"] for r in rj.select("score").distinct().collect()
        ))
    }
    j_case = "CASE " + " ".join(
        f"WHEN score = {s} THEN {j}" for s, j in order.items()
    ) + " END"
    m = rj.agg(
        # 2L = Σ j · rsum2 (exact integer)
        F.sum(F.expr(f"({j_case}) * rsum2")).cast("long").alias("l2"),
    )
    b_d, k_d = float(b), float(k)
    e_l = f"({b_d!r} * {k_d!r} * ({k_d!r} + 1.0d) * ({k_d!r} + 1.0d) / 4.0d)"
    v_l = (f"({b_d!r} * {k_d!r} * {k_d!r} * ({k_d!r} + 1.0d) "
           f"* ({k_d!r} * {k_d!r} - 1.0d) / 144.0d)")
    return m.select(
        F.lit(b).cast("long").alias("b_blocks"),
        F.lit(k).cast("long").alias("k"),
        F.expr("CAST(l2 AS DOUBLE) / 2.0d").alias("l_stat"),
        F.expr(
            f"CAST(round(((CAST(l2 AS DOUBLE) / 2.0d - {e_l}) "
            f"/ nullif(sqrt({v_l}), 0.0d)) * 1000000.0d) AS BIGINT) "
            "/ 1e6"
        ).cast("double").alias("z_stat"),
    )


def pot_gpd_fit(
    df: DataFrame,
    value_col: str,
    threshold_q: float = 0.95,
) -> DataFrame:
    """Peaks-over-threshold generalized-Pareto tail fit by the method
    of moments — the extreme-value read on a money/latency column:
    exceedances over a high quantile follow a GPD (Pickands 1975),
    whose shape ξ says whether the tail is bounded (ξ < 0),
    exponential (ξ ≈ 0), or heavy/power-law (ξ > 0)::

        ξ̂ = (1 − m²/s²)/2,   β̂ = m·(m²/s² + 1)/2      (m, s² of y−u)

    The threshold is the exact distributed interpolation quantile
    (:func:`~..operators.analytics.distributed_group_quantiles`);
    exceedance moments are exact micro-lattice integer sums.  Returns
    one row: (n, n_exceed, threshold, mean_excess, xi_hat, beta_hat).
    """
    from .analytics import distributed_group_quantiles

    if not 0.5 < threshold_q < 1.0:
        raise ValueError("threshold_q must be in (0.5, 1)")
    base = df.where(f"({value_col}) IS NOT NULL").select(
        F.expr(f"CAST(({value_col}) AS DOUBLE)").alias("v"),
        F.lit("all").alias("__all"),
    )
    thr = distributed_group_quantiles(
        base, "__all", "v", [threshold_q]
    ).select(F.col("q0").alias("u"))
    exc = (
        base.crossJoin(F.broadcast(thr))
        .where(F.col("v") > F.col("u"))
        .select(
            F.expr(
                "CAST(round((v - u) * 1000000.0d) AS BIGINT)"
            ).alias("yq"),
            "u",
        )
    )
    n_tot = base.count()
    m = exc.agg(
        F.count(F.lit(1)).cast("long").alias("n_exceed"),
        F.expr("CAST(sum(yq) AS BIGINT)").alias("s"),
        F.expr("CAST(sum(CAST(yq AS DECIMAL(38,0)) * yq) "
               "AS DECIMAL(38,0))").alias("q"),
        F.max("u").alias("u"),
    ).select(
        "n_exceed", "u",
        F.col("n_exceed").cast("double").alias("n_d"),
        F.expr("CAST(s AS DOUBLE)").alias("s_d"),
        F.expr(_big_d("q")).alias("q_d"),
    )
    mean = "(s_d / n_d / 1e6)"
    var = ("((q_d - s_d * s_d / n_d) / (n_d - 1.0d) / 1e12)")
    ratio = f"(({mean}) * ({mean}) / nullif({var}, 0.0d))"
    return m.select(
        F.lit(n_tot).cast("long").alias("n"),
        "n_exceed",
        F.col("u").cast("double").alias("threshold"),
        F.expr(f"CAST(round(({mean}) * 1000000.0d) AS BIGINT) / 1e6")
        .cast("double").alias("mean_excess"),
        F.expr(
            f"CAST(round(((1.0d - ({ratio})) / 2.0d) * 1000000.0d) "
            "AS BIGINT) / 1e6"
        ).cast("double").alias("xi_hat"),
        F.expr(
            f"CAST(round((({mean}) * (({ratio}) + 1.0d) / 2.0d) "
            "* 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("beta_hat"),
    )


def bradley_terry(
    df: DataFrame,
    group_col: str,
    value_col: str,
    iterations: int = 25,
    max_groups: int = 24,
    known_groups: list | None = None,
) -> DataFrame:
    """Bradley–Terry preference strengths over k groups from ALL
    pairwise value comparisons — the model behind preference-data
    curation for RLHF reward training ("which source wins head-to-head,
    and by how much"), fit by the classic MM algorithm (Hunter 2004)
    with ties split as half-wins (the Mann–Whitney convention).

    The O(n²) pairwise tournament is never materialized: the full
    k×k win matrix comes from the :func:`distributed_prefix_counts`
    offset-rank primitive —

        2·W[i→j] = Σ_v  c_i(v) · (2·cum_j(v) − c_j(v))

    over the per-distinct-value group counts (one scan, one bounded
    shuffle, exact DECIMAL(38,0) sums — the :func:`mann_whitney_u`
    identity applied to every ordered pair at once).  The MM fixed-
    point runs driver-side on the collected k×k matrix — k is loudly
    bounded by ``max_groups`` (the :func:`kendall_tau_b` ``max_cells``
    discipline), so the driver transfer is k² numbers, never data.
    Every float the fit touches is IEEE-deterministic and order-pinned
    (left-folded sums in ascending group order, doubles from exact
    integer sums), so the whole fit is value-checkable against a SQL
    oracle that replays the same recursion.

    Returns one row per group ordered by group key:
    (grp, n, wins, win_rate, bt_strength) — ``wins`` counts ties as
    0.5, ``win_rate`` = wins / (n_i·(N−n_i)), ``bt_strength`` the
    normalized MM strength (Σ = 1).

    PROBE COST: the ``max_groups`` guard runs one distinct+limit scan
    of the group column per invocation — a real per-call tax at
    100 TB.  Callers that already know the groups pass
    ``known_groups`` and the probe never runs; the list is trusted as
    COMPLETE — rows from unlisted groups are silently excluded.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    base = df.where(
        f"({group_col}) IS NOT NULL AND ({value_col}) IS NOT NULL"
    ).select(
        F.col(group_col).cast("string").alias("g"),
        F.col(value_col).alias("v"),
    )
    if known_groups is not None:
        groups = sorted({str(v) for v in known_groups})
        if len(groups) > max_groups:
            raise ValueError(
                f"bradley_terry: known_groups has {len(groups)} "
                f"entries > max_groups={max_groups}"
            )
        _assert_known_groups_complete(base, "g", groups, "bradley_terry")
    else:
        # limit(max_groups+1) bounds BOTH the driver transfer and the
        # probe to one job; one extra row proves the contract broken
        g_rows = base.select("g").distinct().limit(
            max_groups + 1).collect()
        if len(g_rows) > max_groups:
            raise ValueError(
                f"bradley_terry: > max_groups={max_groups} distinct "
                f"values in {group_col!r} — a continuous column here "
                "means a k²-column aggregate and an unbounded driver "
                "matrix at scale. Bucket the column first, raise "
                "max_groups deliberately, or pass known_groups to "
                "skip the probe scan."
            )
        groups = sorted(r["g"] for r in g_rows)
    k = len(groups)
    if k < 2:
        raise ValueError("bradley_terry needs >= 2 groups")
    cells = base.groupBy("v").agg(
        *[
            F.sum(F.when(F.col("g") == F.lit(g), 1).otherwise(0))
            .cast("long").alias(f"c{i}")
            for i, g in enumerate(groups)
        ]
    )
    cum, totals = distributed_prefix_counts(
        cells, "v", [f"c{i}" for i in range(k)]
    )
    n_by_g = [int(totals[f"c{i}"]) for i in range(k)]
    w2 = cum.agg(
        *[
            F.sum(
                F.expr(
                    f"CAST(c{i} AS DECIMAL(38,0)) "
                    f"* (2 * __cum_c{j} - c{j})"
                )
            ).cast("decimal(38,0)").alias(f"w2_{i}_{j}")
            for i in range(k)
            for j in range(k)
            if i != j
        ]
    ).collect()[0]
    # ---- driver-side MM fixed point over the k×k exact matrix ----
    # every op below is a plain IEEE double op in a pinned order; the
    # oracle replays the identical recursion
    wm = [
        [
            0.0 if i == j else float(w2[f"w2_{i}_{j}"])
            for j in range(k)
        ]
        for i in range(k)
    ]
    nd = [float(n) for n in n_by_g]
    p = [1.0] * k
    for _ in range(iterations):
        newp = []
        for i in range(k):
            w2sum = 0.0
            denom = 0.0
            for j in range(k):
                if j == i:
                    continue
                w2sum = w2sum + wm[i][j]
                denom = denom + ((nd[i] * nd[j]) / (p[i] + p[j]))
            newp.append((w2sum / 2.0) / denom if denom > 0.0 else 0.0)
        s = 0.0
        for x in newp:
            s = s + x
        p = [x / s for x in newp] if s > 0.0 else newp
    rows = []
    n_total = sum(n_by_g)
    for i in range(k):
        w2sum = 0.0
        for j in range(k):
            if j != i:
                w2sum = w2sum + wm[i][j]
        wins = w2sum / 2.0
        comps = nd[i] * (float(n_total) - nd[i])
        rows.append(
            (groups[i], n_by_g[i], wins,
             (wins / comps) if comps > 0.0 else None, p[i])
        )
    out = local_frame(
        df.sparkSession,
        rows,
        "grp string, n long, wins double, win_rate double, "
        "bt_strength double",
    )
    # rounding happens JVM-side (HALF_UP, the house canon) — never in
    # Python, whose round() is banker's
    return out.select(
        "grp", "n",
        F.round(F.col("wins"), 6).cast("double").alias("wins"),
        F.round(F.col("win_rate"), 6).cast("double").alias("win_rate"),
        F.round(F.col("bt_strength"), 6).cast("double")
        .alias("bt_strength"),
    ).orderBy("grp")


def elo_preference_ratings(
    df: DataFrame,
    group_col: str,
    value_col: str,
    order_col: str,
    n_matches: int = 512,
    k_factor_milli: int = 32000,
    init_rating_micro: int = 1_500_000_000,
    max_groups: int = 24,
    known_groups: list | None = None,
) -> DataFrame:
    """Online (Elo-style) preference ratings — the sequential twin of
    :func:`bradley_terry`: arrivals ordered by ``order_col`` are paired
    consecutively (row i vs row i+1, same-group pairs skipped), the
    higher ``value_col`` wins (ties score ½), and each group's rating
    updates after every match

        p = r_a / (r_a + r_b)            (the Bradley–Terry link —
                                          division is IEEE-exact,
                                          unlike Elo's 10^x logistic)
        r_a += K·(s − p);  r_b −= K·(s − p)

    so the output tracks WHERE the preference data is drifting, match
    by match, instead of the batch MM fit's equilibrium.  Ratings live
    on an exact integer micro lattice (init 1500.000000); each delta
    is one correctly-rounded double expression half-away-quantized to
    micros, so the entire replay is bit-reproducible and
    SQL-replayable (a recursive-CTE oracle replays the identical
    recursion — the docs_quality_logistic precedent).

    Elo is intrinsically sequential, so the replay is bounded and
    loud: the first ``n_matches``+1 rows by (order_col, group, value)
    are taken via TakeOrderedAndProject (per-partition top-k heaps —
    never a global sort) and replayed driver-side; ``max_groups``
    bounds the rating table (the :func:`bradley_terry` probe).  At
    production scale the input is a bounded human-preference match
    log, not a corpus — for corpus-equilibrium strengths use
    :func:`bradley_terry`, which is one distributed scan at any size.
    The streaming twin (``streaming.windows.elo_rating_stream``)
    applies the same quantized updates per micro-batch with O(k)
    state.  Returns one row per group ordered by group key:
    (grp, n_played, wins, rating).

    PROBE COST: the ``max_groups`` guard runs one distinct+limit scan
    of the group column per invocation.  Callers that already know the
    competitors pass ``known_groups`` and the probe never runs; the
    list is trusted as COMPLETE — a replayed match naming an unlisted
    group raises KeyError rather than rating silently.
    """
    if not 1 <= n_matches <= 100_000:
        raise ValueError("n_matches must be in [1, 100000] — the replay "
                         "is sequential and driver-side by design")
    # NaN values are excluded along with NULLs: the streaming twin's
    # Arrow->pandas conversion maps NULL to NaN, so pandas dropna cannot
    # distinguish them — the batch filter matches the stream's drop so
    # the pinned stream==batch equality holds on feeds carrying NaN
    base = df.where(
        f"({group_col}) IS NOT NULL AND ({value_col}) IS NOT NULL "
        f"AND ({order_col}) IS NOT NULL "
        f"AND NOT isnan(CAST(({value_col}) AS DOUBLE))"
    ).select(
        F.expr(f"({order_col})").alias("o"),
        F.col(group_col).cast("string").alias("g"),
        F.expr(f"CAST(({value_col}) AS DOUBLE)").alias("v"),
    )
    if known_groups is not None:
        groups = sorted({str(v) for v in known_groups})
        if len(groups) > max_groups:
            raise ValueError(
                f"elo_preference_ratings: known_groups has "
                f"{len(groups)} entries > max_groups={max_groups}"
            )
        _assert_known_groups_complete(
            base, "g", groups, "elo_preference_ratings")
    else:
        g_rows = base.select("g").distinct().limit(
            max_groups + 1).collect()
        if len(g_rows) > max_groups:
            raise ValueError(
                f"elo_preference_ratings: > max_groups={max_groups} "
                f"distinct values in {group_col!r} — bucket the column "
                "first, raise max_groups deliberately, or pass "
                "known_groups to skip the probe scan."
            )
        groups = sorted(r["g"] for r in g_rows)
    if len(groups) < 2:
        raise ValueError("elo_preference_ratings needs >= 2 groups")
    rows = (
        base.orderBy("o", "g", "v").limit(n_matches + 1).collect()
    )
    # ---- driver-side sequential replay on the integer micro lattice:
    # every float op below is one correctly-rounded IEEE expression in
    # a pinned order, textually parallel to the SQL oracle's recursion
    import math

    kf = float(k_factor_milli) / 1000.0
    r = {g: int(init_rating_micro) for g in groups}
    played = {g: 0 for g in groups}
    wins2 = {g: 0 for g in groups}  # half-units: exact integers
    for a, b in zip(rows, rows[1:]):
        if a["g"] == b["g"]:
            continue
        s2 = 2 if a["v"] > b["v"] else (1 if a["v"] == b["v"] else 0)
        ra, rb = r[a["g"]], r[b["g"]]
        p = float(ra) / float(ra + rb)
        t = kf * (s2 / 2.0 - p) * 1000000.0
        delta = int(math.floor(abs(t) + 0.5)) * (1 if t >= 0 else -1)
        r[a["g"]] = ra + delta
        r[b["g"]] = rb - delta
        played[a["g"]] += 1
        played[b["g"]] += 1
        wins2[a["g"]] += s2
        wins2[b["g"]] += 2 - s2
    out = local_frame(
        df.sparkSession,
        [(g, played[g], wins2[g], r[g]) for g in groups],
        "grp string, n_played long, wins2 long, r_micro long",
    )
    return out.select(
        "grp",
        "n_played",
        F.expr("CAST(wins2 AS DOUBLE) / 2.0d").alias("wins"),
        F.expr("CAST(r_micro AS DOUBLE) / 1e6").alias("rating"),
    ).orderBy("grp")
