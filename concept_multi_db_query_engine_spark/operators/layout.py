"""Data-layout and join-health operators — the write-side half of the
100 TB posture: how data is ARRANGED decides which scans prune and which
joins skew, before any query runs.

Reference behavior parity: the reference exposes no layout surface (it
reads whatever its stores hold); these extend the engine the way the
analytics/statistics families do, with the same oracle-replayable
determinism contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


def morton_expr(col_a: str, col_b: str, bits: int = 16) -> str:
    """SQL text interleaving the low ``bits`` bits of two non-negative
    integer expressions into a Morton (Z-order) code — unrolled into a
    flat ``+`` chain of shift/mask terms so Spark and DuckDB evaluate
    the identical exact-integer expression (no lambda fold, no UDF).

    Both operands are cast to BIGINT before any shift: Spark's
    shiftleft/shiftright keep the INPUT column's integer width and take
    shift amounts mod that width (Java semantics), so a 32-bit INT
    column with bits=16 would emit shiftleft(..., 31) = -2^31 and
    bits>16 would silently wrap shift amounts mod 32.  In 64-bit the
    maximum shift here is 2*30+1 = 61 < 64, so every term is exact for
    any allowed ``bits`` regardless of the source column type."""
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in [1, 31]")
    terms = []
    for i in range(bits):
        terms.append(
            f"shiftleft(shiftright(CAST({col_a} AS BIGINT), {i}) & 1,"
            f" {2 * i})"
        )
        terms.append(
            f"shiftleft(shiftright(CAST({col_b} AS BIGINT), {i}) & 1,"
            f" {2 * i + 1})"
        )
    return "(" + " + ".join(terms) + ")"


def zorder_code(
    df: DataFrame,
    col_a: str,
    col_b: str,
    bits: int = 16,
    out_col: str = "zorder",
) -> DataFrame:
    """Adds the Morton (Z-order) interleaving of two integer dimensions —
    the multi-dimensional clustering key behind Delta/Iceberg OPTIMIZE
    ZORDER: rows close in (a, b) space land close in z-order, so a
    range-partitioned, sorted write clusters BOTH dimensions at once and
    min/max file statistics prune scans filtered on either column.

    Values are masked to the low ``bits`` bits first (callers normalize
    wider domains — e.g. day numbers, bucketed ids — upstream); the code
    is a pure narrow map of exact integer shift/mask arithmetic.
    """
    mask = (1 << bits) - 1
    code = morton_expr(f"({col_a} & {mask})", f"({col_b} & {mask})", bits)
    return df.withColumn(out_col, F.expr(code).cast("long"))


def zorder_layout(
    df: DataFrame,
    col_a: str,
    col_b: str,
    bits: int = 16,
    num_partitions: int | None = None,
) -> DataFrame:
    """The write path: compute the z-order code and range-partition +
    sort the frame by it, ready for a clustered parquet write (each
    output file then covers a compact z-range, giving min/max pruning on
    BOTH source dimensions).  Returns the arranged frame with the code
    column retained for inspection."""
    coded = zorder_code(df, col_a, col_b, bits)
    parts = [F.col("zorder").asc()]
    arranged = (
        coded.repartitionByRange(num_partitions, *parts)
        if num_partitions
        else coded.repartitionByRange(*parts)
    )
    return arranged.sortWithinPartitions("zorder")


def join_skew_report(
    df: DataFrame,
    key_col: str,
    top_n: int = 10,
) -> DataFrame:
    """Join-health diagnostic: the ``top_n`` heaviest join keys with
    their row share — the pre-flight check before any large shuffle join
    (a key holding >1% of a 100 TB fact table is the straggler that AQE
    skew-join or salting must handle; this report is how you find it).

    One map-side-combined groupBy, then ``orderBy().limit(top_n)`` —
    Spark plans that as TakeOrderedAndProject (partition-local top-k
    heaps merged on the driver), never a full sort of the key-count
    frame, so the report scales to billion-key domains.  The rank is
    then a window over the ``top_n``-row result only.  Returns
    (key, cnt, share_ppm, rank) with the share in exact integer parts
    per million (cnt·1e6 DIV total — no float ratios to drift).
    """
    from pyspark.sql import Window

    counts = df.groupBy(F.col(key_col)).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = counts.agg(
        F.sum("cnt").cast("long").alias("__tot")
    )
    # asc_nulls_last matches DuckDB's ASC default (Spark's is NULLS
    # FIRST) so a NULL key cannot flip top-n membership cross-engine
    top = counts.orderBy(
        F.col("cnt").desc(), F.col(key_col).asc_nulls_last()
    ).limit(top_n)
    w = Window.orderBy(
        F.col("cnt").desc(), F.col(key_col).asc_nulls_last()
    )
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(tot))
        .select(
            key_col, "cnt",
            F.expr("cnt * 1000000 DIV __tot").alias("share_ppm"),
            "rank",
        )
    )


def hilbert_step_exprs(k: int, bits: int, shr) -> tuple[str, str, str]:
    """One unrolled step of the canonical Hilbert xy2d walk (the
    Wikipedia/Warren formulation) as SQL expression text over the state
    columns ``__hx __hy __hd``: returns ``(d', x', y')`` for bit level
    ``k``. ``shr(expr, k)`` renders an arithmetic right shift in the
    target dialect (Spark ``shiftright``, DuckDB ``>>``) — every other
    operation is engine-portable exact integer arithmetic: the
    ``(3*rx) XOR ry`` quadrant code is expanded to
    ``3*rx + ry - 2*rx*ry`` (identical over {0,1}²) because ``^`` is
    POWER in DuckDB, and the rotation flip uses the FULL grid size
    ``2^bits - 1``, per the reference algorithm."""
    s = 1 << k
    n1 = (1 << bits) - 1
    rx = f"({shr('__hx', k)} & 1)"
    ry = f"({shr('__hy', k)} & 1)"
    d = f"(__hd + {s * s} * (3 * {rx} + {ry} - 2 * {rx} * {ry}))"
    x_new = (f"(CASE WHEN {ry} = 1 THEN __hx "
             f"WHEN {rx} = 1 THEN {n1} - __hy ELSE __hy END)")
    y_new = (f"(CASE WHEN {ry} = 1 THEN __hy "
             f"WHEN {rx} = 1 THEN {n1} - __hx ELSE __hx END)")
    return d, x_new, y_new


def hilbert_code(
    df: DataFrame,
    col_a: str,
    col_b: str,
    bits: int = 16,
    out_col: str = "hilbert",
) -> DataFrame:
    """Adds the Hilbert-curve index of two integer dimensions — the
    stronger sibling of :func:`zorder_code`: the Hilbert curve visits
    every cell of the 2^bits × 2^bits grid through ADJACENT cells only
    (no Z-shaped jumps), so consecutive index ranges map to more
    compact rectangles and min/max file pruning discards more files
    than Z-order for the same sort (the reason Delta Lake added
    ``OPTIMIZE ... HILBERT`` as liquid clustering's default curve).

    The xy2d walk rotates the frame at each of the ``bits`` levels, so
    unlike Morton interleaving it cannot be a flat sum of independent
    bit terms; it unrolls instead into ``bits`` chained SELECTs whose
    (x, y, d) states update SIMULTANEOUSLY per level — a pure narrow
    map of exact integer arithmetic (codegen-friendly, zero shuffles,
    plan depth linear in ``bits``). The identical step expressions are
    rendered for DuckDB by :func:`hilbert_step_exprs`, so the oracle
    replays the same walk bit-for-bit.
    """
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in [1, 31]")
    for c in ("__hx", "__hy", "__hd"):
        if c in df.columns:
            raise ValueError(f"input already has a {c!r} column")
    mask = (1 << bits) - 1
    keep = list(df.columns)
    cur = df.select(
        *keep,
        F.expr(f"CAST({col_a} AS BIGINT) & {mask}").alias("__hx"),
        F.expr(f"CAST({col_b} AS BIGINT) & {mask}").alias("__hy"),
        F.lit(0).cast("long").alias("__hd"),
    )

    def shr(e: str, k: int) -> str:
        return f"shiftright({e}, {k})"

    for k in reversed(range(bits)):
        d, x_new, y_new = hilbert_step_exprs(k, bits, shr)
        cur = cur.select(
            *keep,
            F.expr(x_new).alias("__hx"),
            F.expr(y_new).alias("__hy"),
            F.expr(d).alias("__hd"),
        )
    return cur.select(*keep, F.col("__hd").cast("long").alias(out_col))


def _pruning_validate(
    probes: list[tuple], bits: int, n_files: int, a_div: int, b_div: int
) -> None:
    if not 1 <= bits <= 15:
        raise ValueError("bits must be in [1, 15]")
    if n_files < 1 or (n_files & (n_files - 1)) or n_files > 4 ** bits:
        raise ValueError("n_files must be a power of two <= 4^bits")
    if a_div < 1 or b_div < 1:
        raise ValueError("cell divisors must be >= 1")
    if not probes:
        raise ValueError("need at least one probe rectangle")
    for p in probes:
        if len(p) != 5:
            raise ValueError(
                "each probe is (name, a_lo, a_hi, b_lo, b_hi)"
            )


def _morton_terms(ca: str, cb: str, bits: int, shl) -> str:
    """Morton interleave of two ALREADY-masked cell expressions as a flat
    ``+`` chain, dialect-parametrized: ``shl(expr, k)`` renders a left
    shift (Spark ``shiftleft``, DuckDB ``<<``)."""
    terms = []
    for i in range(bits):
        terms.append(shl(f"(({ca} >> {i}) & 1)", 2 * i))
        terms.append(shl(f"(({cb} >> {i}) & 1)", 2 * i + 1))
    return "(" + " + ".join(terms) + ")"


def pruning_report(
    df: DataFrame,
    col_a: str,
    col_b: str,
    probes: list[tuple],
    bits: int = 8,
    n_files: int = 64,
    a_div: int = 1,
    b_div: int = 1,
) -> DataFrame:
    """Zone-map file-skipping simulator — measures, per layout curve,
    how many files a rectangular predicate actually has to scan. This is
    the decision tool behind ``OPTIMIZE ZORDER``-style maintenance: at
    100 TB the scan cost of a filtered query is (files whose min/max
    stats overlap the predicate) × (file size), so the layout choice —
    linear composite sort vs Z-order vs Hilbert — IS the query cost.

    Model: both dimensions are coarsened to a 2^bits × 2^bits cell grid
    (``a_div``/``b_div`` are fixed cell widths in raw units, chosen by
    the caller so the domain fits the grid), each row gets three layout
    codes — ``linear`` (sort by b then a: the classic date-then-key
    table sort), ``zorder`` (Morton), ``hilbert`` (xy2d walk) — and the
    code space [0, 4^bits) is cut into ``n_files`` equal code ranges
    (the write-side range partition). Each non-empty file's zone map is
    the min/max of the RAW dimension values it holds, exactly what
    parquet footers store. A probe rectangle scans a file iff the boxes
    overlap.

    Returns one row per (ordering, probe): ``files_total``,
    ``files_scanned``, ``rows_scanned`` — all exact BIGINT counts.

    Scale: ONE scan of the fact table (the three codes are narrow maps
    sharing the Hilbert state chain; the 3× explode is narrow), ONE
    map-side-combined hash aggregate down to <= 3·n_files zone rows,
    then broadcast-cross-join against the literal probe list and a tiny
    final aggregate — no sort, no data-sized shuffle anywhere (unlike
    ntile-based equi-count splits, equal code ranges need no global
    sort; real writers split by bytes, but the zone-map overlap math is
    identical).
    """
    _pruning_validate(probes, bits, n_files, a_div, b_div)
    mask = (1 << bits) - 1
    step = (4 ** bits) // n_files
    base = df.select(
        F.expr(f"CAST({col_a} AS BIGINT)").alias("__a"),
        F.expr(f"CAST({col_b} AS BIGINT)").alias("__b"),
    ).select(
        "__a",
        "__b",
        F.expr(f"(__a DIV {a_div}) & {mask}").alias("__ca"),
        F.expr(f"(__b DIV {b_div}) & {mask}").alias("__cb"),
    ).select(
        "__a", "__b", "__ca", "__cb",
        F.col("__ca").alias("__hx"),
        F.col("__cb").alias("__hy"),
        F.lit(0).cast("long").alias("__hd"),
    )

    def shr(e: str, k: int) -> str:
        return f"shiftright({e}, {k})"

    keep = ["__a", "__b", "__ca", "__cb"]
    cur = base
    for k in reversed(range(bits)):
        d, x_new, y_new = hilbert_step_exprs(k, bits, shr)
        cur = cur.select(
            *keep,
            F.expr(x_new).alias("__hx"),
            F.expr(y_new).alias("__hy"),
            F.expr(d).alias("__hd"),
        )

    def shl(e: str, k: int) -> str:
        return f"shiftleft({e}, {k})" if k else e

    z = _morton_terms("__ca", "__cb", bits, shl)
    coded = cur.select(
        "__a", "__b",
        F.col("__hd").cast("long").alias("__h"),
        F.expr(z).cast("long").alias("__z"),
        F.expr(f"__cb * {1 << bits} + __ca").cast("long").alias("__l"),
    )
    per = coded.select(
        "__a", "__b",
        F.explode(F.array(
            F.struct(F.lit("hilbert").alias("ordering"),
                     F.col("__h").alias("code")),
            F.struct(F.lit("linear").alias("ordering"),
                     F.col("__l").alias("code")),
            F.struct(F.lit("zorder").alias("ordering"),
                     F.col("__z").alias("code")),
        )).alias("oc"),
    ).select(
        F.col("oc.ordering").alias("ordering"),
        F.expr(f"oc.code DIV {step}").alias("file_id"),
        "__a", "__b",
    )
    zones = per.groupBy("ordering", "file_id").agg(
        F.min("__a").alias("mina"), F.max("__a").alias("maxa"),
        F.min("__b").alias("minb"), F.max("__b").alias("maxb"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    spark = df.sparkSession
    pdf = local_frame(
        spark,
        [(str(n), int(al), int(ah), int(bl), int(bh))
         for n, al, ah, bl, bh in probes],
        "probe string, alo long, ahi long, blo long, bhi long",
    )
    hit = (
        (F.col("mina") <= F.col("ahi")) & (F.col("maxa") >= F.col("alo"))
        & (F.col("minb") <= F.col("bhi")) & (F.col("maxb") >= F.col("blo"))
    )
    return (
        zones.crossJoin(F.broadcast(pdf))
        .groupBy("ordering", "probe")
        .agg(
            F.count(F.lit(1)).cast("long").alias("files_total"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("long")
            .alias("files_scanned"),
            F.sum(F.when(hit, F.col("cnt")).otherwise(0)).cast("long")
            .alias("rows_scanned"),
        )
    )


def pruning_report_sql(
    base_cte: str,
    col_a: str,
    col_b: str,
    probes: list[tuple],
    bits: int = 8,
    n_files: int = 64,
    a_div: int = 1,
    b_div: int = 1,
) -> str:
    """The DuckDB twin of :func:`pruning_report`: replays the identical
    cell grid, the three layout codes (Hilbert via the shared
    :func:`hilbert_step_exprs` chain), equal-code-range file ids, raw
    min/max zone maps, and the overlap counts — bit-for-bit. Integer
    sums are cast to BIGINT (DuckDB sums to int128 otherwise)."""
    _pruning_validate(probes, bits, n_files, a_div, b_div)
    mask = (1 << bits) - 1
    step = (4 ** bits) // n_files
    parts = [base_cte]
    parts.append(
        f"c AS (SELECT CAST({col_a} AS BIGINT) AS __a, "
        f"CAST({col_b} AS BIGINT) AS __b FROM base)"
    )
    parts.append(
        f"h{bits} AS (SELECT __a, __b, "
        f"(__a // {a_div}) & {mask} AS __ca, "
        f"(__b // {b_div}) & {mask} AS __cb, "
        f"(__a // {a_div}) & {mask} AS __hx, "
        f"(__b // {b_div}) & {mask} AS __hy, "
        f"CAST(0 AS BIGINT) AS __hd FROM c)"
    )

    def shr(e: str, k: int) -> str:
        return f"({e} >> {k})"

    keep = "__a, __b, __ca, __cb"
    for k in reversed(range(bits)):
        d, x_new, y_new = hilbert_step_exprs(k, bits, shr)
        parts.append(
            f"h{k} AS (SELECT {keep}, {x_new} AS __hx, {y_new} AS __hy, "
            f"{d} AS __hd FROM h{k + 1})"
        )

    def shl(e: str, k: int) -> str:
        return f"({e} << {k})" if k else e

    z = _morton_terms("__ca", "__cb", bits, shl)
    parts.append(
        f"codes AS (SELECT __a, __b, __hd AS __h, "
        f"CAST({z} AS BIGINT) AS __z, "
        f"CAST(__cb * {1 << bits} + __ca AS BIGINT) AS __l FROM h0)"
    )
    parts.append(
        "per AS (SELECT 'hilbert' AS ordering, __h AS code, __a, __b "
        "FROM codes UNION ALL "
        "SELECT 'linear', __l, __a, __b FROM codes UNION ALL "
        "SELECT 'zorder', __z, __a, __b FROM codes)"
    )
    parts.append(
        f"zones AS (SELECT ordering, code // {step} AS file_id, "
        "min(__a) AS mina, max(__a) AS maxa, "
        "min(__b) AS minb, max(__b) AS maxb, "
        "CAST(count(*) AS BIGINT) AS cnt FROM per GROUP BY 1, 2)"
    )
    rows = ", ".join(
        f"('{n}', {int(al)}, {int(ah)}, {int(bl)}, {int(bh)})"
        for n, al, ah, bl, bh in probes
    )
    parts.append(
        f"probes(probe, alo, ahi, blo, bhi) AS (VALUES {rows})"
    )
    hit = ("mina <= ahi AND maxa >= alo AND minb <= bhi "
           "AND maxb >= blo")
    return (
        "WITH " + ",\n".join(parts) + "\n"
        "SELECT z.ordering, p.probe,\n"
        "  CAST(count(*) AS BIGINT) AS files_total,\n"
        f"  CAST(count(*) FILTER (WHERE {hit}) AS BIGINT)"
        " AS files_scanned,\n"
        f"  CAST(COALESCE(SUM(cnt) FILTER (WHERE {hit}), 0) AS BIGINT)"
        " AS rows_scanned\n"
        "FROM zones z CROSS JOIN probes p\n"
        "GROUP BY z.ordering, p.probe"
    )


def hilbert_sql(
    base_cte: str,
    keep_cols: list[str],
    col_a: str,
    col_b: str,
    bits: int = 16,
    out_col: str = "hilbert",
) -> str:
    """The DuckDB twin of :func:`hilbert_code`: a full query string
    replaying the identical unrolled walk as chained CTEs over
    ``base_cte`` (a ``name AS (SELECT ...)`` fragment providing
    ``keep_cols`` plus the two dimension columns)."""
    mask = (1 << bits) - 1
    keep = ", ".join(keep_cols)
    parts = [base_cte]
    parts.append(
        f"h{bits} AS (SELECT {keep}, "
        f"CAST({col_a} AS BIGINT) & {mask} AS __hx, "
        f"CAST({col_b} AS BIGINT) & {mask} AS __hy, "
        f"CAST(0 AS BIGINT) AS __hd FROM base)"
    )

    def shr(e: str, k: int) -> str:
        return f"({e} >> {k})"

    for k in reversed(range(bits)):
        d, x_new, y_new = hilbert_step_exprs(k, bits, shr)
        parts.append(
            f"h{k} AS (SELECT {keep}, {x_new} AS __hx, {y_new} AS __hy, "
            f"{d} AS __hd FROM h{k + 1})"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT {keep}, CAST(__hd AS BIGINT) AS {out_col} FROM h0"
    )
