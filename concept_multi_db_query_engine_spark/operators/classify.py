"""Supervised quality-classifier training and evaluation over document
frames — the fastText-style filtering stage of a training-data pipeline
(CCNet/LLaMA-style "does this look like reference text" gates), built so
every number is bit-reproducible cross-engine.

Design rules inherited from the package's determinism discipline:

* the per-iteration gradient is quantized to exact micro-unit BIGINTs
  and SUMMED AS INTEGERS — float summation order never matters;
* the squashing function is the ALGEBRAIC sigmoid
  ``0.5 + z / (2 (1 + |z|))`` — one add, one abs, two divides, all
  correctly-rounded IEEE ops, so Spark, DuckDB and the Python driver
  produce the SAME double where ``exp``-based logistic would drift by
  libm ULPs.  It is a proper monotone squash onto (0, 1); swap
  ``exp`` back in deployment if calibration against true logistic
  probabilities matters more than replayability;
* driver state is the (d+1)-element weight vector only — model data,
  never rows; each iteration is ONE scan with a map-side-combined
  integer aggregate;
* scoring is a pure narrow map (weights baked into the expression), so
  it runs unchanged on a stream.

Reference tie: the reference's closed scalar-function set
(README.md:320-344) has no UDF hook; classifier training is part of the
SURVEY.md §2.16 surface the LLM extensions deliberately add on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

_Q = 1_000_000  # micro-unit quantization scale


def _sigmoid_sql(z: str) -> str:
    """Algebraic sigmoid as a fixed-shape SQL double expression."""
    return f"(0.5d + ({z}) / (2.0d * (1.0d + abs({z}))))"


def _sigmoid_py(z: float) -> float:
    return 0.5 + z / (2.0 * (1.0 + abs(z)))


def _dot_sql(weights: list[float], feature_exprs: list[str]) -> str:
    """Left-to-right fold ``((w0 + w1*f1) + w2*f2) + …`` — the fixed
    association order both engines and the Python replay share."""
    z = f"CAST({weights[0]!r} AS DOUBLE)"
    for w, fx in zip(weights[1:], feature_exprs):
        z = f"({z} + CAST({w!r} AS DOUBLE) * ({fx}))"
    return z


def logistic_train(
    df: DataFrame,
    feature_exprs: list[str],
    label_expr: str,
    lr: float = 4.0,
    iterations: int = 8,
) -> list[float]:
    """Full-batch gradient-descent logistic training, exact and
    replayable: iteration t scans once, computing per-row
    ``resid = y − σ(w·x)`` and the micro-unit-quantized per-feature
    contributions ``round(resid · f_j · 1e6)`` summed as BIGINTs; the
    driver then applies ``w_j += lr · ((S_j / 1e6) / n)`` — four IEEE
    ops in a fixed order, so a SQL replay of the same recurrence
    reproduces every weight bit-for-bit.

    ``feature_exprs`` are SQL expressions over ``df`` (keep them exact:
    integer-ratio features like ``digits/length`` are one correctly-
    rounded division); ``label_expr`` must evaluate to 0/1.  Rows where
    any feature or the label is NULL are excluded (both engines).

    The label and every feature are projected to plain columns in ONE
    projection, that projection is CHECKPOINTED, and only then is the
    null filter applied: a WHERE with d feature null-checks over
    derived expressions re-evaluates each expression per check (filter
    pushdown substitutes aliases with no cost guard, and there is no
    cross-predicate subexpression elimination), which for
    array-pipeline features like the hashed n-gram histogram
    multiplied a 0.5 s featurization into ~11 s at sf0.1.  The
    checkpoint is the pushdown barrier; storing-then-reading the
    double is value-identity, so weights are bit-unchanged.

    Scale: driver traffic is ``iterations`` × (d+2) integers; each
    iteration is one scan + one map-side-combined aggregate. Returns
    [bias, w_1, …, w_d].
    """
    from ._scaleout import fan_out

    d = len(feature_exprs)
    cols = [f"__f{j}" for j in range(1, d + 1)]
    # fan_out so the pinned frame (and with it every iteration's scan)
    # has at least session parallelism; callers whose featurization is
    # itself expensive should fan out BELOW it — this probe then sees
    # the exchange and backs off
    proj = fan_out(df).select(
        F.expr(f"CAST(({label_expr}) AS DOUBLE)").alias("__y"),
        *[F.expr(fx).alias(c)
          for c, fx in zip(cols, feature_exprs)],
    )
    # Checkpoint BEFORE the null filter: a WHERE over the projected
    # aliases is pushed back through every Project by the optimizer
    # (alias substitution has no expression-cost guard), so each of the
    # d+1 null checks re-evaluates its full feature pipeline — for
    # HOF-heavy features (hashed n-gram fold, token filters) that
    # multiplied this one pass ~20x (measured 10.7 s vs 0.5 s at
    # sf0.1).  The checkpoint is a pushdown barrier: the filter then
    # reads plain stored doubles.  Same rows survive, so weights are
    # bit-identical; the extra storage is the (rare) all-null rows.
    mat = proj.localCheckpoint(eager=True)
    pinned = mat.where(
        " AND ".join(["__y IS NOT NULL"]
                     + [f"{c} IS NOT NULL" for c in cols])
    )
    # the loop pays a fixed per-task cost EVERY iteration — bound its
    # task count by the (now known) row count; identity at corpus scale
    from ._scaleout import loop_width

    n_rows = pinned.count()
    if n_rows == 0:
        raise ValueError("logistic_train: no usable rows")
    # the iterations are planned in the fit session (_fastiter): a
    # fixed-shape global aggregate per iteration, values unaffected
    from ._fastiter import fit_session, rebind

    base = rebind(loop_width(pinned, n_rows), fit_session(df.sparkSession))
    w = [0.0] * (d + 1)
    for _ in range(iterations):
        z = _dot_sql(w, cols)
        resid = f"(__y - {_sigmoid_sql(z)})"
        # residual computed ONCE per row, then short quantized sums —
        # keeps plan size linear in d instead of d × |fold| (and is
        # the exact shape the SQL oracle replays)
        staged = base.select(F.expr(resid).alias("__r"), *cols)
        aggs = [F.count(F.lit(1)).cast("long").alias("n")]
        aggs.append(
            F.expr(f"sum(CAST(round(__r * {_Q}.0d) AS BIGINT))")
            .alias("s0")
        )
        for j in range(1, len(feature_exprs) + 1):
            aggs.append(
                F.expr(
                    f"sum(CAST(round((__r * __f{j}) * {_Q}.0d) "
                    f"AS BIGINT))"
                ).alias(f"s{j}")
            )
        row = staged.agg(*aggs).collect()[0]
        n = int(row["n"])
        if n == 0:
            raise ValueError("logistic_train: no usable rows")
        for j in range(len(w)):
            sj = int(row[f"s{j}"])
            w[j] = w[j] + lr * ((sj / float(_Q)) / n)
    mat.unpersist()
    return w


def logistic_score(
    df: DataFrame,
    weights: list[float],
    feature_exprs: list[str],
    label_expr: str | None = None,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Score rows with a frozen weight vector: a pure NARROW MAP (the
    weights are literals in one fixed-shape expression), zero shuffles,
    stream-safe.  Returns (id, score, predicted[, label]) with the
    score rounded to 6."""
    z = _dot_sql(weights, feature_exprs)
    cols = [
        F.col(id_col),
        F.expr(f"round({_sigmoid_sql(z)}, 6) + 0.0d").alias("score"),
        F.expr(
            f"CAST({_sigmoid_sql(z)} > CAST({threshold!r} AS DOUBLE) "
            "AS BOOLEAN)"
        ).alias("predicted"),
    ]
    if label_expr is not None:
        cols.append(
            F.expr(f"CAST(({label_expr}) AS BIGINT)").alias("label"))
    return df.select(*cols)


def calibration_report(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram + expected-calibration-error inputs: bucket
    predictions by score, compare mean predicted probability with the
    empirical positive rate per bucket — the standard check before a
    classifier's scores gate a corpus (a miscalibrated 0.9 keeps junk).

    ONE hash aggregation: scores are round-6 by contract, so
    ``score·1e6`` is an exact integer and the per-bin mean is an exact
    integer ratio (one correctly-rounded division) — no float-order
    dependence.  The ECE term is the bin's |gap| · n/N, emitted per bin
    so the sum is a one-row follow-up.  Returns (bin, n, mean_score,
    positive_rate, abs_gap, ece_term), doubles rounded 6.
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    binned = scored.where(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.expr(
            f"least(CAST(floor({score_col} * {n_bins}) AS BIGINT), "
            f"{n_bins - 1})"
        ).alias("bin"),
        F.expr(f"CAST(round({score_col} * {_Q}.0d) AS BIGINT)")
        .alias("__sq"),
        F.expr(f"CAST({label_col} AS BIGINT)").alias("__y"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__sq").cast("long").alias("__ssum"),
        F.sum("__y").cast("long").alias("__pos"),
    )
    from pyspark.sql import Window

    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_bin.withColumn(
        "__total", F.sum("n").over(wall).cast("long")
    ).select(
        "bin", "n",
        F.expr(
            f"round((CAST(__ssum AS DOUBLE) / {_Q}.0d) "
            "/ CAST(n AS DOUBLE), 6)"
        ).alias("mean_score"),
        F.expr(
            "round(CAST(__pos AS DOUBLE) / CAST(n AS DOUBLE), 6)"
        ).alias("positive_rate"),
        F.expr(
            f"round(abs((CAST(__ssum AS DOUBLE) / {_Q}.0d) "
            "/ CAST(n AS DOUBLE) "
            "- CAST(__pos AS DOUBLE) / CAST(n AS DOUBLE)), 6)"
        ).alias("abs_gap"),
        F.expr(
            f"round(abs((CAST(__ssum AS DOUBLE) / {_Q}.0d) "
            "/ CAST(n AS DOUBLE) "
            "- CAST(__pos AS DOUBLE) / CAST(n AS DOUBLE)) "
            "* CAST(n AS DOUBLE) / CAST(__total AS DOUBLE), 6)"
        ).alias("ece_term"),
    )


# The document-quality feature set the gate queries train on: exact
# integer-ratio signals (each ONE correctly-rounded division), cheap at
# scan speed, and discriminative for language/source routing.
DOC_FEATURES = [
    # space density (word-length proxy)
    "(CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) "
    "/ CAST(length(text) AS DOUBLE))",
    # vowel density (latin-language signal)
    "(CAST(length(text) - length(translate(text, 'aeiou', '')) "
    "AS DOUBLE) / CAST(length(text) AS DOUBLE))",
    # digit density
    "(CAST(length(text) - length(translate(text, '0123456789', '')) "
    "AS DOUBLE) / CAST(length(text) AS DOUBLE))",
]


def hashed_ngram_features(
    docs: DataFrame,
    n_buckets: int = 16,
    salt: str = "ftlid",
    text_col: str = "text",
    include_bigrams: bool = True,
) -> tuple[DataFrame, list[str]]:
    """fastText-style hashed n-gram featurization (Joulin et al. 2016,
    "Bag of Tricks for Efficient Text Classification"): every word
    unigram (and bigram) hashes into one of ``n_buckets`` buckets via
    the deterministic md5 60-bit lattice, and each document's feature
    vector is its normalized bucket histogram — the scalable
    MODEL-BASED language/quality-ID front end that replaces hand-picked
    token features (:data:`DOC_FEATURES`) with the full n-gram
    distribution at a fixed dimensionality.

    Feed the returned ``(frame, feature_exprs)`` straight into
    :func:`logistic_train` / :func:`logistic_score`: the histogram is
    materialized ONCE as an array column (``__ft_cnt``) so each
    feature expression is an O(1) ``element_at`` — per-iteration cost
    is independent of document length (the higher-order-lambda
    re-evaluation trap is avoided by construction).  Feature j is
    ``count_j * 10 / total_ngrams`` — one correctly-rounded division,
    exact cross-engine.  The empty-bigram edge (1-word docs) is
    CASE-guarded because Spark's ``sequence(1, 0)`` is descending
    while DuckDB's ``generate_series(1, 0)`` is empty.

    A pure narrow map: no shuffle, scan-bound, stream-safe.  Bigger
    ``n_buckets`` trades plan width (d weight literals per GD
    iteration) for less hash aliasing — 2^4..2^8 is the practical
    band for the algebraic-sigmoid GD here.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    b = int(n_buckets)
    # the word array is materialized as its own column FIRST: Spark
    # re-evaluates captured expressions inside higher-order lambdas per
    # produced element, so element_at(split(text), i) in the bigram
    # builder would re-split the document per bigram (quadratic — the
    # round-12 pmi lesson)
    grams = ("""CASE WHEN size(__ft_w) >= 2 THEN concat(
        __ft_w,
        transform(sequence(1, size(__ft_w) - 1),
                  i -> concat(element_at(__ft_w, i), ' ',
                              element_at(__ft_w, i + 1))))
        ELSE __ft_w END""" if include_bigrams else "__ft_w")
    hashed = (
        f"transform(__ft_g, g -> CAST(conv(substring(md5(concat(g, "
        f"':{salt}')), 1, 15), 16, 10) AS BIGINT) % {b})"
    )
    # single-pass fold: the hash array is the aggregate's input, so it
    # is evaluated exactly once per row no matter how a later plan
    # collapse duplicates references to the histogram (a per-bucket
    # filter(h, x -> x = j) would rescan — and re-hash — B times when
    # subexpression elimination is unavailable)
    hist = (
        f"aggregate(__ft_h, array_repeat(CAST(0 AS BIGINT), {b}), "
        f"(acc, x) -> transform(acc, (v, i) -> "
        f"IF(i = CAST(x AS INT), v + 1L, v)))"
    )
    # fan out BEFORE the featurization lambdas: the md5-per-gram hash
    # and the O(grams x buckets) histogram fold are the dominant
    # per-row cost and would otherwise run at the scan's parallelism
    # (one task on a single-row-group file); no-op on streams, on
    # already-shuffled inputs, and at cluster scale
    from ._scaleout import fan_out

    frame = fan_out(docs.where(f"({text_col}) IS NOT NULL")).withColumn(
        "__ft_w", F.expr(f"split({text_col}, ' ')")
    ).withColumn(
        "__ft_g", F.expr(grams)
    ).withColumn("__ft_h", F.expr(hashed)).withColumn(
        "__ft_n", F.expr("CAST(size(__ft_h) AS BIGINT)")
    ).withColumn("__ft_cnt", F.expr(hist)).drop(
        "__ft_w", "__ft_g", "__ft_h")
    feats = [
        f"(CAST(element_at(__ft_cnt, {j + 1}) AS DOUBLE) * 10.0d "
        f"/ CAST(__ft_n AS DOUBLE))"
        for j in range(b)
    ]
    return frame, feats


def quantile_regression_train(
    df: DataFrame,
    feature_exprs: list[str],
    target_expr: str,
    tau: float = 0.5,
    lr: float = 1.0,
    iterations: int = 16,
) -> list[float]:
    """Linear QUANTILE regression by full-batch subgradient descent on
    the pinball loss — conditional quantiles at corpus scale (p90
    latency vs load, p10 revenue vs cohort age …), where OLS gives only
    the conditional MEAN and exact per-group quantiles need discrete
    groups.

    The pinball subgradient is piecewise CONSTANT in the residual sign
    — ``τ − 1[y < w·x]`` — so each per-row contribution is one of two
    exact values times the feature: quantized micro-unit BIGINT sums
    (the :func:`logistic_train` discipline) make every iteration
    bit-replayable in SQL; the driver update is the same fixed-order
    four-op arithmetic.  One scan per iteration, (d+2) integers of
    driver traffic.  Returns [bias, w_1, …, w_d].
    """
    if not 0 < tau < 1:
        raise ValueError("tau must be in (0, 1)")
    from ._scaleout import fan_out

    d = len(feature_exprs)
    cols = [f"__f{j}" for j in range(1, d + 1)]
    # project target + features ONCE, checkpoint, then null-filter on
    # the stored columns (the logistic_train discipline: the checkpoint
    # is a filter-pushdown barrier, and the loop below reads plain
    # doubles instead of re-evaluating every feature expression each
    # iteration).  Stored double == computed double, so weights are
    # bit-identical.
    proj = fan_out(df).select(
        F.expr(f"CAST(({target_expr}) AS DOUBLE)").alias("__t"),
        *[F.expr(fx).alias(c) for c, fx in zip(cols, feature_exprs)],
    )
    mat = proj.localCheckpoint(eager=True)
    pinned = mat.where(
        " AND ".join(["__t IS NOT NULL"]
                     + [f"{c} IS NOT NULL" for c in cols])
    )
    # bound the loop's per-iteration task count by the known row count
    # (fixed per-task cost x iterations; identity at corpus scale)
    from ._scaleout import loop_width

    n_rows = pinned.count()
    if n_rows == 0:
        raise ValueError("quantile_regression_train: no usable rows")
    # planned in the fit session (the logistic_train rationale)
    from ._fastiter import fit_session, rebind

    base = rebind(loop_width(pinned, n_rows), fit_session(df.sparkSession))
    w = [0.0] * (len(feature_exprs) + 1)
    for _ in range(iterations):
        z = _dot_sql(w, cols)
        grad = (
            f"(CAST({tau!r} AS DOUBLE) - CASE WHEN "
            f"__t < {z} THEN 1.0d "
            "ELSE 0.0d END)"
        )
        staged = base.select(F.expr(grad).alias("__g"), *cols)
        aggs = [F.count(F.lit(1)).cast("long").alias("n")]
        aggs.append(
            F.expr(f"sum(CAST(round(__g * {_Q}.0d) AS BIGINT))")
            .alias("s0"))
        for j in range(1, len(feature_exprs) + 1):
            aggs.append(
                F.expr(
                    f"sum(CAST(round((__g * __f{j}) * {_Q}.0d) "
                    "AS BIGINT))"
                ).alias(f"s{j}"))
        row = staged.agg(*aggs).collect()[0]
        n = int(row["n"])
        if n == 0:
            raise ValueError(
                "quantile_regression_train: no usable rows")
        for j in range(len(w)):
            w[j] = w[j] + lr * ((int(row[f"s{j}"]) / float(_Q)) / n)
    mat.unpersist()
    return w


def linear_predict(
    df: DataFrame,
    weights: list[float],
    feature_exprs: list[str],
    id_col: str = "doc_id",
    out_col: str = "pred",
) -> DataFrame:
    """Frozen linear model scoring — a pure narrow map (the
    :func:`logistic_score` shape without the squash).  Returns
    (id, out_col) with the prediction rounded 6."""
    z = _dot_sql(weights, feature_exprs)
    return df.select(
        F.col(id_col),
        F.expr(f"round({z}, 6) + 0.0d").alias(out_col),
    )


def c2st_drift(
    old: DataFrame,
    new: DataFrame,
    feature_exprs: list[str],
    lr: float = 1.0,
    iterations: int = 12,
    id_col: str = "doc_id",
) -> DataFrame:
    """Classifier two-sample test (Lopez-Paz & Oquab 2017) — the
    modern multivariate drift detector: train a classifier to
    distinguish OLD from NEW corpus rows on the given features; if its
    AUC is ≈ 0.5 the distributions are indistinguishable, and every
    point above that quantifies drift in the one number monitoring
    systems alert on.

    Training is :func:`logistic_train` (exact quantized GD — the whole
    test replays in SQL).  The AUC is the EXACT tie-aware Mann-Whitney
    statistic computed from round-6 score groups as pure integers:
    ``AUC = Σ_g n1_g · (2·cum_n0_before + n0_g) / (2·n0·n1)`` — one
    aggregation over distinct scores plus one ordered window, no
    float-order dependence anywhere.  Returns ONE row:
    (n_old, n_new, auc) — auc rounded 6.
    """
    o = old.withColumn("__is_new", F.lit(0))
    n = new.withColumn("__is_new", F.lit(1))
    both = o.unionByName(n).localCheckpoint(eager=True)
    w = logistic_train(both, feature_exprs, "__is_new",
                       lr=lr, iterations=iterations)
    scored = logistic_score(both, w, feature_exprs, "__is_new",
                            id_col=id_col)
    return _exact_auc_frame(
        scored, f"CAST(round(score * {_Q}.0d) AS BIGINT)", "label"
    ).select(
        F.col("n0").alias("n_old"),
        F.col("n1").alias("n_new"),
        "auc",
    )


def _exact_auc_frame(scored: DataFrame, score_int: str, y: str):
    """(n0, n1, auc) from integer score groups — the tie-aware
    Mann-Whitney machinery :func:`c2st_drift` uses, shared.  The
    cumulative negative counts ride
    :func:`~..operators.stats.distributed_prefix_counts` — callers
    quantize scores first so the distinct frame is bounded, but the
    range-partitioned idiom keeps this safe even for wide score
    domains (no single-task global window)."""
    from .stats import distributed_prefix_counts

    groups = scored.groupBy(F.expr(score_int).alias("s")).agg(
        F.sum(F.expr(f"CASE WHEN {y} = 0 THEN 1 ELSE 0 END"))
        .cast("long").alias("n0"),
        F.sum(F.expr(f"CASE WHEN {y} = 1 THEN 1 ELSE 0 END"))
        .cast("long").alias("n1"),
    )
    cum, _ = distributed_prefix_counts(groups, "s", ["n0"])
    staged = cum.select(
        "n0", "n1", F.col("__before_n0").alias("cum0")
    )
    return staged.agg(
        F.sum("n0").cast("long").alias("n0"),
        F.sum("n1").cast("long").alias("n1"),
        F.expr(
            "round(CAST(sum(n1 * (2 * cum0 + n0)) AS DOUBLE) "
            "/ nullif(2.0d * CAST(sum(n0) AS DOUBLE) "
            "* CAST(sum(n1) AS DOUBLE), 0.0d), 6)"
        ).alias("auc"),
    )


def feature_auc_report(
    df: DataFrame,
    feature_exprs: list[str],
    label_expr: str,
    names: list[str] | None = None,
) -> DataFrame:
    """Univariate feature screening by exact tie-aware AUC: for each
    candidate feature, how well does IT ALONE rank positives above
    negatives — the cheap filter run before spending training cycles
    (an AUC ≈ 0.5 feature carries no marginal ranking signal; one far
    from 0.5 in either direction does).

    ONE scan for every feature: all features evaluate in a single
    projection, a ``stack`` unpivot reshapes to (feature_idx, value,
    label) rows, and the shared integer Mann-Whitney machinery
    (:func:`c2st_drift`'s AUC — round-6 score groups, exact BIGINT
    numerators) runs ONCE over (feature_idx, score) groups ordered by
    (feature_idx, score).  The within-feature exclusive prefix is the
    global prefix minus the feature's own minimum prefix (= the total
    negatives of all earlier features) — an exact BIGINT offset, so
    every per-feature AUC is bit-identical to the one-scan-per-feature
    shape this replaced (which cost N corpus scans + N window passes
    for N features).  Returns one row per feature: (feature, n_neg,
    n_pos, auc, abs_signal = |auc − 0.5|), auc rounded 6.
    """
    from .stats import distributed_prefix_counts

    if not feature_exprs:
        raise ValueError("feature_exprs must be non-empty")
    names = names or list(feature_exprs)
    if len(names) != len(feature_exprs):
        raise ValueError("names must align with feature_exprs")
    nf = len(feature_exprs)
    proj = df.where(f"({label_expr}) IS NOT NULL").select(
        F.expr(f"CAST(({label_expr}) AS INT)").alias("__y"),
        *[
            F.expr(f"round(CAST(({fx}) AS DOUBLE), 6)").alias(f"__f{i}")
            for i, fx in enumerate(feature_exprs)
        ],
    )
    stack_args = ", ".join(f"{i}, __f{i}" for i in range(nf))
    long_rows = proj.select(
        "__y",
        F.expr(f"stack({nf}, {stack_args}) AS (__fi, __v)"),
    ).where("__v IS NOT NULL")
    groups = long_rows.groupBy(
        F.col("__fi"),
        F.expr(f"CAST(round(__v * {_Q}.0d) AS BIGINT)").alias("s"),
    ).agg(
        F.sum(F.expr("CASE WHEN __y = 0 THEN 1 ELSE 0 END"))
        .cast("long").alias("n0"),
        F.sum(F.expr("CASE WHEN __y = 1 THEN 1 ELSE 0 END"))
        .cast("long").alias("n1"),
    )
    cum, _ = distributed_prefix_counts(
        groups, [F.col("__fi").asc(), F.col("s").asc()], ["n0"]
    )
    per = cum.groupBy("__fi").agg(
        F.sum("n0").cast("long").alias("n0"),
        F.sum("n1").cast("long").alias("n1"),
        F.min("__before_n0").cast("long").alias("__off"),
        F.sum(F.expr("n1 * (2 * __before_n0 + n0)"))
        .cast("long").alias("__numer_g"),
    ).select(
        "__fi",
        F.col("n0").alias("n_neg"),
        F.col("n1").alias("n_pos"),
        F.expr(
            "round(CAST((__numer_g - 2 * __off * n1) AS DOUBLE) "
            "/ nullif(2.0d * CAST(n0 AS DOUBLE) "
            "* CAST(n1 AS DOUBLE), 0.0d), 6)"
        ).alias("auc"),
    ).withColumn("abs_signal", F.expr("round(abs(auc - 0.5d), 6)"))
    names_df = local_frame(
        df.sparkSession,
        [(i, nm) for i, nm in enumerate(names)],
        "__fi INT, feature STRING",
    )
    # coalesce the joined counts: a feature with zero usable values has
    # no `per` row, and the pre-r14 per-feature aggregate contract was
    # n_neg = n_pos = 0 (auc/abs_signal stay NULL) in that degenerate
    # case, not NULL counts
    return names_df.join(per, "__fi", "left").select(
        "feature",
        F.coalesce(F.col("n_neg"), F.lit(0).cast("long")).alias("n_neg"),
        F.coalesce(F.col("n_pos"), F.lit(0).cast("long")).alias("n_pos"),
        "auc", "abs_signal",
    )


def woe_iv_report(
    df: DataFrame,
    bucket_exprs: list[str],
    label_expr: str,
    names: list[str] | None = None,
) -> DataFrame:
    """Weight-of-evidence / information-value feature screening
    (Siddiqi 2006, credit-scorecard practice): for each candidate
    feature, bucket the rows and measure how differently positives and
    negatives distribute across the buckets —

        woe(b)  = ln( (pos_b + 0.5)/POS  /  ((neg_b + 0.5)/NEG) )
        IV      = sum_b (pos_b'/POS − neg_b'/NEG) · woe(b)

    (0.5-smoothed counts, the standard zero-cell guard). IV < 0.02 ≈
    useless, 0.1–0.3 medium, > 0.5 suspicious — the rank-free
    companion to :func:`feature_auc_report` that also localizes WHICH
    buckets carry the signal.

    Determinism: bucket counts are exact longs; WOE quantizes a single
    fixed-order ln expression to integer micros, the IV terms
    re-quantize before the per-feature integer sum — cross-engine
    bit-stable (the shared libm-micro discipline).

    Plan shape: ONE scan + one hash aggregate per feature (map-side
    combined; the bucket frame is vocabulary-sized, never the corpus);
    totals and the per-feature IV come from unpartitioned /
    feature-partitioned windows over those bucket frames.  Returns one
    row per (feature, bucket): (feature, bucket, n_pos, n_neg,
    woe_micro, woe, iv_micro, iv) — the iv columns repeat the
    feature-level total per row.
    """
    from pyspark.sql import Window

    if not bucket_exprs:
        raise ValueError("bucket_exprs must be non-empty")
    names = names or list(bucket_exprs)
    if len(names) != len(bucket_exprs):
        raise ValueError("names must align with bucket_exprs")
    tot_w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    parts = []
    for name, bx in zip(names, bucket_exprs):
        g = (
            df.where(f"({bx}) IS NOT NULL AND ({label_expr}) IS NOT NULL")
            .select(
                F.expr(f"CAST(({bx}) AS STRING)").alias("bucket"),
                F.expr(f"CAST(({label_expr}) AS INT)").alias("__y"),
            )
            .groupBy("bucket")
            .agg(
                F.expr("CAST(sum(CASE WHEN __y = 1 THEN 1 ELSE 0 END) "
                       "AS BIGINT)").alias("n_pos"),
                F.expr("CAST(sum(CASE WHEN __y = 0 THEN 1 ELSE 0 END) "
                       "AS BIGINT)").alias("n_neg"),
            )
        )
        parts.append(
            g.select(
                F.lit(name).alias("feature"), "bucket", "n_pos", "n_neg",
            )
            .withColumn("__tp", F.sum("n_pos").over(tot_w).cast("long"))
            .withColumn("__tn", F.sum("n_neg").over(tot_w).cast("long"))
        )
    staged = parts[0]
    for p in parts[1:]:
        staged = staged.unionByName(p)
    staged = staged.withColumn(
        "woe_micro",
        F.expr(
            "CASE WHEN __tp = 0 OR __tn = 0 THEN NULL ELSE "
            "CAST(round(ln(((CAST(n_pos AS DOUBLE) + 0.5) "
            "* CAST(__tn AS DOUBLE)) "
            "/ ((CAST(n_neg AS DOUBLE) + 0.5) "
            "* CAST(__tp AS DOUBLE))) * 1000000.0) AS BIGINT) END"
        ),
    ).withColumn(
        "__iv_term",
        F.expr(
            "CAST(round(((CAST(n_pos AS DOUBLE) + 0.5) "
            "/ nullif(CAST(__tp AS DOUBLE), 0.0) "
            "- (CAST(n_neg AS DOUBLE) + 0.5) "
            "/ nullif(CAST(__tn AS DOUBLE), 0.0)) "
            "* (CAST(woe_micro AS DOUBLE) / 1000000.0) "
            "* 1000000.0) AS BIGINT)"
        ),
    )
    iv_w = Window.partitionBy("feature").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        staged.withColumn(
            "iv_micro", F.sum("__iv_term").over(iv_w).cast("long")
        )
        .select(
            "feature", "bucket", "n_pos", "n_neg",
            "woe_micro",
            (F.col("woe_micro").cast("double") / 1e6).alias("woe"),
            "iv_micro",
            (F.col("iv_micro").cast("double") / 1e6).alias("iv"),
        )
        .orderBy("feature", "bucket")
    )


def cohens_kappa(df: DataFrame, expr_a: str, expr_b: str) -> DataFrame:
    """Cohen's kappa between two categorical columns — chance-corrected
    agreement (Cohen 1960): ``kappa = (p_o − p_e) / (1 − p_e)`` where
    ``p_o`` is the observed agreement rate and ``p_e`` the agreement
    expected from the marginal distributions alone.  The standard
    check that a classifier (or a second annotator) beats
    majority-class guessing — raw accuracy cannot tell.

    Everything reduces to the confusion-cell frame (model data: one
    row per label pair), which is localCheckpoint'd because THREE
    branches read it (totals, row marginals, column marginals) — each
    would otherwise replay the corpus scan.  ``p_e``'s numerator is an
    exact DECIMAL(38,0) sum of marginal products (BIGINT would
    overflow at ~1e11-row marginals), converted to double once,
    correctly rounded; the ratios are fixed-order double expressions
    micro-quantized for cross-engine stability.

    Returns ONE row: (n, n_agree, po_micro, pe_micro, kappa_micro,
    kappa).  NULL kappa when n = 0 or p_e = 1 (degenerate marginals).
    """
    cells = (
        df.where(f"({expr_a}) IS NOT NULL AND ({expr_b}) IS NOT NULL")
        .select(
            F.expr(f"CAST(({expr_a}) AS STRING)").alias("__a"),
            F.expr(f"CAST(({expr_b}) AS STRING)").alias("__b"),
        )
        .groupBy("__a", "__b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    tot = cells.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("__a") == F.col("__b"), F.col("cnt"))
                  .otherwise(F.lit(0))), F.lit(0)
        ).cast("long").alias("n_agree"),
    )
    ma = cells.groupBy(F.col("__a").alias("__k")).agg(
        F.sum("cnt").cast("long").alias("__ca"))
    mb = cells.groupBy(F.col("__b").alias("__k")).agg(
        F.sum("cnt").cast("long").alias("__cb"))
    pe = ma.join(mb, "__k").agg(
        F.expr(
            "CAST(coalesce(sum(CAST(__ca AS DECIMAL(20,0)) "
            "* CAST(__cb AS DECIMAL(18,0))), 0) AS DECIMAL(38,0))"
        ).alias("__pe_num")
    )
    po_d = "CAST(n_agree AS DOUBLE) / nullif(CAST(n AS DOUBLE), 0.0)"
    pe_d = ("CAST(__pe_num AS DOUBLE) / nullif(CAST(n AS DOUBLE) "
            "* CAST(n AS DOUBLE), 0.0)")
    return tot.crossJoin(pe).select(
        "n", "n_agree",
        F.expr(f"CAST(round(({po_d}) * 1000000.0) AS BIGINT)")
        .alias("po_micro"),
        F.expr(f"CAST(round(({pe_d}) * 1000000.0) AS BIGINT)")
        .alias("pe_micro"),
        F.expr(
            f"CAST(round((({po_d}) - ({pe_d})) "
            f"/ nullif(1.0 - ({pe_d}), 0.0) * 1000000.0) AS BIGINT)"
        ).alias("kappa_micro"),
        F.expr(
            f"CAST(round((({po_d}) - ({pe_d})) "
            f"/ nullif(1.0 - ({pe_d}), 0.0) * 1000000.0) AS BIGINT)"
            " / 1e6"
        ).cast("double").alias("kappa"),
    )


def gains_table(
    df: DataFrame,
    score_expr: str,
    label_expr: str,
    id_expr: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Cumulative-gains / lift table: rank rows by a score, cut them
    into ``n_buckets`` equal NTILE buckets, and report each bucket's
    response rate, lift over the base rate, and cumulative capture of
    all positives — the standard "is this score worth acting on"
    report (decile analysis) for screening quality/relevance scores
    before they gate a pipeline.  The top bucket of a useful score
    shows lift >> 1 and the capture curve rises far above the
    diagonal; a useless score pins every bucket's lift at ~1.

    Ranking is EXACT at any scale via :func:`~concept_multi_db_query_
    engine_spark.operators.insights.distributed_ntile` (range
    repartition + broadcast offsets — no single-partition global
    window), ordered by (score desc, id asc) so ties break on the
    unique ``id_expr`` and bucketing is partitioning-independent.
    Scores micro-quantize first; every rate is a fixed-order double
    over exact BIGINT counts, micro-quantized — cross-engine
    bit-stable and replayable by plain SQL ``ntile``.

    Returns ``n_buckets`` rows: (bucket, n, n_pos, response_rate,
    lift_micro, lift, cum_capture_micro, cum_capture), bucket 1 = the
    highest scores.
    """
    from pyspark.sql import Window

    from .insights import distributed_ntile

    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    scored = df.where(
        f"({score_expr}) IS NOT NULL AND ({label_expr}) IS NOT NULL"
    ).select(
        F.expr(
            f"CAST(round(CAST(({score_expr}) AS DOUBLE) * 1000000.0) "
            "AS BIGINT)"
        ).alias("__s"),
        F.expr(f"CAST(({label_expr}) AS INT)").alias("__y"),
        F.expr(f"({id_expr})").alias("__id"),
    )
    bucketed = distributed_ntile(
        scored,
        [F.col("__s").desc(), F.col("__id").asc()],
        n_buckets,
        out_col="bucket",
    )
    g = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__y").cast("long").alias("n_pos"),
    )
    w_cum = Window.orderBy(F.col("bucket").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tot = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = (
        g.withColumn("__cum_pos", F.sum("n_pos").over(w_cum).cast("long"))
        .withColumn("__nt", F.sum("n").over(w_tot).cast("long"))
        .withColumn("__pt", F.sum("n_pos").over(w_tot).cast("long"))
    )
    lift = (
        "CAST(round((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) "
        "/ nullif(CAST(__pt AS DOUBLE) / CAST(__nt AS DOUBLE), 0.0) "
        "* 1000000.0) AS BIGINT)"
    )
    cap = (
        "CAST(round(CAST(__cum_pos AS DOUBLE) "
        "/ nullif(CAST(__pt AS DOUBLE), 0.0) * 1000000.0) AS BIGINT)"
    )
    return staged.select(
        "bucket", "n", "n_pos",
        F.expr(
            "round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6)"
        ).alias("response_rate"),
        F.expr(lift).alias("lift_micro"),
        (F.expr(lift).cast("double") / 1e6).alias("lift"),
        F.expr(cap).alias("cum_capture_micro"),
        (F.expr(cap).cast("double") / 1e6).alias("cum_capture"),
    ).orderBy("bucket")


def target_encode_loo(
    df: DataFrame,
    cat_col: str,
    label_expr: str,
    id_col: str,
    smoothing: int = 20,
) -> DataFrame:
    """Leave-one-out target encoding with additive smoothing — the
    standard high-cardinality categorical feature for tabular models:
    each row's category is replaced by the category's label mean
    computed WITHOUT the row itself (killing the self-leakage that
    makes naive target encoding overfit), shrunk toward the global
    rate by ``smoothing`` pseudo-observations (rare categories
    collapse to the prior) ::

        enc = (k_g − y + m · p̄) / (n_g − 1 + m)

    ONE hash aggregate to the category frame (model data) + ONE keyed
    join back — no per-row windows, no corpus self-join; the global
    rate rides an unpartitioned window over the category frame.  The
    encoding is a fixed-order double over exact BIGINT counts,
    micro-quantized — deterministic at any partitioning.

    Returns (id, category, y, enc_micro, enc), ordered by id.
    """
    from pyspark.sql import Window

    if smoothing < 1:
        raise ValueError("smoothing must be >= 1")
    rows = df.where(
        f"({cat_col}) IS NOT NULL AND ({label_expr}) IS NOT NULL"
    ).select(
        F.expr(f"({id_col})").alias("id"),
        F.expr(f"CAST(({cat_col}) AS STRING)").alias("category"),
        F.expr(f"CAST(({label_expr}) AS INT)").alias("y"),
    )
    g = rows.groupBy("category").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("y").cast("long").alias("__k"),
    )
    w_tot = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    g = g.select(
        "category", "__n", "__k",
        F.sum("__n").over(w_tot).cast("long").alias("__nt"),
        F.sum("__k").over(w_tot).cast("long").alias("__kt"),
    )
    enc = (
        f"CAST(round((CAST(__k AS DOUBLE) - CAST(y AS DOUBLE) "
        f"+ {smoothing}.0d * (CAST(__kt AS DOUBLE) "
        "/ nullif(CAST(__nt AS DOUBLE), 0.0))) "
        f"/ nullif(CAST(__n AS DOUBLE) - 1.0d + {smoothing}.0d, 0.0) "
        "* 1000000.0) AS BIGINT)"
    )
    return (
        rows.join(g, "category")
        .select(
            "id", "category", "y",
            F.expr(enc).alias("enc_micro"),
        )
        .withColumn("enc", F.col("enc_micro").cast("double") / 1e6)
        .orderBy("id")
    )


def sliced_accuracy_report(
    df: DataFrame,
    slice_col: str,
    pred_expr: str,
    truth_expr: str,
    z_micro: int = 1_959_964,
) -> DataFrame:
    """Per-slice accuracy with Wilson score intervals — the model-card
    staple: a 92% overall accuracy means nothing if one slice sits at
    60%, and small slices need intervals, not point estimates (Wilson
    stays inside [0,1] and behaves at n small or p extreme, unlike the
    normal approximation).

        center = (p + z²/2n) / (1 + z²/n)
        half   = z·sqrt(p(1−p)/n + z²/4n²) / (1 + z²/n)

    ONE conditional aggregation to the slice frame (exact counts);
    the interval is a fixed-order double expression over them — sqrt
    is correctly rounded everywhere, z arrives as integer micros, and
    the outputs micro-quantize, so the report is cross-engine
    bit-stable.  Returns one row per slice: (slice, n, n_correct,
    acc, wilson_lo, wilson_hi), ordered by slice.
    """
    if z_micro < 1:
        raise ValueError("z_micro must be >= 1")
    g = (
        df.where(
            f"({slice_col}) IS NOT NULL AND ({pred_expr}) IS NOT NULL "
            f"AND ({truth_expr}) IS NOT NULL"
        )
        .groupBy(F.expr(f"CAST(({slice_col}) AS STRING)").alias("slice"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.expr(
                f"CAST(sum(CASE WHEN ({pred_expr}) = ({truth_expr}) "
                "THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_correct"),
        )
    )
    z = f"(CAST({z_micro} AS DOUBLE) / 1000000.0)"
    p = "(CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE))"
    nn = "CAST(n AS DOUBLE)"
    denom = f"(1.0 + {z} * {z} / {nn})"
    center = f"(({p} + {z} * {z} / (2.0 * {nn})) / {denom})"
    half = (
        f"({z} * sqrt({p} * (1.0 - {p}) / {nn} "
        f"+ {z} * {z} / (4.0 * {nn} * {nn})) / {denom})"
    )
    return g.select(
        "slice", "n", "n_correct",
        F.expr(
            f"CAST(round({p} * 1000000.0) AS BIGINT) / 1e6"
        ).cast("double").alias("acc"),
        F.expr(
            f"CAST(round(({center} - {half}) * 1000000.0) AS BIGINT) "
            "/ 1e6"
        ).cast("double").alias("wilson_lo"),
        F.expr(
            f"CAST(round(({center} + {half}) * 1000000.0) AS BIGINT) "
            "/ 1e6"
        ).cast("double").alias("wilson_hi"),
    ).orderBy("slice")


def threshold_sweep(
    df: DataFrame,
    score_expr: str,
    label_expr: str,
    n_thresholds: int = 19,
) -> DataFrame:
    """Operating-point table: precision, recall, and F1 at each of
    ``n_thresholds`` score-quantile cutoffs (predict positive when
    ``score >= t``) — the artifact you actually read to PICK the
    threshold after the AUC said the score works.  Quantile cutoffs
    mean every row of the table sits at a real operating point with
    meaningful support, not at arbitrary round numbers.

    ONE scan to the micro-quantized score-group frame (exact per-score
    label counts); thresholds come from the exact global quantile grid
    (:func:`~concept_multi_db_query_engine_spark.operators.analytics.
    distributed_group_quantiles`, unrounded) and ride a broadcast;
    the groups×thresholds conditional aggregate is model-sized.  All
    rates are fixed-order doubles over exact BIGINTs, micro-quantized.

    Returns one row per DISTINCT threshold: (threshold, n_pred_pos,
    tp, fp, fn, precision, recall, f1), ordered by threshold.
    """
    from .analytics import distributed_group_quantiles

    if n_thresholds < 1:
        raise ValueError("n_thresholds must be >= 1")
    scored = df.where(
        f"({score_expr}) IS NOT NULL AND ({label_expr}) IS NOT NULL"
    ).select(
        F.expr(
            f"CAST(round(CAST(({score_expr}) AS DOUBLE) * 1000000.0) "
            "AS BIGINT)"
        ).alias("__s"),
        F.expr(f"CAST(({label_expr}) AS INT)").alias("__y"),
    )
    groups = scored.groupBy("__s").agg(
        F.expr("CAST(sum(CASE WHEN __y = 1 THEN 1 ELSE 0 END) "
               "AS BIGINT)").alias("__n1"),
        F.expr("CAST(sum(CASE WHEN __y = 0 THEN 1 ELSE 0 END) "
               "AS BIGINT)").alias("__n0"),
    ).localCheckpoint(eager=True)
    probs = [i / (n_thresholds + 1) for i in range(1, n_thresholds + 1)]
    grid = distributed_group_quantiles(
        scored.select(F.lit(0).alias("__g"),
                      F.col("__s").cast("double").alias("__v")),
        "__g", "__v", probs, round_to=None,
    ).select(
        # thresholds round to exact BIGINT micros: the scores are micro
        # ints, so integer comparison kills the 1-ULP interpolation
        # divergence between engines' quantile formulas (grid steps are
        # multiples of 1e6 — no .5 rounding boundaries exist)
        F.expr(
            "transform(array("
            + ", ".join(f"q{j}" for j in range(len(probs)))
            + "), q -> CAST(round(q) AS BIGINT))"
        ).alias("__ts")
    )
    totals = groups.agg(
        F.sum("__n1").cast("long").alias("__p"),
        F.sum("__n0").cast("long").alias("__n"),
    )
    per_t = (
        groups.crossJoin(F.broadcast(grid))
        .select("__s", "__n1", "__n0",
                F.explode("__ts").alias("threshold"))
        .groupBy("threshold")
        .agg(
            F.sum(F.expr("CASE WHEN __s >= threshold "
                         "THEN __n1 ELSE 0 END"))
            .cast("long").alias("tp"),
            F.sum(F.expr("CASE WHEN __s >= threshold "
                         "THEN __n0 ELSE 0 END"))
            .cast("long").alias("fp"),
        )
        .crossJoin(F.broadcast(totals))
    )
    prec = "CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0.0)"
    rec = "CAST(tp AS DOUBLE) / nullif(CAST(__p AS DOUBLE), 0.0)"
    return per_t.select(
        (F.col("threshold").cast("double") / 1e6).alias("threshold"),
        (F.col("tp") + F.col("fp")).cast("long").alias("n_pred_pos"),
        "tp", "fp",
        (F.col("__p") - F.col("tp")).cast("long").alias("fn"),
        F.expr(f"CAST(round(({prec}) * 1000000.0) AS BIGINT) / 1e6")
        .cast("double").alias("precision"),
        F.expr(f"CAST(round(({rec}) * 1000000.0) AS BIGINT) / 1e6")
        .cast("double").alias("recall"),
        F.expr(
            f"CAST(round(2.0 * ({prec}) * ({rec}) "
            f"/ nullif(({prec}) + ({rec}), 0.0) * 1000000.0) "
            "AS BIGINT) / 1e6"
        ).cast("double").alias("f1"),
    ).orderBy("threshold")
